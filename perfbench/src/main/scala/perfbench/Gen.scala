package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.Row

import graft.sources.OcfFormat

/** One Kafka-shaped record as the generator emits it. `tsUs` is the
  * event time in epoch microseconds; `offset` counts per partition.
  */
final case class Rec(key: String, value: String, partition: Int,
                     offset: Long, tsUs: Long) {
  def tokens: Int = value.count(_ == ' ') + 1
  def row: Row = Row(key.getBytes(UTF_8), value.getBytes(UTF_8),
    Gen.Topic, partition, offset, new java.sql.Timestamp(tsUs / 1000L),
    0)
}

/** The single-threaded, seeded generator behind every workload: the same
  * seed always yields the same records and tables.
  *
  * Records: 8 partitions, 8 to 12 tokens per record drawn from a Zipf(1)
  * law over a fixed vocabulary, event time increasing with offset.
  */
final class Gen(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private val words: Array[String] =
    Array.tabulate(Gen.Vocab)(r => "w" + Integer.toString(r, 36))
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Gen.Vocab)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val nextOffset = Array.fill(Gen.Partitions)(0L)

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    words(math.min(if (i >= 0) i else -i - 1, Gen.Vocab - 1))
  }

  /** Draws one record's key and text; the caller fixes its event time. */
  private def draw(): (Int, String, String) = {
    val user = rng.nextInt(Gen.Users)
    val n = 8 + rng.nextInt(5)
    val sb = new StringBuilder(word())
    var i = 1
    while (i < n) { sb.append(' ').append(word()); i += 1 }
    (user % Gen.Partitions, "u" + user, sb.toString)
  }

  private def rec(p: Int, key: String, text: String, tsUs: Long): Rec = {
    val r = Rec(key, text, p, nextOffset(p), tsUs)
    nextOffset(p) += 1
    r
  }

  /** `n` records in arrival order, `stepUs` apart in event time. */
  def backlog(n: Int, stepUs: Long): IndexedSeq[Rec] =
    (0 until n).map { i =>
      val (p, k, t) = draw()
      rec(p, k, t, Gen.BaseUs + i * stepUs)
    }

  /** Tick `k` of `n` records, grouped per partition, its event times
    * from `startUs + k * tickUs` on. Event time increases in (tick,
    * partition, position) order, so a trigger that sees a prefix of the
    * tick's containers never sees a later record before an earlier one.
    */
  def tick(k: Int, n: Int, tickUs: Long,
           startUs: Long): IndexedSeq[IndexedSeq[Rec]] = {
    val drawn = IndexedSeq.fill(n)(draw()).sortBy(_._1)
    val step = tickUs / n
    val recs = drawn.zipWithIndex.map { case ((p, key, t), i) =>
      rec(p, key, t, startUs + k * tickUs + i * step)
    }
    val byPart = recs.groupBy(_.partition)
    (0 until Gen.Partitions).map(p => byPart.getOrElse(p, IndexedSeq.empty))
  }
}

object Gen {
  val Topic = "words"
  val Partitions = 8
  val Vocab = 50000
  val Users = 10000
  /** 2023-11-14T22:13:20Z: any fixed epoch works; this one is round. */
  val BaseUs = 1700000000000000L

  /** A plain Avro container in the store's record layout, as a producer
    * outside Spark would write it (no commit manifest).
    */
  def container(recs: Seq[Rec]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](OcfFormat.schema))
    w.create(OcfFormat.schema, out)
    recs.foreach { r =>
      val g = new GenericData.Record(OcfFormat.schema)
      g.put("key", ByteBuffer.wrap(r.key.getBytes(UTF_8)))
      g.put("value", ByteBuffer.wrap(r.value.getBytes(UTF_8)))
      g.put("topic", Topic)
      g.put("partition", r.partition)
      g.put("offset", r.offset)
      g.put("timestamp_us", r.tsUs)
      g.put("timestamp_type", 0)
      w.append(g)
    }
    w.close()
    out.toByteArray
  }
}
