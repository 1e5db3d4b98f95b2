package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.SparkSuite
import graft.engine.Monitoring
import graft.streaming.{CommitLogSink, CommitLogStream}

/** Read-task planning and what a task carries: a micro-batch over many
  * small containers packs them into at most one task per core, the
  * reader and writer factories ship the Hadoop conf by broadcast
  * handle, and runtime filtering offers only columns the scan outputs.
  */
class OcfPlanningSpec extends SparkSuite {

  private def hconf = new SerializableConfiguration(
    spark.sessionState.newHadoopConf())

  /** `containers` containers of `per` records each, installed by one
    * streaming-epoch commit; every container holds all four Kafka
    * partitions.
    */
  private def smallContainers(dir: String, containers: Int,
                              per: Int): Unit = {
    val write = new OcfStreamingWrite(dir, "q", hconf)
    val factory = write.createStreamingWriterFactory(null)
    val msgs = (0 until containers).map { c =>
      val w = factory.createWriter(c, c.toLong, 0L)
      (c * per until (c + 1) * per).foreach { i =>
        w.write(InternalRow(null, s"v$i".getBytes("UTF-8"),
          org.apache.spark.unsafe.types.UTF8String.fromString("events"),
          i % 4, i.toLong, 1767261600000000L + i * 1000000L, 0))
      }
      val m = w.commit(); w.close(); m
    }
    write.commit(0L, msgs.toArray)
  }

  private val withMeta = StructType(OcfFormat.sparkSchema.fields ++ Seq(
    StructField(OcfFormat.ContainerCol, StringType, nullable = false),
    StructField(OcfFormat.PosCol, LongType, nullable = false)))

  // the serializer task binaries go through
  private def javaSer =
    new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf)
      .newInstance()
  private def javaBytes(o: AnyRef): Int = javaSer.serialize(o).remaining()

  test("a micro-batch over many small containers plans at most " +
    "defaultParallelism read tasks, each record read once with its " +
    "lineage") {
    val dir = tmpDir("ocf_pack")
    val containers = 24
    val per = 25
    smallContainers(dir, containers, per)
    val cores = spark.sparkContext.defaultParallelism
    assert(containers > 2 * cores)
    // ground truth: the batch scan reads one range per container
    val truth = spark.read.format("graft-ocf").load(dir)
      .select(col("offset"), col("_container"), col("_pos")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(truth.size == containers * per)

    val ms = new OcfMicroBatchStream(Seq(dir), None, hconf, withMeta)
    try {
      val head = ms.latestOffset().asInstanceOf[OcfOffset]
      // a full trigger, and one resuming mid-container (admission
      // slices start mid-block)
      for (skip <- Seq(0L, 9L)) {
        val start = OcfOffset(head.counts.map { case (k, _) => k -> skip })
        val parts = ms.planInputPartitions(start, head)
        assert(parts.length <= cores,
          s"${parts.length} read tasks for $containers containers")
        assert(parts.exists(_.isInstanceOf[OcfRangeGroup]))
        val factory = ms.createReaderFactory()
        val rows = Seq.newBuilder[(Int, Long, String, Long)]
        val metrics = Array.fill(3)(0L)
        parts.foreach { p =>
          val rd = factory.createReader(p)
          try {
            while (rd.next()) {
              val r = rd.get()
              rows += ((r.getInt(3), r.getLong(4), r.getUTF8String(7).toString,
                r.getLong(8)))
            }
            val m = rd.currentMetricsValues().map(m => m.name -> m.value).toMap
            metrics(0) += m("containersOpened")
            metrics(1) += m("recordsSkipped")
            metrics(2) += m("recordsDecoded")
          } finally rd.close()
        }
        val got = rows.result()
        val want = truth.filter(_._2._2 >= skip)
        assert(got.map(r => (r._1, r._2)).distinct.size == got.size,
          "a (partition, offset) was read twice")
        assert(got.map(_._2).toSet == want.keySet)
        assert(got.forall(r => r._1 == (r._2 % 4).toInt &&
          want(r._2) == ((r._3, r._4))), "_container/_pos drifted")
        // one Avro block per small container: reaching a mid-block
        // start decodes the records before it, so every record decodes
        assert(metrics.toSeq == Seq(containers.toLong, 0L,
          (containers * per).toLong))
      }
    } finally ms.stop()
  }

  test("reader and writer factories stay a few KB however large the " +
    "Hadoop conf is") {
    val dir = tmpDir("ocf_conf_size")
    smallContainers(dir, 2, 10)
    val big = spark.sessionState.newHadoopConf()
    (0 until 20000).foreach(i => big.set(s"graft.test.pad.$i", "x" * 32))
    val conf = new SerializableConfiguration(big)
    assert(javaBytes(conf) > 500000)
    val limit = 8 * 1024

    val scan = new OcfScanBuilder(dir, None, conf).build()
    val batchFactory = scan.toBatch.createReaderFactory()
    val ms = new OcfMicroBatchStream(dir, None, conf,
      OcfFormat.sparkSchema, Array.empty)
    try {
      val streamFactory = ms.createReaderFactory()
      val batchWrite = new OcfBatchWrite(tmpDir("ocf_conf_size_w"), false,
        "q", conf)
      val writers = Seq(batchWrite.createBatchWriterFactory(null),
        new OcfStreamingWrite(dir, "q", conf)
          .createStreamingWriterFactory(null))
      for (f <- Seq(batchFactory, streamFactory) ++ writers)
        assert(javaBytes(f) < limit,
          s"${f.getClass.getSimpleName} is ${javaBytes(f)} bytes")
      batchWrite.abort(Array.empty)
      // a deserialized factory still reads: the executor resolves the
      // broadcast handle
      val copy = javaSer.deserialize[OcfReaderFactory](
        javaSer.serialize(streamFactory))
      val parts = ms.planInputPartitions(ms.initialOffset(),
        ms.latestOffset())
      val n = parts.map { p =>
        val rd = copy.createReader(p)
        try { var c = 0; while (rd.next()) c += 1; c } finally rd.close()
      }.sum
      assert(n == 20)
    } finally ms.stop()
  }

  test("lagReport joins a raw graft-ocf scan with a commit log") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ocf_lag_dpp")
    // one container holding every partition: the scan is not
    // key-grouped, so it offers runtime filter columns
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .select(col("id").cast("string").cast("binary").as("key"),
        col("v").cast("binary").as("value"), lit("events").as("topic"),
        (col("id") % 4).cast("int").as("partition"), col("id").as("offset"),
        lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("timestamp"),
        lit(0).as("timestampType"))
      .coalesce(1)
      .write.format("graft-ocf").option("layout", "presorted")
      .mode("overwrite").save(dir)
    val kafka: DataFrame = s.read.format("graft-ocf").load(dir)
    val log = tmpDir("ocf_lag_dpp_log")
    new CommitLogSink(s, "c", log).apply(kafka.filter(col("offset") < 60), 0L)
    val lag = Monitoring.lagReport(kafka,
        CommitLogStream.committedOffsets(s, log)
          .select(col("partition"), col("committed_offset").as("offset")))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // heads 96+p, committed 56+p
    assert(lag == (0 until 4).map(_.toLong -> 40L).toMap, s"got $lag")
  }
}
