package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** TIME TRAVEL on the graft-ocf store: every commit logs a
  * `_snapshot-<millis>-<nonce>.list` of the live containers, and a
  * batch read with `timestampAsOf` pins itself to the latest snapshot
  * at-or-before the timestamp — the reproducible-training-run read
  * (re-run last week's job against last week's store). Rewrites keep
  * their retired generation as hidden `.stale` files under
  * `keepRetired=true`, so pre-rewrite snapshots stay servable until
  * vacuum's age gate — the time-travel retention window.
  */
class OcfTimeTravelSpec extends SparkSuite {

  private def kafkaDf(from: Int, until: Int,
                      ts: String = "2026-01-01 10:00:00"): DataFrame = {
    val s = spark
    import s.implicits._
    (from until until).map(i => (i.toLong, s"payload_$i"))
      .toDF("id", "props").select(
        col("id").cast("string").cast("binary").as("key"),
        col("props").cast("binary").as("value"),
        lit("events").as("topic"),
        (col("id") % 4).cast("int").as("partition"),
        col("id").as("offset"),
        lit(Timestamp.valueOf(ts)).as("timestamp"),
        lit(0).as("timestampType"))
  }

  private def readAsOf(dir: String, t: Long): DataFrame =
    spark.read.format("graft-ocf")
      .option("timestampAsOf", t.toString).load(dir)

  test("timestampAsOf pins an append-only history to each commit") {
    val dir = tmpDir("ocf_tt_append")
    val t0 = System.currentTimeMillis() - 10
    kafkaDf(0, 100).write.format("graft-ocf").mode("overwrite").save(dir)
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    kafkaDf(100, 150).write.format("graft-ocf").mode("append").save(dir)
    val t2 = System.currentTimeMillis()

    assert(readAsOf(dir, t1).count() == 100,
      "as-of the first commit sees only its generation")
    assert(readAsOf(dir, t2).count() == 150)
    assert(spark.read.format("graft-ocf").load(dir).count() == 150)
    // offsets of the pinned read are exactly the first generation's
    val offs = readAsOf(dir, t1).select("offset").collect()
      .map(_.getLong(0)).toSet
    assert(offs == (0L until 100L).toSet)
    // before the first commit: loud error, never an empty frame
    val e = intercept[IllegalArgumentException] {
      readAsOf(dir, t0).count()
    }
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
  }

  test("keepRetired rewrites keep pre-rewrite snapshots servable; " +
    "without it the horizon closes at the rewrite") {
    val dir = tmpDir("ocf_tt_rewrite")
    kafkaDf(0, 80).write.format("graft-ocf").mode("overwrite").save(dir)
    Thread.sleep(25)
    kafkaDf(80, 120).write.format("graft-ocf").mode("append").save(dir)
    val preCompact = System.currentTimeMillis()
    Thread.sleep(25)
    OcfMaintenance.compact(spark, dir, keepRetired = true)
    // current read serves the compacted generation
    assert(spark.read.format("graft-ocf").load(dir).count() == 120)
    // pre-compact snapshot resurrects the retired containers
    assert(readAsOf(dir, preCompact).count() == 120)
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".stale")),
      "keepRetired must leave hidden retirees")

    // the same flow WITHOUT keepRetired: retirees are deleted, the
    // pre-rewrite snapshot is beyond the horizon
    val dir2 = tmpDir("ocf_tt_rewrite2")
    kafkaDf(0, 60).write.format("graft-ocf").mode("overwrite").save(dir2)
    val pre2 = System.currentTimeMillis()
    Thread.sleep(25)
    OcfMaintenance.compact(spark, dir2)
    val e = intercept[IllegalStateException] {
      readAsOf(dir2, pre2).count()
    }
    assert(e.getMessage.contains("time-travel horizon"), e.getMessage)
  }

  test("vacuum's age gate closes the time-travel window and prunes " +
    "expired snapshots (newest always survives)") {
    val dir = tmpDir("ocf_tt_vacuum")
    kafkaDf(0, 50).write.format("graft-ocf").mode("overwrite").save(dir)
    val pre = System.currentTimeMillis()
    Thread.sleep(25)
    OcfMaintenance.compact(spark, dir, keepRetired = true)
    assert(readAsOf(dir, pre).count() == 50)
    // a NEGATIVE age gate puts the horizon in the future: everything
    // retired-or-expired goes, including the pre-compact snapshot
    OcfMaintenance.vacuum(spark, dir, olderThanMs = -60000)
    intercept[Exception] { readAsOf(dir, pre).count() }
    val snaps = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("_snapshot-") && n.endsWith(".list"))
    assert(snaps.length == 1, s"newest snapshot survives: ${snaps.toSeq}")
    // and the store still reads correctly at the head
    assert(spark.read.format("graft-ocf").load(dir).count() == 50)
  }

  test("retention logs a post-expiry snapshot so as-of-now excludes " +
    "expired containers") {
    val dir = tmpDir("ocf_tt_retain")
    kafkaDf(0, 40, ts = "2026-01-01 10:00:00").write
      .format("graft-ocf").mode("overwrite").save(dir)
    Thread.sleep(25)
    kafkaDf(40, 70, ts = "2026-02-01 10:00:00").write
      .format("graft-ocf").mode("append").save(dir)
    Thread.sleep(25)
    val cutUs = Timestamp.valueOf("2026-01-15 00:00:00").getTime * 1000
    val (nDel, _) = OcfMaintenance.retain(spark, dir, cutUs)
    assert(nDel > 0)
    Thread.sleep(5)
    assert(readAsOf(dir, System.currentTimeMillis()).count() == 30,
      "the post-retention snapshot excludes expired containers")
  }

  test("timestampAsOf composes with multi-store reads: each store " +
    "resolves its own snapshot") {
    val a = tmpDir("ocf_tt_multi_a")
    val b = tmpDir("ocf_tt_multi_b")
    kafkaDf(0, 40).write.format("graft-ocf").mode("overwrite").save(a)
    kafkaDf(100, 130).write.format("graft-ocf").mode("overwrite").save(b)
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    kafkaDf(40, 60).write.format("graft-ocf").mode("append").save(a)
    val got = spark.read.format("graft-ocf")
      .option("timestampAsOf", t1.toString).load(a, b)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(got == ((0L until 40L) ++ (100L until 130L)).toSet,
      "each store pinned to its own t1 snapshot")
    assert(spark.read.format("graft-ocf").load(a, b).count() == 90)
  }

  test("streaming epochs log snapshots: timestampAsOf pins to any " +
    "committed epoch boundary") {
    val dir = tmpDir("ocf_tt_epochs")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    def rows(from: Int, until: Int) = (from until until).map { i =>
      org.apache.spark.sql.catalyst.InternalRow(
        null, s"v$i".getBytes("UTF-8"),
        org.apache.spark.unsafe.types.UTF8String.fromString("events"),
        i % 4, i.toLong, 1767261600000000L + i * 1000000L, 0)
    }
    def epoch(sw: OcfStreamingWrite, id: Long, from: Int,
              until: Int): Unit = {
      val w = OcfStreamingWriterFactory(dir, "qtt",
          spark.sparkContext.broadcast(conf))
        .createWriter(0, 0L, id)
      rows(from, until).foreach(w.write)
      val msg = w.commit(); w.close()
      sw.commit(id, Array(msg))
    }
    val sw = new OcfStreamingWrite(dir, "qtt", conf)
    epoch(sw, 0L, 0, 30)
    val t0 = System.currentTimeMillis()
    Thread.sleep(25)
    epoch(sw, 1L, 30, 70)
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    epoch(sw, 2L, 70, 100)
    assert(readAsOf(dir, t0).count() == 30,
      "as-of epoch 0's commit sees only epoch 0")
    assert(readAsOf(dir, t1).count() == 70)
    assert(spark.read.format("graft-ocf").load(dir).count() == 100)
  }

  test("changes(from, to) is the snapshot container diff: exactly the " +
      "appends in the window, empty on an empty window") {
    val dir = tmpDir("ocf_cdf")
    kafkaDf(0, 100).write.format("graft-ocf").mode("overwrite").save(dir)
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    kafkaDf(100, 150).write.format("graft-ocf").mode("append").save(dir)
    val t2 = System.currentTimeMillis()
    Thread.sleep(25)
    kafkaDf(150, 170).write.format("graft-ocf").mode("append").save(dir)
    val t3 = System.currentTimeMillis()

    // PROOF the restriction prunes at listing time: trash the bytes
    // of every container OUTSIDE the windows below — if the CDF read
    // ever opened them, it would die on the garbage
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    OcfStore.snapshotAt(dir, conf, t1).foreach { name =>
      val p = new org.apache.hadoop.fs.Path(dir, name)
      val out = fs.create(p, true)
      try out.write("not an avro container".getBytes) finally out.close()
    }

    def offsets(df: DataFrame) =
      df.select(col("offset")).collect().map(_.getLong(0)).toSet
    assert(offsets(OcfMaintenance.changes(spark, dir, t1, t2)) ==
      (100L until 150L).toSet, "window (t1, t2] is the second write")
    assert(offsets(OcfMaintenance.changes(spark, dir, t1, t3)) ==
      (100L until 170L).toSet, "window (t1, t3] spans both appends")
    assert(OcfMaintenance.changes(spark, dir, t2, t2).count() == 0,
      "an empty window diffs to nothing")
    // records, not just counts: payloads survive the pinned read
    val vals = OcfMaintenance.changes(spark, dir, t2, t3)
      .select(col("value").cast("string")).collect().map(_.getString(0))
      .toSet
    assert(vals == (150 until 170).map(i => s"payload_$i").toSet)
  }

  test("timestampAsOf is batch-only and excludes the ts-slice options") {
    val dir = tmpDir("ocf_tt_guard")
    kafkaDf(0, 10).write.format("graft-ocf").mode("overwrite").save(dir)
    val now = System.currentTimeMillis()
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("graft-ocf")
        .option("timestampAsOf", now.toString)
        .option("startingTimestamp", "0")
        .load(dir).count()
    }
    assert(e1.getMessage.contains("do not compose"), e1.getMessage)
    val q = spark.readStream.format("graft-ocf")
      .option("timestampAsOf", now.toString).load(dir)
      .writeStream.format("memory").queryName("tt_stream_probe")
      .option("checkpointLocation", tmpDir("tt_ckpt"))
      .start()
    val e2 = intercept[Exception] {
      q.processAllAvailable()
    }
    try assert(e2.getMessage != null, "stream with timestampAsOf fails")
    finally q.stop()
  }
}
