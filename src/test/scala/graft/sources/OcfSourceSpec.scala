package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.engine.KafkaShape

/** S1/S2/S5/S8/S10 — the graft-ocf DataSourceV2 contract:
  *  - batch write → batch read round-trips the 7-column Kafka frame
  *  - the V2 commit protocol leaves no temp files and clusters rows by
  *    partition, offset-ordered within each container
  *  - the MicroBatchStream slices the backlog into offset-range
  *    microbatches under maxRecordsPerTrigger (S5)
  *  - a restarted query resumes from the checkpointed offset and
  *    consumes ONLY records appended after the first run (S10)
  */
class OcfSourceSpec extends SparkSuite {

  private def kafkaDf(from: Int, until: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (from until until).map { i =>
      (i.toLong, s"payload_$i")
    }.toDF("id", "props").select(
      col("id").cast("string").cast("binary").as("key"),
      col("props").cast("binary").as("value"),
      lit("events").as("topic"),
      (col("id") % 4).cast("int").as("partition"),
      col("id").as("offset"),
      lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("timestamp"),
      lit(0).as("timestampType"))
  }

  test("batch write -> batch read round-trips the Kafka frame") {
    val dir = tmpDir("ocf_store")
    kafkaDf(0, 200).write.format("graft-ocf").mode("overwrite").save(dir)
    val back = spark.read.format("graft-ocf").load(dir)
    assert(back.schema == KafkaShape.schema)
    val got = KafkaShape.decodeUtf8(back)
      .select("key_str", "value_str", "kpartition", "koffset")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = (0 until 200).map(i =>
      (i.toString, s"payload_$i", (i % 4).toLong, i.toLong)).toSet
    assert(got == want)

    // commit protocol hygiene: only committed containers and the
    // commit-time stats manifest remain (plus Hadoop LocalFileSystem's
    // hidden .crc sidecars) — no temp files — and each container holds
    // offset-ordered runs (RequiresDistributionAndOrdering)
    val all = new java.io.File(dir).listFiles().map(_.getName).toSeq
      .filterNot(_.startsWith("."))
    val files = all.filter(_.endsWith(".ocf"))
    assert(files.nonEmpty && all.forall(f => f.endsWith(".ocf") ||
      (f.startsWith("_manifest-") && f.endsWith(".ndjson")) ||
      (f.startsWith("_snapshot-") && f.endsWith(".list"))),
      s"stray files: $all")
    assert(all.exists(_.startsWith("_manifest-")),
      "commit must install a stats manifest")
    files.foreach { f =>
      val s = new org.apache.avro.file.DataFileStream(
        new java.io.FileInputStream(s"$dir/$f"),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try {
        val recs = Iterator.continually(s)
          .takeWhile(_.hasNext).map(_.next())
          .map(r => (r.get("partition").asInstanceOf[Int],
            r.get("offset").asInstanceOf[Long])).toSeq
        recs.groupBy(_._1).foreach { case (_, rs) =>
          val offs = rs.map(_._2)
          assert(offs == offs.sorted,
            s"offsets not ordered within container $f")
        }
      } finally s.close()
    }
  }

  test("overwrite truncates previously committed containers") {
    val dir = tmpDir("ocf_trunc")
    kafkaDf(0, 100).write.format("graft-ocf").mode("overwrite").save(dir)
    kafkaDf(500, 550).write.format("graft-ocf").mode("overwrite").save(dir)
    val offsets = spark.read.format("graft-ocf").load(dir)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(offsets == (500L until 550L).toSet)
  }

  test("S5: maxRecordsPerTrigger slices the backlog into microbatches") {
    val s = spark
    val dir = tmpDir("ocf_stream")
    kafkaDf(0, 300).write.format("graft-ocf").mode("overwrite").save(dir)
    val q = s.readStream.format("graft-ocf")
      .option("maxRecordsPerTrigger", "100")
      .load(dir)
      .writeStream.format("memory").queryName("ocf_batches")
      .option("checkpointLocation", tmpDir("ocf_ckpt"))
      .start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(s.table("ocf_batches").count() == 300)
    assert(nBatches >= 3,
      s"300 rows at 100/trigger must take >= 3 microbatches, got $nBatches")
    val got = s.table("ocf_batches").select("offset").collect()
      .map(_.getLong(0)).toSet
    assert(got == (0L until 300L).toSet, "no loss, no duplication")
  }

  test("A1 over the real connector: word count on a graft-ocf stream " +
      "equals the batch result") {
    // the swap-the-source contract: the SAME downstream pipeline
    // (decode -> tokenize -> windowed count) runs unchanged whether the
    // source is MemoryStream (StreamingEquivalenceSpec) or the real
    // DataSourceV2 connector
    val s = spark
    import s.implicits._
    val dir = tmpDir("ocf_wc")
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime
    val kafka = (0 until 300).map { i =>
      (i.toLong, s"alpha beta_${i % 5} gamma_${i % 3}")
    }.toDF("id", "props").select(
      col("id").cast("string").cast("binary").as("key"),
      col("props").cast("binary").as("value"),
      lit("events").as("topic"),
      (col("id") % 4).cast("int").as("partition"),
      col("id").as("offset"),
      to_timestamp(from_unixtime(lit(base / 1000) + col("id") * 7))
        .as("timestamp"),
      lit(0).as("timestampType"))
    kafka.write.format("graft-ocf").mode("overwrite").save(dir)

    val q = graft.streaming.StreamingPipelines.wordCountStream(
        s.readStream.format("graft-ocf")
          .option("maxRecordsPerTrigger", "75").load(dir),
        "10 minutes", Some("2 minutes"))
      .writeStream.format("memory").queryName("ocf_wc")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("ocf_wc_ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()

    val expected = graft.ops.StreamOps.wordCountWindow(
        KafkaShape.decodeUtf8(kafka), "10 minutes", Some("2 minutes"))
      .orderBy("w_start", "word").collect().toSeq
    val got = s.table("ocf_wc").orderBy("w_start", "word").collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("S10: restart resumes from the checkpointed offset, no replay") {
    val s = spark
    val dir = tmpDir("ocf_recover")
    val ckpt = tmpDir("ocf_recover_ckpt")
    kafkaDf(0, 80).write.format("graft-ocf").mode("overwrite").save(dir)

    // memory sink cannot recover a checkpoint — collect via
    // foreachBatch, which participates in the recovery protocol
    def run(): Seq[Long] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = s.readStream.format("graft-ocf").load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("offset").collect().foreach(r => buf.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSeq
    }
    val first = run()
    assert(first.toSet == (0L until 80L).toSet)

    // append a second generation of containers, then restart on the
    // SAME checkpoint: only the appended records may arrive
    kafkaDf(80, 120).write.format("graft-ocf").mode("append").save(dir)
    val second = run()
    assert(second.toSet == (80L until 120L).toSet,
      s"restart must consume exactly the appended records, got " +
        s"${second.size} rows")
  }

  // ---- pushdown: column pruning + stats-manifest file pruning ----

  /** A store laid out so files are discriminable by stats: partition
    * p holds exactly offsets [p*50, (p+1)*50) and timestamps advance
    * with the offset — so partition/offset/timestamp predicates each
    * prove some files irrelevant.
    */
  private def stratifiedStore(dir: String): Unit = {
    val s = spark
    import s.implicits._
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime / 1000
    // one commit per partition: four containers, each with disjoint
    // partition/offset/timestamp stats (AQE would coalesce a single
    // 200-row write into one file, leaving nothing to prune)
    for (p <- 0 until 4) {
      (p * 50 until (p + 1) * 50)
        .map(i => (i.toLong, s"payload_$i")).toDF("id", "props")
        .select(
          col("id").cast("string").cast("binary").as("key"),
          col("props").cast("binary").as("value"),
          lit("events").as("topic"),
          lit(p).cast("int").as("partition"),
          col("id").as("offset"),
          to_timestamp(from_unixtime(lit(base) + col("id") * 60))
            .as("timestamp"),
          lit(0).as("timestampType"))
        .write.format("graft-ocf")
        .mode(if (p == 0) "overwrite" else "append").save(dir)
    }
  }

  private def hconf = new org.apache.spark.util.SerializableConfiguration(
    spark.sessionState.newHadoopConf())

  private def planFiles(dir: String,
      filters: Array[org.apache.spark.sql.sources.Filter],
      required: org.apache.spark.sql.types.StructType =
        OcfFormat.sparkSchema): Seq[OcfSlice] = {
    val b = new OcfScanBuilder(dir, None, hconf)
    b.pruneColumns(required)
    b.pushFilters(filters)
    b.build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[OcfSlice]).toSeq
  }

  test("pushdown (a): pruned scan reads only required columns") {
    val dir = tmpDir("ocf_prune_cols")
    stratifiedStore(dir)
    val df = spark.read.format("graft-ocf").load(dir)
      .select("partition", "offset")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }
    assert(scans.nonEmpty, "expected a DSv2 BatchScanExec")
    assert(scans.head.readSchema().fieldNames.toSeq ==
      Seq("partition", "offset"),
      s"scan not pruned: ${scans.head.readSchema()}")
    assert(scans.head.description().contains("columns=[partition,offset]"))
    // the pruned Avro reader schema really drops the payload blobs
    val avro = OcfFormat.prunedAvroSchema(scans.head.readSchema())
    assert(!avro.getFields.toString.contains("value"))
    // and the pruned read is still correct
    assert(df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      (0 until 200).map(i => (i / 50, i.toLong)).toSet)
  }

  test("pushdown (b): stats manifest prunes whole files per predicate") {
    import org.apache.spark.sql.sources._
    val dir = tmpDir("ocf_prune_files")
    stratifiedStore(dir)
    val all = planFiles(dir, Array.empty)
    assert(all.size >= 4, s"store should have >=4 containers, got $all")
    val total = all.map(_.end).sum

    // partition equality: only files whose stats contain partition 2
    val byPart = planFiles(dir, Array(EqualTo("partition", 2)))
    assert(byPart.size < all.size && byPart.map(_.end).sum == 50,
      s"partition=2 should keep exactly the 50-row slice, got $byPart")

    // offset range: only files overlapping [0, 50)
    val byOff = planFiles(dir, Array(LessThan("offset", 50L)))
    assert(byOff.map(_.end).sum == 50, s"offset<50 kept $byOff")

    // timestamp range: conjunct with offset must intersect
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val byTs = planFiles(dir,
      Array(LessThanOrEqual("timestamp", ts), GreaterThan("offset", 100L)))
    assert(byTs.isEmpty,
      s"ts<=base AND offset>100 is unsatisfiable per stats, got $byTs")

    // In() on partition
    val byIn = planFiles(dir, Array(In("partition", Array(1, 3))))
    assert(byIn.map(_.end).sum == 100, s"partition IN (1,3) kept $byIn")
    assert(total == 200)
  }

  test("pushdown (c): results identical with and without pruning") {
    val dir = tmpDir("ocf_prune_advisory")
    stratifiedStore(dir)
    val pruned = spark.read.format("graft-ocf").load(dir)
      .filter(col("partition") === 2 && col("offset") >= 120)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(pruned == (120L until 150L).toSet,
      "pruned scan must return exactly the matching rows")
  }

  test("pushdown (d): a pre-manifest store reads fully, un-pruned") {
    import org.apache.spark.sql.sources._
    val dir = tmpDir("ocf_premanifest")
    stratifiedStore(dir)
    // simulate a store written before manifests existed
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-")).foreach(_.delete())
    val all = planFiles(dir, Array(EqualTo("partition", 2)))
    assert(all.map(_.end).sum == 200,
      "no manifest => conservative keep of every file")
    val rows = spark.read.format("graft-ocf").load(dir)
      .filter(col("partition") === 2)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(rows == (100L until 150L).toSet)
  }

  test("pushdown: unsupported literal types never throw, never prune") {
    import org.apache.spark.sql.sources._
    val dir = tmpDir("ocf_weird_lit")
    stratifiedStore(dir)
    // literal types outside the int/long/timestamp whitelist — the
    // advisory contract says "may match", never an exception
    val weird: Array[Filter] = Array(
      EqualTo("offset", new java.math.BigDecimal("42.5")),
      EqualTo("partition", "2"),
      In("offset", Array[Any]("a", java.lang.Double.valueOf(1.5))),
      GreaterThan("timestamp", "2026-01-01"))
    val planned = planFiles(dir, weird)
    assert(planned.map(_.end).sum == 200,
      s"unconvertible literals must keep every file, got $planned")
  }

  test("limit pushdown: LIMIT n plans only the leading n rows of I/O") {
    val dir = tmpDir("ocf_limit")
    stratifiedStore(dir)
    // direct: the builder caps planned ranges at the pushed limit
    val b = new OcfScanBuilder(dir, None, hconf)
    assert(b.pushLimit(70) && b.isPartiallyPushed())
    val planned = b.build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[OcfSlice]).toSeq
    assert(planned.map(s => s.end - s.start).sum == 70,
      s"limit 70 should cap planned rows at 70, got $planned")
    assert(planned.size == 2,
      s"70 rows over 50-row containers is 2 files, got ${planned.size}")
    // end-to-end: the scan shows the cap, the result honors the limit
    val df = spark.read.format("graft-ocf").load(dir).limit(5)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.scan
    }
    assert(scans.nonEmpty && scans.head.description().contains("limit=5"),
      s"scan should carry the pushed limit: ${scans.map(_.description())}")
    assert(df.count() == 5)
    // a filtered query keeps its Filter node, so Spark never pushes
    // the limit through it — full residual evaluation stays correct
    assert(spark.read.format("graft-ocf").load(dir)
      .filter(col("partition") === 3).limit(5).count() == 5)
  }

  test("estimateStatistics: manifest-exact rows, pruning-aware bytes") {
    import org.apache.spark.sql.sources._
    val dir = tmpDir("ocf_stats_cbo")
    stratifiedStore(dir)
    val containerBytes = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".ocf") && !f.getName.startsWith("."))
      .map(_.length()).sum

    def stats(filters: Array[Filter],
              required: org.apache.spark.sql.types.StructType =
                OcfFormat.sparkSchema) = {
      val b = new OcfScanBuilder(dir, None, hconf)
      b.pruneColumns(required)
      b.pushFilters(filters)
      b.build()
        .asInstanceOf[org.apache.spark.sql.connector.read
          .SupportsReportStatistics].estimateStatistics()
    }

    val full = stats(Array.empty)
    assert(full.numRows().getAsLong == 200)
    assert(full.sizeInBytes().getAsLong == containerBytes,
      "payload scan bytes = container bytes")

    val meta = org.apache.spark.sql.types.StructType(
      OcfFormat.sparkSchema.filter(f =>
        Seq("partition", "offset").contains(f.name)))
    val pruned = stats(Array.empty, meta)
    assert(pruned.numRows().getAsLong == 200)
    assert(pruned.sizeInBytes().getAsLong ==
      200L * OcfFormat.metadataRowBytes(meta) &&
      pruned.sizeInBytes().getAsLong < containerBytes,
      "a payload-free projection must report metadata-width bytes")

    val filtered = stats(Array(EqualTo("partition", 2)))
    assert(filtered.numRows().getAsLong == 50,
      "stats reflect manifest file pruning")

    // the CBO consequence: a metadata projection of the store is
    // broadcast-small in the optimized plan, the payload scan is not
    val slim = spark.read.format("graft-ocf").load(dir)
      .select("partition", "offset")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val fat = spark.read.format("graft-ocf").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(slim < fat,
      s"pruned scan should plan smaller than payload scan: $slim vs $fat")
  }

  test("runtime filtering: a join-time IN-set prunes whole containers") {
    import org.apache.spark.sql.sources._
    val dir = tmpDir("ocf_runtime_filter")
    stratifiedStore(dir)
    val b = new OcfScanBuilder(dir, None, hconf)
    b.pruneColumns(org.apache.spark.sql.types.StructType(
      OcfFormat.sparkSchema.filter(f =>
        Seq("topic", "offset").contains(f.name))))
    val scan = b.build()
      .asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsRuntimeFiltering]
    // only the stat columns the pruned scan still outputs are offered
    assert(scan.filterAttributes().map(_.describe()).toSet == Set("offset"))
    scan.filter(Array[Filter](In("offset", Array(60L, 120L))))
    val planned = scan.asInstanceOf[OcfScan].toBatch.planInputPartitions()
      .map(_.asInstanceOf[OcfSlice]).toSeq
    assert(planned.map(s => s.end - s.start).sum == 100,
      s"runtime IN(60,120) must keep exactly the two matching files: $planned")
    // a limit-capped scan refuses runtime filtering (the cap was
    // computed over the unfiltered file order)
    val lb = new OcfScanBuilder(dir, None, hconf)
    lb.pushLimit(10)
    assert(lb.build().asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsRuntimeFiltering].filterAttributes().isEmpty)
  }

  test("streaming planInputPartitions prunes files by pushed filters") {
    import org.apache.spark.sql.sources._
    val dir = tmpDir("ocf_stream_prune")
    stratifiedStore(dir)
    def plannedRows(filters: Array[Filter]): Long = {
      val ms = new OcfMicroBatchStream(dir, None, hconf,
        OcfFormat.sparkSchema, filters)
      ms.planInputPartitions(ms.initialOffset(), ms.latestOffset())
        .flatMap {
          case g: OcfRangeGroup => g.ranges
          case r: OcfRange => Seq(r)
        }
        .map(r => r.end - r.start).sum
    }
    assert(plannedRows(Array.empty) == 200)
    // only the partition-2 container emits a read range...
    assert(plannedRows(Array(EqualTo("partition", 2))) == 50)
    // ...while offsets still advance over every file (no replay debt)
    val ms = new OcfMicroBatchStream(dir, None, hconf,
      OcfFormat.sparkSchema, Array(EqualTo("partition", 2)))
    val latest = ms.latestOffset().asInstanceOf[OcfOffset]
    assert(latest.counts.values.sum == 200)
    // end-to-end: the filtered stream sees exactly the matching rows
    val q = spark.readStream.format("graft-ocf").load(dir)
      .filter(col("partition") === 2)
      .writeStream.format("memory").queryName("ocf_stream_pruned")
      .option("checkpointLocation", tmpDir("ocf_stream_prune_ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ocf_stream_pruned")
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(got == (100L until 150L).toSet)
  }

  test("storage-partitioned scan: groupBy(partition) plans no shuffle") {
    val dir = tmpDir("ocf_spj")
    stratifiedStore(dir)
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.read.format("graft-ocf").load(dir)
        .groupBy("partition").count()
      val plan = agg.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.isEmpty,
        s"single-partition containers + manifest must report " +
          s"KeyGroupedPartitioning and avoid the shuffle:\n$plan")
      // and the shuffle-free result is still correct
      assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
        (0 until 4).map(p => (p, 50L)).toSet)
    }
    // a store without manifests must NOT claim key grouping (and still
    // aggregate correctly, with a shuffle)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-")).foreach(_.delete())
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg2 = spark.read.format("graft-ocf").load(dir)
        .groupBy("partition").count()
      assert(agg2.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
        (0 until 4).map(p => (p, 50L)).toSet)
    }
  }

  test("storage-partitioned join of two stores plans without exchanges") {
    val dirA = tmpDir("ocf_spj_a")
    val dirB = tmpDir("ocf_spj_b")
    stratifiedStore(dirA)
    stratifiedStore(dirB)
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = spark.read.format("graft-ocf").load(dirA)
        .groupBy("partition").agg(count(lit(1)).as("a_rows"))
      val b = spark.read.format("graft-ocf").load(dirB)
        .groupBy("partition").agg(count(lit(1)).as("b_rows"))
      val joined = a.join(b, Seq("partition"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.isEmpty,
        s"co-partitioned stores must join shuffle-free:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2))).toSet ==
        (0 until 4).map(p => (p, 50L, 50L)).toSet)
    }
  }

  test("compaction rewrites many small containers into few, losslessly") {
    val dir = tmpDir("ocf_compact")
    stratifiedStore(dir) // 4 separate commits -> 4 containers
    val before = spark.read.format("graft-ocf").load(dir)
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val (nBefore, nAfter) = OcfMaintenance.compact(spark, dir)
    assert(nBefore == 4 && nAfter < nBefore,
      s"compaction must shrink the file count, got $nBefore -> $nAfter")
    val after = spark.read.format("graft-ocf").load(dir)
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(after == before, "compaction must preserve every record")
    // the fresh commit re-manifests the whole store: filtered reads
    // and manifest-served head counts keep working on the compacted
    // generation (file-level pruning is layout-dependent — a single
    // merged container legitimately can't be pruned by partition)
    assert(spark.read.format("graft-ocf").load(dir)
      .filter(col("partition") === 2).count() == 50L)
    val d = OcfMaintenance.describe(spark, dir)
    assert(d.agg(sum("count")).collect().head.getLong(0) == 200L)
    assert(d.count() == nAfter.toLong)
  }

  test("eraseKeys physically removes the cohort's bytes; survivors " +
      "keep offsets; retired containers are deleted") {
    val dir = tmpDir("ocf_erase")
    kafkaDf(0, 200).write.format("graft-ocf").mode("overwrite").save(dir)
    // erase the "GDPR cohort": keys 0,10,20,... (key bytes are the
    // decimal string)
    val (nBefore, nAfter) = OcfMaintenance.eraseKeys(spark, dir,
      col("key").cast("string").cast("long") % 10L === 0L)
    assert(nBefore == 200L && nAfter == 180L)
    val back = KafkaShape.decodeUtf8(
      spark.read.format("graft-ocf").load(dir))
    val got = back.select("key_str", "koffset").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = (0 until 200).filter(_ % 10 != 0)
      .map(i => (i.toString, i.toLong)).toSet
    assert(got == want, "survivors intact, original offsets kept")
    // compliance check at the BYTE level: no live or retired container
    // still holds an erased record's payload (uncompressed default
    // codec, so the payload string is literal in the container bytes)
    val containers = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".ocf"))
    assert(containers.nonEmpty)
    // match the exact Avro field encoding (zigzag-varint length byte +
    // payload), not the bare string: "payload_10" is a legitimate
    // SUBSTRING of the surviving "payload_101"
    val erasedPayloads = (0 until 200 by 10)
      .map(i => s"payload_$i")
      .map(p => (2 * p.length).toChar +: p)
    containers.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      erasedPayloads.foreach { p =>
        assert(!s.contains(p), s"${f.getName} still holds $p")
      }
    }
    // null-key records never match an erasure predicate
    val dir2 = tmpDir("ocf_erase_null")
    import org.apache.spark.sql.types._
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, "v0".getBytes, "t", 0,
          0L, new java.sql.Timestamp(0L), 0),
        org.apache.spark.sql.Row("5".getBytes, "v1".getBytes, "t", 0,
          1L, new java.sql.Timestamp(0L), 0)),
      KafkaShape.schema)
    rows.write.format("graft-ocf").mode("overwrite").save(dir2)
    val (b2, a2) = OcfMaintenance.eraseKeys(spark, dir2,
      col("key").cast("string").cast("long") % 5L === 0L)
    assert(b2 == 2L && a2 == 1L,
      "keyed match erased, null-key record kept")
    assert(spark.read.format("graft-ocf").load(dir2)
      .filter(col("key").isNull).count() == 1L)
  }

  test("latestOffset on a manifested store opens zero containers") {
    val dir = tmpDir("ocf_manifest_heads")
    stratifiedStore(dir)
    val before = OcfStore.containerOpens.get()
    val counts = OcfStore.headCounts(dir, hconf.value)
    assert(counts.values.sum == 200)
    assert(OcfStore.containerOpens.get() == before,
      "manifested store must serve head counts without opening containers")
    // remove the manifest: fallback block-counts (and still correct)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-")).foreach(_.delete())
    val counts2 = OcfStore.headCounts(dir, hconf.value)
    assert(counts2 == counts)
    assert(OcfStore.containerOpens.get() > before,
      "without a manifest the store must fall back to block counting")
  }

  test("a corrupt manifest line only costs its file's stats, not the query") {
    val dir = tmpDir("ocf_corrupt_manifest")
    stratifiedStore(dir)
    // corrupt ONE line of one manifest (the file keeps its name length
    // so the good lines still parse); the affected container must fall
    // back to block counting / conservative keep, everything else
    // unchanged
    val mf = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_manifest-")).minBy(_.getName)
    val lines = java.nio.file.Files.readAllLines(mf.toPath)
    lines.set(0, "{corrupt json" + lines.get(0).drop(13))
    java.nio.file.Files.write(mf.toPath, lines)
    // Hadoop LocalFS checksums reject modified files unless the
    // sidecar goes too
    new java.io.File(dir, "." + mf.getName + ".crc").delete()
    val counts = OcfStore.headCounts(dir, hconf.value)
    assert(counts.values.sum == 200,
      "corrupt manifest line must not lose rows")
    val rows = spark.read.format("graft-ocf").load(dir)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(rows == (0L until 200L).toSet)
  }

  test("manifest parsing is field-order independent and skips bad lines") {
    val good = OcfFileStats("f.ocf", 7L, 1L, 9L, 100L, 200L, Seq(0, 2))
    assert(OcfFileStats.fromJson(good.toJson).contains(good))
    // reordered fields still parse (Jackson, not a regex)
    val reordered =
      """{"count":7,"file":"f.ocf","partitions":[0,2],"minOffset":1,""" +
        """"maxOffset":9,"minTsUs":100,"maxTsUs":200}"""
    assert(OcfFileStats.fromJson(reordered).contains(good))
    // garbage and missing-field lines are ignored, not fatal
    assert(OcfFileStats.fromJson("not json at all").isEmpty)
    assert(OcfFileStats.fromJson("""{"file":"x.ocf","count":3}""").isEmpty)
    assert(OcfFileStats.fromJson("").isEmpty)
  }

  test("partition reader block-skips to mid-file ranges exactly") {
    // force a MULTI-BLOCK container (payloads big enough to cross the
    // ~64KB Avro sync interval many times), then read mid-file ranges
    // through the reader directly: the block-header skip must land on
    // exactly the requested records, including starts inside a block
    val s = spark
    import s.implicits._
    val dir = tmpDir("ocf_blocks")
    val n = 20000
    val pad = "x" * 150
    (0 until n).map(i => (i.toLong, s"payload_${i}_$pad")).toDF("id", "props")
      .select(
        col("id").cast("string").cast("binary").as("key"),
        col("props").cast("binary").as("value"),
        lit("events").as("topic"),
        lit(0).cast("int").as("partition"),
        col("id").as("offset"),
        lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("timestamp"),
        lit(0).as("timestampType"))
      .write.format("graft-ocf").mode("overwrite").save(dir)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val counts = OcfStore.headCounts(dir, conf.value)
    val (fname, total) = counts.maxBy(_._2)
    assert(total >= 10000, s"expected one fat container, got $counts")
    // the container must really span multiple blocks for this test to
    // exercise the skip loop
    val blocks = {
      val st = new org.apache.avro.file.DataFileStream(
        new java.io.FileInputStream(s"$dir/$fname"),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try {
        var b = 0
        while (st.hasNext) { b += 1; st.nextBlock() }
        b
      } finally st.close()
    }
    assert(blocks > 3, s"container has only $blocks block(s)")
    def offsetsInRange(a: Long, b: Long): Seq[Long] = {
      val reader = OcfReaderFactory(spark.sparkContext.broadcast(conf))
        .createReader(OcfRange(s"$dir/$fname", a, b))
      try {
        val out = scala.collection.mutable.ArrayBuffer[Long]()
        while (reader.next()) out += reader.get().getLong(4)
        out.toSeq
      } finally reader.close()
    }
    val full = offsetsInRange(0L, total)
    assert(full.length == total.toInt)
    for ((a, b) <- Seq((0L, 10L), (total / 2 - 37, total / 2 + 91),
        (total - 53, total))) {
      val got = offsetsInRange(a, b)
      assert(got == full.slice(a.toInt, b.toInt),
        s"range [$a,$b) mismatch: got ${got.take(5)}...")
    }
  }

  // ---- S8/S9 streaming sink: writeStream.format("graft-ocf") ----

  test("S8 streaming sink: store-to-store replication is exactly-once " +
      "across restart") {
    // the mirror-maker shape: readStream from one store, writeStream
    // into another — both ends of the engine's connector, one pipeline
    val s = spark
    val src = tmpDir("ocf_repl_src")
    val dst = tmpDir("ocf_repl_dst")
    val ckpt = tmpDir("ocf_repl_ckpt")
    kafkaDf(0, 80).write.format("graft-ocf").mode("overwrite").save(src)

    def run(): Unit = {
      val q = s.readStream.format("graft-ocf")
        .option("maxRecordsPerTrigger", "30").load(src)
        .writeStream.format("graft-ocf")
        .option("checkpointLocation", ckpt)
        .start(dst)
      q.processAllAvailable()
      q.stop()
    }
    run()
    val first = spark.read.format("graft-ocf").load(dst)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(first == (0L until 80L).toSet)

    // append to the source, restart on the same checkpoint: the sink
    // must receive exactly the appended records, once
    kafkaDf(80, 120).write.format("graft-ocf").mode("append").save(src)
    run()
    val second = spark.read.format("graft-ocf").load(dst)
      .select("offset").collect().map(_.getLong(0)).toSeq
    assert(second.sorted == (0L until 120L).toSeq,
      s"expected exactly 0..119 once, got ${second.size} rows")

    // sink hygiene: only containers, manifests, and epoch markers —
    // every epoch that installed containers also left its marker and
    // per-epoch stats manifest (pruning works on streamed stores too)
    val all = new java.io.File(dst).listFiles().map(_.getName).toSeq
      .filterNot(_.startsWith("."))
    assert(all.forall(f => f.endsWith(".ocf") ||
      (f.startsWith("_manifest-") && f.endsWith(".ndjson")) ||
      (f.startsWith("_snapshot-") && f.endsWith(".list")) ||
      f.startsWith("_epoch-")), s"stray files: $all")
    assert(all.exists(_.startsWith("_epoch-")))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val stats = OcfStore.manifestStats(dst, conf.value)
    val ocfs = all.filter(_.endsWith(".ocf"))
    assert(ocfs.forall(stats.contains),
      s"every streamed container must be manifested; " +
        s"missing: ${ocfs.filterNot(stats.contains)}")
  }

  private def streamRows(from: Int, until: Int): Seq[InternalRow] =
    (from until until).map { i =>
      InternalRow(
        null,
        s"v$i".getBytes("UTF-8"),
        org.apache.spark.unsafe.types.UTF8String.fromString("events"),
        i % 4,
        i.toLong,
        1767261600000000L + i * 1000000L,
        0)
    }

  private def writeEpoch(dir: String, epochId: Long, rows: Seq[InternalRow],
      conf: org.apache.spark.util.SerializableConfiguration,
      queryId: String = "q1")
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val w = OcfStreamingWriterFactory(dir, queryId,
        spark.sparkContext.broadcast(conf))
      .createWriter(0, 0L, epochId)
    rows.foreach(w.write)
    val msg = w.commit()
    w.close()
    msg
  }

  test("streaming commit is idempotent under epoch replay") {
    val dir = tmpDir("ocf_epoch_replay")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val sw = new OcfStreamingWrite(dir, "q1", conf)
    sw.commit(3L, Array(writeEpoch(dir, 3L, streamRows(0, 40), conf)))
    val after1 = spark.read.format("graft-ocf").load(dir).count()
    assert(after1 == 40)

    // a replay of the SAME epoch (restarted query re-running its last
    // unacknowledged batch — Spark's streaming queryId is the
    // checkpoint-stable query id, so the replay commits under the same
    // id): the marker must drop the whole install and clean the temp
    val sw2 = new OcfStreamingWrite(dir, "q1", conf)
    sw2.commit(3L,
      Array(writeEpoch(dir, 3L, streamRows(0, 40), conf, "q1")))
    assert(spark.read.format("graft-ocf").load(dir).count() == 40,
      "replayed epoch must install nothing")
    val stray = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith(".") && n.endsWith(".tmp"))
    assert(stray.isEmpty, s"replay temps not cleaned: ${stray.toSeq}")
  }

  test("a partial epoch install is retired before reinstall") {
    val dir = tmpDir("ocf_epoch_partial")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    // simulate a crashed attempt: epoch 7's container visible but no
    // _epoch-7 marker (crash between rename and marker create)
    val sw = new OcfStreamingWrite(dir, "crashed", conf)
    val orphanMsg = writeEpoch(dir, 7L, streamRows(0, 25), conf, "crashed")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf.value)
    // install the container by hand, skip manifest+marker
    orphanMsg match {
      case OcfCommit(temp, dest, _) =>
        fs.rename(new org.apache.hadoop.fs.Path(temp),
          new org.apache.hadoop.fs.Path(dest))
    }
    assert(spark.read.format("graft-ocf").load(dir).count() == 25)

    // the recovered run re-commits epoch 7 (same checkpoint => same
    // stable queryId): the orphan must be retired, never double-counted
    val sw2 = new OcfStreamingWrite(dir, "crashed", conf)
    sw2.commit(7L,
      Array(writeEpoch(dir, 7L, streamRows(0, 25), conf, "crashed")))
    val offsets = spark.read.format("graft-ocf").load(dir)
      .select("offset").collect().map(_.getLong(0)).toSeq
    assert(offsets.sorted == (0L until 25L).toSeq,
      s"orphan container double-counted: ${offsets.size} rows")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(dir, "_epoch-crashed-7")))
  }

  test("two LIVE streaming queries replicate two sources into one " +
    "destination store concurrently, exactly once each") {
    // the fan-in shape through Spark's own wiring (real queries, real
    // checkpoints — distinct stable queryIds end-to-end), on top of
    // the commit-protocol unit test below
    val s = spark
    val srcA = tmpDir("ocf_fanin_a")
    val srcB = tmpDir("ocf_fanin_b")
    val dst = tmpDir("ocf_fanin_dst")
    kafkaDf(0, 60).write.format("graft-ocf").mode("overwrite").save(srcA)
    kafkaDf(100, 160).write.format("graft-ocf").mode("overwrite").save(srcB)
    def start(src: String, ckpt: String) =
      s.readStream.format("graft-ocf")
        .option("maxRecordsPerTrigger", "25").load(src)
        .writeStream.format("graft-ocf")
        .option("checkpointLocation", ckpt)
        .start(dst)
    val qa = start(srcA, tmpDir("ocf_fanin_ckpt_a"))
    val qb = start(srcB, tmpDir("ocf_fanin_ckpt_b"))
    try {
      qa.processAllAvailable()
      qb.processAllAvailable()
    } finally { qa.stop(); qb.stop() }
    val offsets = spark.read.format("graft-ocf").load(dst)
      .select("offset").collect().map(_.getLong(0)).toSeq
    assert(offsets.sorted == ((0L until 60L) ++ (100L until 160L)).toSeq,
      s"both pipelines exactly once, got ${offsets.size} rows")
  }

  test("two concurrent streaming writers with colliding epoch numbers " +
    "append to one store without dropping or retiring each other") {
    val dir = tmpDir("ocf_two_writers")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val wa = new OcfStreamingWrite(dir, "writer-a", conf)
    val wb = new OcfStreamingWrite(dir, "writer-b", conf)
    // interleaved commits with OVERLAPPING epoch numbers — each
    // writer's epoch scope is independent, so b's epoch 0 must append
    // even though a's _epoch marker for 0 already exists, and a's
    // epoch-1 sweep must not retire b's just-installed epoch-1 files
    wa.commit(0L,
      Array(writeEpoch(dir, 0L, streamRows(0, 10), conf, "writer-a")))
    wb.commit(0L,
      Array(writeEpoch(dir, 0L, streamRows(100, 110), conf, "writer-b")))
    wb.commit(1L,
      Array(writeEpoch(dir, 1L, streamRows(110, 120), conf, "writer-b")))
    wa.commit(1L,
      Array(writeEpoch(dir, 1L, streamRows(10, 20), conf, "writer-a")))
    val offsets = spark.read.format("graft-ocf").load(dir)
      .select("offset").collect().map(_.getLong(0)).toSeq.sorted
    assert(offsets == ((0L until 20L) ++ (100L until 120L)).toSeq,
      s"both writers' rows exactly once, got ${offsets.size} rows")
    // each writer's epochs stay replay-protected in their own scope
    val wa2 = new OcfStreamingWrite(dir, "writer-a", conf)
    wa2.commit(1L,
      Array(writeEpoch(dir, 1L, streamRows(10, 20), conf, "writer-a")))
    assert(spark.read.format("graft-ocf").load(dir).count() == 40,
      "writer-a's epoch-1 replay must install nothing")
    // every container from both writers is manifested, and manifest
    // consolidation keeps both writers' stats
    val stats = OcfStore.manifestStats(dir, conf.value)
    val ocfs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".ocf") && !n.startsWith("."))
    assert(ocfs.forall(stats.contains),
      s"unmanifested containers: ${ocfs.filterNot(stats.contains).toSeq}")
    val (nManifests, stale) = OcfMaintenance.compactManifests(spark, dir)
    assert(nManifests == 4 && stale == 0L, s"got ($nManifests, $stale)")
    assert(OcfStore.manifestStats(dir, conf.value).keySet ==
      stats.keySet, "consolidation must keep both writers' stats")
    assert(spark.read.format("graft-ocf").load(dir).count() == 40)
  }

  test("offset cursor lookup falls back to legacy scheme-stripped keys") {
    val counts = Map(
      "/data/store/part-0.ocf" -> 42L, // legacy glob key (pre-upgrade)
      "part-1.ocf" -> 7L)              // single-store basename key
    // current listing emits qualified keys; the old cursor must resolve
    assert(OcfOffset.cursor(counts, "file:/data/store/part-0.ocf") == 42L)
    // exact hits still win, and misses stay 0
    assert(OcfOffset.cursor(counts, "part-1.ocf") == 7L)
    assert(OcfOffset.cursor(counts, "file:/data/store/part-9.ocf") == 0L)
  }

  test("scan custom metrics report containers opened, block skips, " +
    "and records decoded") {
    val s = spark
    val dir = tmpDir("ocf_scan_metrics")
    kafkaDf(0, 200).write.format("graft-ocf")
      .option("targetFiles", "1").mode("overwrite").save(dir)
    // a mid-file range forces the block-skip path
    val df = s.read.format("graft-ocf")
      .option("minPartitions", "4").load(dir)
    df.count()
    val scanNode = df.queryExecution.executedPlan.collectLeaves().head
    val names = scanNode.metrics.keySet
    assert(Set("containersOpened", "recordsSkipped", "recordsDecoded")
      .subsetOf(names), s"scan metrics missing from $names")
  }

  test("maxBytesPerTrigger bounds each microbatch by manifest-backed " +
    "container width, composing with the row bound") {
    val s = spark
    val dir = tmpDir("ocf_maxbytes")
    kafkaDf(0, 200).write.format("graft-ocf").mode("overwrite").save(dir)
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".ocf") && !f.getName.startsWith("."))
      .map(_.length()).sum
    val avg = totalBytes / 200.0
    def batchSizes(opts: Map[String, String]): Seq[Long] = {
      val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      var reader = s.readStream.format("graft-ocf")
      opts.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          sizes.add(df.count()); ()
        }
        .option("checkpointLocation", tmpDir("ocf_maxbytes_ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      sizes.iterator().asScala.toSeq.filter(_ > 0)
    }
    // byte budget for ~40 records/trigger: every record delivered
    // exactly once across several bounded batches
    val byBytes = batchSizes(Map(
      "maxBytesPerTrigger" -> math.ceil(avg * 40).toLong.toString))
    assert(byBytes.sum == 200 && byBytes.size >= 4,
      s"expected >=4 bounded batches, got $byBytes")
    assert(byBytes.forall(_ <= 50),
      s"a batch overshot the byte budget: $byBytes")
    // composite: the stricter row bound wins
    val composed = batchSizes(Map(
      "maxBytesPerTrigger" -> math.ceil(avg * 40).toLong.toString,
      "maxRecordsPerTrigger" -> "10"))
    assert(composed.sum == 200 && composed.forall(_ <= 10),
      s"row bound must cap composite admission: $composed")
    // a budget below one record still makes progress (one per trigger)
    val tiny = batchSizes(Map("maxBytesPerTrigger" -> "1"))
    assert(tiny.sum == 200 && tiny.forall(_ == 1),
      s"sub-record budget must admit exactly one: ${tiny.take(5)}...")
  }

  test("minPartitions splits large containers into parallel ranges, " +
    "losslessly") {
    val s = spark
    val dir = tmpDir("ocf_minparts")
    // compact the whole store into ONE container — the parallelism
    // worst case minPartitions exists to fix
    kafkaDf(0, 200).write.format("graft-ocf")
      .option("targetFiles", "1").mode("overwrite").save(dir)
    assert(new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".ocf") &&
        !f.getName.startsWith(".")) == 1)
    val plain = s.read.format("graft-ocf").load(dir)
    assert(plain.rdd.getNumPartitions == 1)
    val split = s.read.format("graft-ocf")
      .option("minPartitions", "8").load(dir)
    assert(split.rdd.getNumPartitions >= 8,
      s"got ${split.rdd.getNumPartitions} partitions")
    assert(split.select("offset").collect().map(_.getLong(0)).sorted
      .toSeq == (0L until 200L).toSeq,
      "range splitting must be lossless and duplicate-free")
    // the STREAMING side honors it too: each microbatch over the one
    // container plans >= 8 tasks, rows exactly once
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = s.readStream.format("graft-ocf")
      .option("minPartitions", "8").load(dir)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        parts.add(df.rdd.getNumPartitions)
        df.select("offset").collect().foreach(r => rows.add(r.getLong(0)))
      }
      .option("checkpointLocation", tmpDir("ocf_minparts_ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(parts.iterator().asScala.exists(_ >= 8),
      s"streaming microbatch must split: ${parts.iterator().asScala.toSeq}")
    assert(rows.iterator().asScala.toSeq.sorted == (0L until 200L).toSeq)
  }

  test("startingTimestamp seeds cursors at the first record at-or-after " +
    "the timestamp: manifest fast path, boundary scan, restart-stable") {
    val s = spark
    val dir = tmpDir("ocf_start_ts")
    stratifiedStore(dir) // partition p: offsets p*50..p*50+49, ts base+id*60s
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime * 1000L
    // cutoff mid-partition-2's container: files p0/p1 wholly older
    // (manifest skip, no open), p3 wholly newer (manifest zero), p2 is
    // the BOUNDARY container resolved by the timestamp-only scan
    val cutUs = base + 125L * 60 * 1000000
    def run(ckpt: String): Set[Long] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = s.readStream.format("graft-ocf")
        .option("startingTimestamp", cutUs.toString).load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("offset").collect().foreach(r => buf.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSet
    }
    val ckpt = tmpDir("ocf_start_ts_ckpt")
    assert(run(ckpt) == (125L until 200L).toSet,
      "must start exactly at the first at-or-after record")
    // restart on the same checkpoint: nothing replays, appends flow
    kafkaDf(500, 505).write.format("graft-ocf").mode("append").save(dir)
    assert(run(ckpt) == (500L until 505L).toSet)
    // the BATCH read honors the same seek (not silently ignored):
    // whole-file manifest skip + boundary-scan precision
    val batchSeek = s.read.format("graft-ocf")
      .option("startingTimestamp", cutUs.toString).load(dir)
      .select("offset").collect().map(_.getLong(0)).toSet
    // the appended container's records all predate the cutoff, so the
    // batch seek skips the whole file (contrast the STREAM above,
    // where startingTimestamp only seeds the INITIAL cursors and later
    // appends flow regardless — Kafka's semantics for both)
    assert(batchSeek == (125L until 200L).toSet,
      "batch startingTimestamp must seek exactly like the stream's " +
        "initial cursors")
    // starting+ending bound one TIME SLICE of the store: [125, 150)
    val slice = s.read.format("graft-ocf")
      .option("startingTimestamp", cutUs.toString)
      .option("endingTimestamp", (base + 150L * 60 * 1000000).toString)
      .load(dir)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(slice == (125L until 150L).toSet,
      s"time-slice replay must bound both ends, got ${slice.size} rows")
    intercept[IllegalArgumentException] {
      s.read.format("graft-ocf")
        .option("startingTimestamp", "10")
        .option("endingTimestamp", "5").load(dir).count()
    }
    // mutually exclusive with startingOffsets=latest (validated at
    // scan build — a batch read triggers it synchronously)
    intercept[IllegalArgumentException] {
      s.read.format("graft-ocf")
        .option("startingTimestamp", "0")
        .option("startingOffsets", "latest").load(dir).count()
    }
  }

  test("startingOffsets=latest skips the backlog and delivers only " +
    "post-start records; the snapshot survives restart") {
    val s = spark
    val dir = tmpDir("ocf_start_latest")
    val ckpt = tmpDir("ocf_start_latest_ckpt")
    kafkaDf(0, 50).write.format("graft-ocf").mode("overwrite").save(dir)
    def run(): Set[Long] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = s.readStream.format("graft-ocf")
        .option("startingOffsets", "latest").load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("offset").collect().foreach(r => buf.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSet
    }
    // the 50-record backlog is snapshotted away at query start
    assert(run() == Set.empty[Long])
    kafkaDf(50, 60).write.format("graft-ocf").mode("append").save(dir)
    // post-start appends flow; the checkpointed snapshot boundary
    // holds across restart (no backlog replay, no re-snapshot)
    assert(run() == (50L until 60L).toSet)
    // and earliest (the default) still replays everything
    val all = s.readStream.format("graft-ocf").load(dir)
    val q2 = all.writeStream.format("memory").queryName("start_earliest")
      .option("checkpointLocation", tmpDir("ocf_start_earliest_ckpt"))
      .start()
    try {
      q2.processAllAvailable()
      assert(s.table("start_earliest").count() == 60)
    } finally q2.stop()
    intercept[IllegalArgumentException] {
      s.read.format("graft-ocf").option("startingOffsets", "bogus")
        .load(dir).count()
    }
  }

  test("overwrite rewrite aborts when a writer committed mid-rewrite " +
    "(optimistic concurrency guard), store untouched and retryable") {
    val s = spark
    val dir = tmpDir("ocf_rewrite_guard")
    kafkaDf(0, 40).write.format("graft-ocf").mode("overwrite").save(dir)
    val witness = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".ocf") && !n.startsWith("."))
      .sorted.mkString(",")
    // a concurrent writer's epoch lands AFTER the rewrite read the
    // store (simulated: the witness predates this append)
    kafkaDf(100, 110).write.format("graft-ocf").mode("append").save(dir)
    val data = s.read.format("graft-ocf").load(dir)
      .filter(col("offset") < 40) // "the rewrite's input": pre-append
    val ex = intercept[java.util.ConcurrentModificationException] {
      data.write.format("graft-ocf")
        .option("expectedContainers", witness)
        .mode("overwrite").save(dir)
    }
    assert(ex.getMessage.contains("gained containers"),
      s"expected the guard abort, got: ${ex.getMessage}")
    // nothing lost, nothing retired: both generations fully readable
    assert(s.read.format("graft-ocf").load(dir)
      .select("offset").collect().map(_.getLong(0)).toSet ==
      ((0L until 40L) ++ (100L until 110L)).toSet)
    // no stray temps from the aborted install
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.getName.endsWith(".tmp")), "temps must be cleaned")
    // the retry with a FRESH witness succeeds
    OcfMaintenance.compact(s, dir)
    assert(s.read.format("graft-ocf").load(dir).count() == 50)
  }

  test("epoch-marker pruning keeps the newest markers per writer; " +
    "replay protection survives for the live horizon") {
    val dir = tmpDir("ocf_marker_prune")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val wa = new OcfStreamingWrite(dir, "writer-a", conf)
    val wb = new OcfStreamingWrite(dir, "writer-b", conf)
    (0 until 6).foreach { e =>
      wa.commit(e.toLong,
        Array(writeEpoch(dir, e.toLong, streamRows(e * 5, e * 5 + 5),
          conf, "writer-a")))
    }
    wb.commit(0L,
      Array(writeEpoch(dir, 0L, streamRows(100, 105), conf, "writer-b")))
    def markers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("_epoch-")).sorted.toSeq
    assert(markers.size == 7)
    val deleted = OcfMaintenance.pruneEpochMarkers(spark, dir, keepLast = 2)
    // writer-a keeps epochs 4,5; writer-b keeps its only marker
    assert(deleted == 4 && markers == Seq("_epoch-writer-a-4",
      "_epoch-writer-a-5", "_epoch-writer-b-0"), s"got $markers")
    // replay of the newest (the only epoch Spark can re-commit) is
    // still dropped; rows stay exactly-once
    val wa2 = new OcfStreamingWrite(dir, "writer-a", conf)
    wa2.commit(5L,
      Array(writeEpoch(dir, 5L, streamRows(25, 30), conf, "writer-a")))
    assert(spark.read.format("graft-ocf").load(dir).count() == 35)
    // idempotent, and keepLast=1 trims to the single live marker
    assert(OcfMaintenance.pruneEpochMarkers(spark, dir, 2) == 0)
    assert(OcfMaintenance.pruneEpochMarkers(spark, dir, 1) == 1)
    assert(markers == Seq("_epoch-writer-a-5", "_epoch-writer-b-0"))
  }

  test("multi-store read: load(a, b) unions stores with per-store " +
    "offset keys — the connector-level multi-topic subscribe") {
    val s = spark
    import s.implicits._
    def store(dir: String, topic: String, from: Int, until: Int): Unit =
      (from until until).map(i => (i.toLong, s"p_$i"))
        .toDF("id", "props").select(
          col("id").cast("string").cast("binary").as("key"),
          col("props").cast("binary").as("value"),
          lit(topic).as("topic"),
          (col("id") % 2).cast("int").as("partition"),
          col("id").as("offset"),
          lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("timestamp"),
          lit(0).as("timestampType"))
        .write.format("graft-ocf").mode("overwrite").save(dir)
    val dirA = tmpDir("ocf_multi_a"); val dirB = tmpDir("ocf_multi_b")
    store(dirA, "clicks", 0, 30)
    store(dirB, "views", 100, 140)

    // batch: one source, both stores, topics preserved
    val both = spark.read.format("graft-ocf").load(dirA, dirB)
    assert(both.count() == 70)
    assert(both.groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("clicks" -> 30L, "views" -> 40L))
    // pushed filters still prune per store through the same plan
    assert(both.filter(col("offset") >= 100).count() == 40)
    // writes must target exactly one store
    intercept[Exception] {
      both.limit(1).write.format("graft-ocf")
        .option("paths", s"""["$dirA","$dirB"]""")
        .mode("append").save()
    }

    // streaming: dir-qualified offset keys, admission control spans
    // both stores in stable order
    val stream = spark.readStream.format("graft-ocf")
      .option("paths", s"""["$dirA","$dirB"]""")
      .option("maxRecordsPerTrigger", "25")
      .load()
    val q = stream.select(col("topic"), col("offset"))
      .writeStream.format("memory").queryName("multi_store")
      .option("checkpointLocation", tmpDir("multi_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      val got = s.table("multi_store")
      assert(got.count() == 70, "all records from both stores arrive")
      assert(got.select("topic").distinct().count() == 2)
      // the checkpointed offsets carry dir-qualified keys
      val prog = q.lastProgress.sources.head.endOffset
      assert(prog.contains(dirA) && prog.contains(dirB),
        s"offset keys must be dir-qualified: $prog")
    } finally q.stop()
  }

  test("Trigger.AvailableNow: drains the start-time snapshot in " +
    "bounded triggers, stops, and leaves later records for a next run") {
    val dir = tmpDir("ocf_available_now")
    kafkaDf(0, 40).write.format("graft-ocf").mode("overwrite").save(dir)
    val ckpt = tmpDir("an_ckpt")
    val outDir = tmpDir("an_out")
    // a durable sink: the memory sink rejects checkpoint recovery, and
    // run-two resuming from run-one's checkpoint is the point here
    def run(): Long = {
      val q = spark.readStream.format("graft-ocf")
        .option("maxRecordsPerTrigger", "15").load(dir)
        .select(col("offset"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).count()
    }
    assert(run() == 40L, "first run consumes the whole snapshot")
    // records appended AFTER the first run wait for the next one
    kafkaDf(40, 55).write.format("graft-ocf").mode("append").save(dir)
    assert(run() == 55L, "second run picks up exactly the appended tail")
  }

  test("source metrics: recordsBehindLatest drains to zero through " +
    "admission-controlled triggers") {
    val dir = tmpDir("ocf_metrics")
    kafkaDf(0, 40).write.format("graft-ocf").mode("overwrite").save(dir)
    val q = spark.readStream.format("graft-ocf")
      .option("maxRecordsPerTrigger", "10").load(dir)
      .writeStream.format("memory").queryName("src_metrics")
      .option("checkpointLocation", tmpDir("metrics_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val metrics = q.recentProgress.toSeq
        .map(_.sources.head.metrics.asScala.toMap)
        .filter(_.nonEmpty)
      assert(metrics.nonEmpty, "source metrics must surface in progress")
      // mid-drain triggers report a positive backlog...
      assert(metrics.exists(_("recordsBehindLatest").toLong > 0L),
        s"expected a mid-drain backlog: $metrics")
      // ...and the final trigger reports none
      assert(metrics.last("recordsBehindLatest").toLong == 0L,
        s"drained stream must be 0 behind: ${metrics.last}")
      assert(metrics.last("storesTracked") == "1")
    } finally q.stop()
  }

  test("S3 store discovery: a glob path picks up stores that appear " +
    "MID-STREAM at the next trigger, no restart") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ocf_discover")
    def store(name: String, topic: String, n: Int): Unit =
      (0 until n).map(i => (i.toLong, s"p_$i")).toDF("id", "props")
        .select(
          col("id").cast("string").cast("binary").as("key"),
          col("props").cast("binary").as("value"),
          lit(topic).as("topic"), lit(0).cast("int").as("partition"),
          col("id").as("offset"),
          lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("timestamp"),
          lit(0).as("timestampType"))
        .write.format("graft-ocf").mode("overwrite")
        .save(s"$root/$name")
    store("topic_a", "a", 10)

    // batch glob read sees the current expansion
    assert(spark.read.format("graft-ocf").load(s"$root/topic_*")
      .count() == 10)

    val q = spark.readStream.format("graft-ocf")
      .load(s"$root/topic_*")
      .select(col("topic"))
      .writeStream.format("memory").queryName("discovered")
      .option("checkpointLocation", tmpDir("discover_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(s.table("discovered").count() == 10)
      // a NEW store materializes while the stream runs...
      store("topic_b", "b", 7)
      q.processAllAvailable()
      // ...and its records arrive without a restart
      val byTopic = s.table("discovered").groupBy("topic").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byTopic == Map("a" -> 10L, "b" -> 7L),
        s"discovery must register the new store: $byTopic")
    } finally q.stop()
  }

  test("manifest consolidation: one file replaces the per-commit pile, " +
    "stale lines drop, pruning and later appends keep working") {
    val dir = tmpDir("ocf_manifest_compact")
    stratifiedStore(dir)
    def manifests = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("_manifest-") &&
        f.getName.endsWith(".ndjson")).map(_.getName).sorted
    assert(manifests.length == 4, "one manifest per commit")
    val statsBefore = OcfStore.manifestStats(dir, hconf.value)
    // simulate retention having deleted partition 0's container:
    // its manifest line goes stale
    val victim = statsBefore.values.find(_.partitions == Seq(0)).get.file
    assert(new java.io.File(dir, victim).delete())

    val (nBefore, stale) =
      OcfMaintenance.compactManifests(spark, dir)
    assert(nBefore == 4 && stale == 1L, s"got ($nBefore, $stale)")
    assert(manifests.length == 1 &&
      manifests.head.startsWith("_manifest-z"),
      s"consolidated name must win last-by-name: ${manifests.toSeq}")
    val statsAfter = OcfStore.manifestStats(dir, hconf.value)
    assert(statsAfter == statsBefore - victim,
      "consolidation preserves live stats exactly, drops stale lines")
    // pruning still proves files irrelevant off the consolidated stats
    val byPart = planFiles(dir,
      Array(org.apache.spark.sql.sources.EqualTo("partition", 2)))
    assert(byPart.map(_.end).sum == 50)
    // a later append commit coexists: its manifest merges alongside
    kafkaDf(200, 210).write.format("graft-ocf").mode("append").save(dir)
    assert(manifests.length == 2)
    val merged = OcfStore.manifestStats(dir, hconf.value)
    assert(merged.size == statsAfter.size + 1,
      "appended commit's stats merge with the consolidated manifest")
  }

  test("time retention deletes exactly the provably-expired containers") {
    val dir = tmpDir("ocf_retain")
    stratifiedStore(dir) // partition p holds ts [base + p*50m, +50m)
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime * 1000L
    // watermark at the start of partition 2's range: partitions 0 and 1
    // are wholly older -> deleted; 2 and 3 survive
    val cut = base + 100L * 60 * 1000000
    val (nDel, recDel) = OcfMaintenance.retain(spark, dir, cut)
    assert(nDel == 2 && recDel == 100L, s"got ($nDel, $recDel)")
    val left = spark.read.format("graft-ocf").load(dir)
      .select("offset").collect().map(_.getLong(0)).toSet
    assert(left == (100L until 200L).toSet)
    // idempotent: nothing else is provably expired
    assert(OcfMaintenance.retain(spark, dir, cut) == ((0, 0L)))
    // an unmanifested store is never touched (no stats, no proof)
    val dir2 = tmpDir("ocf_retain_nomanifest")
    stratifiedStore(dir2)
    new java.io.File(dir2).listFiles()
      .filter(_.getName.startsWith("_manifest-")).foreach(_.delete())
    assert(OcfMaintenance.retain(spark, dir2, Long.MaxValue) == ((0, 0L)))
    assert(spark.read.format("graft-ocf").load(dir2).count() == 200L)
  }

  test("z-order rewrite prunes on BOTH partition and time where the " +
      "partition layout prunes only one") {
    zorderPruneCheck("morton", "ocf_zorder")
  }

  test("hilbert clustering rewrite prunes on BOTH dimensions " +
      "(curve option of the same maintenance op)") {
    zorderPruneCheck("hilbert", "ocf_hilbert")
  }

  private def zorderPruneCheck(curve: String, dirName: String): Unit = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.sources._
    val dir = tmpDir(dirName)
    // a grid store: every partition spans the FULL time range (the
    // shape where single-column clustering cannot serve both slices)
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime / 1000
    for (p <- 0 until 4) {
      (0 until 64)
        .map(i => (p * 1000L + i, s"payload_${p}_$i")).toDF("id", "props")
        .select(
          col("id").cast("string").cast("binary").as("key"),
          col("props").cast("binary").as("value"),
          lit("events").as("topic"),
          lit(p).cast("int").as("partition"),
          col("id").as("offset"),
          to_timestamp(from_unixtime(lit(base) + (col("id") % 1000) * 3600))
            .as("timestamp"),
          lit(0).cast("int").as("timestampType"))
        .write.format("graft-ocf")
        .mode(if (p == 0) "overwrite" else "append").save(dir)
    }
    val wantRows = spark.read.format("graft-ocf").load(dir)
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    // before: partition layout — a time-range slice prunes nothing
    val tsLo = Timestamp.valueOf("2026-01-01 10:00:00")
    val tsHi = new Timestamp(tsLo.getTime + 8L * 3600 * 1000)
    def tsSlice(d: String) = planFiles(d, Array(
      GreaterThanOrEqual("timestamp", tsLo), LessThan("timestamp", tsHi)))
    val beforeAll = planFiles(dir, Array.empty)
    assert(tsSlice(dir).size == beforeAll.size,
      "partition layout: every container spans the full time range")

    val (nb, na) = OcfMaintenance.clusterZOrder(spark, dir,
      targetFiles = 8, curve = curve)
    assert(nb == 4 && na == 8, s"got ($nb, $na)")
    // rows survive the rewrite exactly
    val got = spark.read.format("graft-ocf").load(dir)
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == wantRows)
    val afterAll = planFiles(dir, Array.empty)
    // time-range slice now prunes containers...
    assert(tsSlice(dir).size < afterAll.size,
      s"z-order: ts slice must prune, got ${tsSlice(dir).size} of " +
        s"${afterAll.size}")
    // ...and partition-equality still prunes too — both dimensions
    val byPart = planFiles(dir, Array(EqualTo("partition", 0)))
    assert(byPart.size < afterAll.size,
      s"z-order: partition slice must prune, got ${byPart.size} of " +
        s"${afterAll.size}")
    // the combined rectangle prunes at least as hard as either slice
    val rect = planFiles(dir, Array(EqualTo("partition", 0),
      GreaterThanOrEqual("timestamp", tsLo), LessThan("timestamp", tsHi)))
    assert(rect.size <= math.min(byPart.size, tsSlice(dir).size))
    assert(rect.map(_.end).sum < wantRows.size,
      "rectangle scan must read a strict subset of records")
  }

  test("advise fires exactly the rules a store's metadata warrants") {
    val s = spark
    def rules(dir: String, smallFiles: Int = 64): Map[String, String] =
      OcfMaintenance.advise(s, dir, smallFiles = smallFiles)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // a healthy 4-container stratified store: each container holds a
    // tight time slice -> no cluster_time; no debris; blooms absent
    val dir = tmpDir("ocf_advise")
    stratifiedStore(dir)
    val r1 = rules(dir)
    assert(!r1.contains("compact") && !r1.contains("vacuum") &&
      !r1.contains("cluster_time"), s"got $r1")
    assert(r1.contains("key_bloom"), "bloomless store -> informational")
    // low smallFiles threshold -> compact fires
    assert(rules(dir, smallFiles = 2).contains("compact"))
    // plant aged debris -> vacuum fires
    val f = new java.io.File(dir, ".part-dead-0-1.ocf.tmp")
    java.nio.file.Files.write(f.toPath, Array[Byte](1))
    assert(f.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(rules(dir).contains("vacuum"))
    // a time-grid store (every container spans the full range) ->
    // cluster_time fires
    import s.implicits._
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime / 1000
    def wideCommit(dir: String, from: Int, mode: String): Unit =
      (from until from + 100)
        .map(i => (i.toLong, s"p_$i")).toDF("id", "props")
        .select(col("id").cast("string").cast("binary").as("key"),
          col("props").cast("binary").as("value"),
          lit("events").as("topic"),
          (col("id") % 4).cast("int").as("partition"),
          col("id").as("offset"),
          to_timestamp(from_unixtime(lit(base) + (col("id") % 100) * 3600))
            .as("timestamp"),
          lit(0).cast("int").as("timestampType"))
        .write.format("graft-ocf").mode(mode).save(dir)
    val dir2 = tmpDir("ocf_advise_grid")
    wideCommit(dir2, 0, "overwrite")
    wideCommit(dir2, 100, "append")
    val r2 = OcfMaintenance.advise(s, dir2).collect()
      .map(_.getString(0)).toSet
    assert(r2.contains("cluster_time"), s"got $r2")
    // absent store -> empty advice, correct schema
    assert(OcfMaintenance.advise(s, dir + "_absent").collect().isEmpty)
  }

  test("vacuum collects aged dot-file debris, spares live temps and " +
      "every visible file") {
    val dir = tmpDir("ocf_vacuum")
    kafkaDf(0, 100).write.format("graft-ocf").mode("overwrite").save(dir)
    val before = spark.read.format("graft-ocf").load(dir).count()
    // plant crash debris: an orphaned task temp and a stale retiree,
    // both aged past the horizon; plus a FRESH in-flight temp
    def plant(name: String, ageMs: Long): java.io.File = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      assert(f.setLastModified(System.currentTimeMillis() - ageMs))
      f
    }
    val oldTmp = plant(".part-dead-0-7.ocf.tmp", 48L * 3600 * 1000)
    val oldStale = plant(".part-old-00001.ocf.stale", 48L * 3600 * 1000)
    val liveTmp = plant(".part-live-1-9.ocf.tmp", 0L)
    val (n, bytes) = OcfMaintenance.vacuum(spark, dir)
    assert(n == 2 && bytes == 6L, s"got ($n, $bytes)")
    assert(!oldTmp.exists() && !oldStale.exists())
    assert(liveTmp.exists(), "a temp younger than the horizon survives")
    // visible files untouched: store reads identically
    assert(spark.read.format("graft-ocf").load(dir).count() == before)
    // idempotent
    assert(OcfMaintenance.vacuum(spark, dir, 3600 * 1000) == ((0, 0L)))
    // missing dir: no-op
    assert(OcfMaintenance.vacuum(spark, dir + "_absent") == ((0, 0L)))
  }

  test("size retention keeps the newest containers within the budget") {
    val dir = tmpDir("ocf_retain_bytes")
    stratifiedStore(dir)
    val sizes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".ocf")).map(_.length()).sorted
    // budget for the two largest: the two oldest-by-timestamp must go
    val budget = sizes.takeRight(2).sum + sizes.head - 1
    val (nDel, recDel) = OcfMaintenance.retainBytes(spark, dir, budget)
    assert(nDel == 2 && recDel == 100L, s"got ($nDel, $recDel)")
    // survivors are the NEWEST by manifest max timestamp = partitions 2,3
    val left = spark.read.format("graft-ocf").load(dir)
      .select("partition").distinct().collect().map(_.getInt(0)).toSet
    assert(left == Set(2, 3))
  }

  test("a live stream survives retention truncation, Kafka-style") {
    val s = spark
    val dir = tmpDir("ocf_retain_stream")
    val ckpt = tmpDir("ocf_retain_stream_ckpt")
    stratifiedStore(dir)
    def run(): Set[Long] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = s.readStream.format("graft-ocf").load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("offset").collect().foreach(r => buf.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSet
    }
    assert(run() == (0L until 200L).toSet)
    // expire the two oldest containers AFTER they were consumed, then
    // append a new generation: the restarted cursor set must simply
    // drop the vanished files and deliver exactly the appended rows
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime * 1000L
    val (nDel, _) = OcfMaintenance.retain(spark, dir,
      base + 100L * 60 * 1000000)
    assert(nDel == 2)
    kafkaDf(200, 240).write.format("graft-ocf").mode("append").save(dir)
    assert(run() == (200L until 240L).toSet,
      "post-retention restart must deliver exactly the appended records")
  }

  test("schema evolution through the store scan: evolved (field added, " +
    "reordered) and older (field dropped) writer schemas read against " +
    "the fixed frame") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = tmpDir("ocf_evolve")
    kafkaDf(0, 10).write.format("graft-ocf").mode("overwrite").save(dir)

    // EVOLVED writer: a `headers` field added mid-record AND the field
    // order permuted — by-name resolution must skip the unknown field
    // wherever it sits and rebind every known one
    val evolved = new Schema.Parser().parse(
      """{"type":"record","name":"KafkaStoreRecord","fields":[
        |{"name":"offset","type":"long"},
        |{"name":"headers","type":"string"},
        |{"name":"key","type":["null","bytes"],"default":null},
        |{"name":"value","type":["null","bytes"],"default":null},
        |{"name":"topic","type":"string"},
        |{"name":"partition","type":"int"},
        |{"name":"timestamp_us","type":"long"},
        |{"name":"timestamp_type","type":"int"}]}""".stripMargin)
    // OLDER writer: `key` does not exist yet — the reader schema's
    // null default must fill it
    val older = new Schema.Parser().parse(
      """{"type":"record","name":"KafkaStoreRecord","fields":[
        |{"name":"value","type":["null","bytes"],"default":null},
        |{"name":"topic","type":"string"},
        |{"name":"partition","type":"int"},
        |{"name":"offset","type":"long"},
        |{"name":"timestamp_us","type":"long"},
        |{"name":"timestamp_type","type":"int"}]}""".stripMargin)

    def writeContainer(name: String, sch: Schema, offsets: Range)(
        fill: (GenericData.Record, Int) => Unit): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](sch))
      w.create(sch, new java.io.File(dir, name))
      try offsets.foreach { o =>
        val r = new GenericData.Record(sch)
        r.put("topic", "events")
        r.put("partition", 0)
        r.put("offset", o.toLong)
        r.put("timestamp_us", 0L)
        r.put("timestamp_type", 0)
        fill(r, o)
        w.append(r)
      } finally w.close()
    }
    writeContainer("zzz-evolved.ocf", evolved, 100 until 105) { (r, o) =>
      r.put("headers", s"h$o")
      r.put("key", java.nio.ByteBuffer.wrap(s"ek$o".getBytes))
      r.put("value", java.nio.ByteBuffer.wrap(s"ev$o".getBytes))
    }
    writeContainer("zzz-older.ocf", older, 200 until 205) { (r, o) =>
      r.put("value", java.nio.ByteBuffer.wrap(s"ov$o".getBytes))
    }

    val back = spark.read.format("graft-ocf").load(dir)
    assert(back.count() == 20)
    // evolved rows: known fields rebound by name, unknown field skipped
    val ev = back.filter(col("offset").between(100, 104))
      .select(col("key").cast("string"), col("value").cast("string"),
        col("offset"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(ev == (100 until 105)
      .map(o => (s"ek$o", s"ev$o", o.toLong)).toSet)
    // older rows: the dropped field reads as the reader-default null
    val old = back.filter(col("offset").between(200, 204))
      .select(col("key"), col("value").cast("string"))
      .collect().map(r => (Option(r.get(0)), r.getString(1)))
    assert(old.length == 5 && old.forall(_._1.isEmpty) &&
      old.map(_._2).toSet == (200 until 205).map(o => s"ov$o").toSet)
    // the PRUNED reader schema resolves against both variants too
    assert(back.select("offset").count() == 20)
    assert(back.filter(col("offset") >= 100).select("topic").count() == 10)
  }

  test("compact-by-key keeps latest-per-key with original offsets, " +
    "drops tombstoned keys on request, and a live stream survives") {
    val s = spark
    import s.implicits._
    def keyedGen(dir: String, v: Int): Unit =
      (0 until 10).map { k =>
        // key k3's FINAL record (v=2) is a tombstone (null value)
        val value: String = if (v == 2 && k == 3) null else s"v${v}_k$k"
        (k, value)
      }.toDF("k", "value")
        .select(
          concat(lit("k"), col("k")).cast("binary").as("key"),
          col("value").cast("binary").as("value"),
          lit("events").as("topic"),
          (col("k") % 2).cast("int").as("partition"),
          (col("k") * 10 + v).cast("long").as("offset"),
          lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("timestamp"),
          lit(0).as("timestampType"))
        .write.format("graft-ocf")
        .mode(if (v == 0) "overwrite" else "append").save(dir)
    val dir = tmpDir("ocf_compact_key")
    val ckpt = tmpDir("ocf_compact_key_ckpt")
    (0 until 3).foreach(keyedGen(dir, _))

    def run(): Set[Long] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = s.readStream.format("graft-ocf").load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("offset").collect().foreach(r => buf.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSet
    }
    // a reader consumes the full 30-record history...
    assert(run().size == 30)

    val (before, after) = OcfMaintenance.compactByKey(spark, dir)
    assert((before, after) == ((30L, 10L)))
    val got = spark.read.format("graft-ocf").load(dir)
      .select(col("key").cast("string"), col("value").cast("string"),
        col("offset"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // latest generation (v=2) per key, ORIGINAL offsets preserved,
    // and the tombstone retained by default
    val want = (0 until 10).map { k =>
      (s"k$k", if (k == 3) null else s"v2_k$k", k * 10L + 2L)
    }.toSet
    assert(got == want)

    // checkpoint recovery across the generation swap: old cursors
    // vanish harmlessly, the compacted survivors re-deliver ONCE
    // (at-least-once across a maintenance rewrite), then appends flow
    assert(run() == (0 until 10).map(k => k * 10L + 2L).toSet)
    kafkaDf(500, 505).write.format("graft-ocf").mode("append").save(dir)
    assert(run() == (500L until 505L).toSet,
      "post-compaction appends must deliver exactly once")

    // cleaner final-state semantics: dropping tombstones deletes k3
    val (b2, a2) = OcfMaintenance.compactByKey(spark, dir,
      dropTombstones = true)
    assert(b2 == 15L && a2 == 14L, s"got ($b2, $a2)")
    assert(spark.read.format("graft-ocf").load(dir)
      .filter(col("value").isNull).count() == 0)
  }

  test("time-clustered rewrite makes timestamp pruning effective") {
    import org.apache.spark.sql.sources._
    val s = spark
    import s.implicits._
    val dir = tmpDir("ocf_cluster")
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime / 1000
    // the micro-batch worst case: four commits, EACH spanning the full
    // time range (one per Kafka partition), so every container's
    // timestamp stats cover everything and time predicates prune zero
    for (p <- 0 until 4) {
      (0 until 200).map(i => (i.toLong, s"payload_${p}_$i"))
        .toDF("id", "props").select(
          col("id").cast("string").cast("binary").as("key"),
          col("props").cast("binary").as("value"),
          lit("events").as("topic"),
          lit(p).cast("int").as("partition"),
          (col("id") + p * 1000).as("offset"),
          to_timestamp(from_unixtime(lit(base) + col("id") * 60))
            .as("timestamp"),
          lit(0).as("timestampType"))
        .write.format("graft-ocf")
        .mode(if (p == 0) "overwrite" else "append").save(dir)
    }
    // first quarter of the time range
    val cut = new Timestamp((base + 50 * 60) * 1000)
    val filt: Array[Filter] = Array(LessThan("timestamp", cut))
    val beforePlan = planFiles(dir, filt)
    val allFiles = planFiles(dir, Array.empty)
    assert(allFiles.size >= 4)
    assert(beforePlan.size == allFiles.size,
      s"pre-cluster, every container spans the full range: " +
        s"${beforePlan.size} vs ${allFiles.size}")
    val expected = spark.read.format("graft-ocf").load(dir)
      .where(col("timestamp") < lit(cut))
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet

    val (nb, na) = OcfMaintenance.cluster(spark, dir, targetFiles = 8)
    assert(na == 8, s"targetFiles=8 must yield 8 containers, got $na " +
      s"(before: $nb)")

    // now containers are disjoint time slices: the same predicate
    // keeps only the slice(s) overlapping the first quarter
    val afterPlan = planFiles(dir, filt)
    assert(afterPlan.size <= 3,
      s"time pruning still reads ${afterPlan.size} of $na containers")
    // and describe() shows tight, non-degenerate time bounds
    val d = OcfMaintenance.describe(spark, dir)
      .select("min_ts_us", "max_ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(d.length == 8)
    val fullSpanUs = 199L * 60 * 1000000
    d.foreach { case (lo, hi) =>
      assert(hi - lo < fullSpanUs / 2,
        s"container time span not tightened: [$lo,$hi]")
    }
    // exactness never depends on layout
    val got = spark.read.format("graft-ocf").load(dir)
      .where(col("timestamp") < lit(cut))
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("compact-by-key racing TWO appending writers: the guard " +
    "aborts, no row lost or doubled, the retry converges over all " +
    "three generations") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ocf_ckey_race")
    // duplicate keys across offsets: key = id % 10, partition = id % 4
    def keyedDf(from: Int, until: Int) =
      (from until until).map(_.toLong).toDF("id").select(
        (col("id") % 10).cast("string").cast("binary").as("key"),
        concat(lit("v"), col("id")).cast("binary").as("value"),
        lit("events").as("topic"),
        (col("id") % 4).cast("int").as("partition"),
        col("id").as("offset"),
        lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("timestamp"),
        lit(0).as("timestampType"))
    keyedDf(0, 100).write.format("graft-ocf").mode("overwrite").save(dir)
    // the rewrite's input and witness, snapshotted BEFORE the writers
    // land (persist pins the input to the pre-race read)
    val input = graft.plans.GroupedTopK(
      s.read.format("graft-ocf").load(dir),
      Seq("topic", "partition", "key"), Seq(("offset", false)),
      k = 1, rankName = "rnk").drop("rnk").persist()
    input.count()
    val witness = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".ocf") && !n.startsWith("."))
      .sorted.mkString(",")
    // two independent writers commit epochs mid-rewrite
    keyedDf(100, 120).write.format("graft-ocf").mode("append").save(dir)
    keyedDf(120, 140).write.format("graft-ocf").mode("append").save(dir)
    // the stale-witness overwrite must abort — retiring the store
    // now would drop both writers' epochs
    intercept[java.util.ConcurrentModificationException] {
      input.write.format("graft-ocf")
        .option("expectedContainers", witness)
        .mode("overwrite").save(dir)
    }
    input.unpersist()
    // nothing lost, nothing doubled: all three generations intact
    val offs = s.read.format("graft-ocf").load(dir)
      .select("offset").as[Long].collect()
    assert(offs.length == 140 && offs.toSet == (0L until 140L).toSet,
      s"store corrupted after aborted rewrite: ${offs.length} rows")
    // the retry reads everything and keeps the TRUE latest per key:
    // ids 120..139 cover every (partition, key) residue class mod 20
    OcfMaintenance.compactByKey(s, dir)
    val survivors = s.read.format("graft-ocf").load(dir)
      .select("offset").as[Long].collect()
    assert(survivors.length == 20 &&
      survivors.toSet == (120L until 140L).toSet,
      s"wrong survivors: ${survivors.sorted.toSeq}")
  }

  test("retention racing a compaction rewrite converges: resurrection " +
    "is bounded to the raced pass, no live row lost, no duplicates") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ocf_retain_race")
    def tsDf(from: Int, until: Int, ts: String) =
      (from until until).map(_.toLong).toDF("id").select(
        col("id").cast("string").cast("binary").as("key"),
        concat(lit("v"), col("id")).cast("binary").as("value"),
        lit("events").as("topic"),
        (col("id") % 4).cast("int").as("partition"),
        col("id").as("offset"),
        lit(Timestamp.valueOf(ts)).as("timestamp"),
        lit(0).as("timestampType"))
    // two time generations in separate containers
    tsDf(0, 100, "2026-01-01 00:00:00").write.format("graft-ocf")
      .mode("overwrite").save(dir)
    tsDf(100, 200, "2026-06-01 00:00:00").write.format("graft-ocf")
      .mode("append").save(dir)
    val cutUs = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(Timestamp.valueOf("2026-03-01 00:00:00"))
    // the compaction's input, read and pinned BEFORE retention runs
    val input = s.read.format("graft-ocf").load(dir).persist()
    input.count()
    val witness = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".ocf") && !n.startsWith("."))
      .sorted.mkString(",")
    // retention deletes the expired generation mid-rewrite
    val (deleted, delRecords) = OcfMaintenance.retain(s, dir, cutUs)
    assert(deleted > 0 && delRecords == 100L,
      s"retention must claim the old generation: ($deleted, $delRecords)")
    // the rewrite commits with its stale witness: containers only
    // VANISHED (the guard watches for gained epochs), so it installs
    // its pre-retention snapshot — the expired rows resurrect, but
    // nothing is lost or doubled
    input.write.format("graft-ocf")
      .option("expectedContainers", witness)
      .mode("overwrite").save(dir)
    input.unpersist()
    val afterRace = s.read.format("graft-ocf").load(dir)
      .select("offset").as[Long].collect()
    assert(afterRace.length == 200 &&
      afterRace.toSet == (0L until 200L).toSet,
      s"race must not lose or double rows: ${afterRace.length}")
    // the rewrite merged both generations into partition-clustered
    // containers, so every container's manifest max-ts is now live and
    // a re-run of retention conservatively reclaims NOTHING — padding
    // expired rows is a space anomaly, never a correctness one
    val (_, r2) = OcfMaintenance.retain(s, dir, cutUs)
    assert(r2 == 0L,
      s"mixed containers must be kept conservatively, reclaimed $r2")
    val after2 = s.read.format("graft-ocf").load(dir)
      .select("offset").as[Long].collect()
    assert(after2.length == 200 && after2.toSet == (0L until 200L).toSet,
      "second retention pass must not corrupt the store")
    // query-level correctness is layout-independent: the time filter
    // serves exactly the live generation
    val live = s.read.format("graft-ocf").load(dir)
      .filter(col("timestamp") >=
        lit(Timestamp.valueOf("2026-03-01 00:00:00")))
      .select("offset").as[Long].collect()
    assert(live.length == 100 && live.toSet == (100L until 200L).toSet,
      s"live rows lost or doubled: ${live.length}")
    // physical reclaim after the race needs the time-clustered layout
    // (the cluster test proves tight slices); retention then converges
    OcfMaintenance.cluster(s, dir, targetFiles = 8)
    val (_, r3) = OcfMaintenance.retain(s, dir, cutUs)
    val finalRows = s.read.format("graft-ocf").load(dir)
      .select("offset").as[Long].collect()
    assert(finalRows.length == finalRows.toSet.size,
      "post-cluster retention doubled a row")
    assert((100L until 200L).toSet.subsetOf(finalRows.toSet),
      "post-cluster retention lost a live row")
    assert(finalRows.toSet.subsetOf((0L until 200L).toSet))
    assert(r3 >= 50L,
      s"time-clustered retention should reclaim most expired rows: $r3")
  }

  test("block-level ts index: the timestamp seek block-skips a " +
    "mega-container instead of decoding it from record 0") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ocf_tsidx")
    val baseUs = 1700000000000000L // 2023-11-14T22:13:20Z
    // one single-partition container, time-ordered (the streaming
    // sink's layout), 1000 records at 1-second spacing; index every
    // 100 records so the file carries 9 interior sync points
    val prev = sys.props.get("graft.ocf.tsIndexEvery")
    sys.props("graft.ocf.tsIndexEvery") = "100"
    try {
      (0 until 1000).map(_.toLong).toDF("id").select(
        col("id").cast("string").cast("binary").as("key"),
        col("id").cast("string").cast("binary").as("value"),
        lit("events").as("topic"), lit(0).as("partition"),
        col("id").as("offset"),
        timestamp_micros(lit(baseUs) + col("id") * 1000000L)
          .as("timestamp"),
        lit(0).as("timestampType"))
        .repartition(1)
        .write.format("graft-ocf").mode("overwrite").save(dir)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.ocf.tsIndexEvery") = v
        case None => sys.props.remove("graft.ocf.tsIndexEvery")
      }
    }
    val stats = OcfStore.manifestStats(dir, hconf.value).values.toSeq
    assert(stats.size == 1 && stats.head.tsIdx.size == 10,
      s"expected 10 index segments, got ${stats.map(_.tsIdx.size)}")
    // manifest JSON round-trips the index
    assert(OcfFileStats.fromJson(stats.head.toJson).contains(stats.head))

    // a deep seek (record 803) resolves exactly and decodes only the
    // records of ONE 100-record segment, not the 803 before it
    val before = OcfStore.seekRecordsDecoded.get()
    val cur = OcfStore.cursorsAtTimestamp(Seq(dir),
      baseUs + 803L * 1000000L, hconf.value)
    val decoded = OcfStore.seekRecordsDecoded.get() - before
    assert(cur.values.toSeq == Seq(803L), s"wrong cursor: $cur")
    assert(decoded <= 110L,
      s"seek decoded $decoded records — block index not applied")

    // one shared decode resolves start AND stop cursors of a time
    // slice; the sliced batch read stays exact on the indexed store
    val sliced = spark.read.format("graft-ocf")
      .option("startingTimestamp", (baseUs + 300L * 1000000L).toString)
      .option("endingTimestamp", (baseUs + 700L * 1000000L).toString)
      .load(dir).select("offset").as[Long].collect().toSet
    assert(sliced == (300L until 700L).toSet,
      s"time slice wrong: ${sliced.size} rows")

    // stats still short-circuit the edges: a seek before/after the
    // container's span touches no bytes
    val b2 = OcfStore.seekRecordsDecoded.get()
    assert(OcfStore.cursorsAtTimestamp(Seq(dir), baseUs - 1L,
      hconf.value).values.toSeq == Seq(0L))
    assert(OcfStore.cursorsAtTimestamp(Seq(dir),
      baseUs + 5000L * 1000000L, hconf.value).values.toSeq == Seq(1000L))
    assert(OcfStore.seekRecordsDecoded.get() == b2,
      "edge seeks must resolve from stats alone")
  }
}
