package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryProgress, Trigger}

import graft.engine.{KafkaShape, Monitoring}
import graft.ops.StreamOps
import graft.streaming.{CommitLogSink, CommitLogStream, StreamingPipelines}
import graft.streaming.SlidingWordCountStream.SliceTotal

/** The paper's pipeline as two streaming queries over one graft-ocf
  * store: decode → 10-min/2-s sliding word count on RocksDB, and the
  * per-trigger commit-log sink, the offset commit of every fetch.
  */
final case class Pipeline(wc: StreamingQuery, cl: StreamingQuery) {
  def stop(): Unit = { wc.stop(); cl.stop() }

  /** Blocks until both queries have completed a trigger that read data;
    * returns when the later of the two did, in epoch millis.
    */
  def firstData(): Double = {
    def done(q: StreamingQuery) =
      q.recentProgress.find(_.numInputRows > 0).map(ProgressLog.endMs)
    while (done(wc).isEmpty || done(cl).isEmpty) {
      Seq(wc, cl).foreach(_.exception.foreach(e => throw e))
      Thread.sleep(5)
    }
    math.max(done(wc).get, done(cl).get)
  }

  /** Blocks until both queries have consumed `records` records. */
  def awaitConsumed(records: Long, timeoutMs: Long): Unit = {
    def consumed(q: StreamingQuery) = Option(q.lastProgress)
      .map(p => Pipeline.cursors(p.sources.head.endOffset).values.sum)
      .getOrElse(0L)
    val until = System.currentTimeMillis() + timeoutMs
    while (consumed(wc) < records || consumed(cl) < records) {
      Seq(wc, cl).foreach(_.exception.foreach(e => throw e))
      require(System.currentTimeMillis() < until,
        s"queries did not consume $records records in $timeoutMs ms")
      Thread.sleep(5)
    }
  }
}

object Pipeline {
  val ClientId = "perfbench"

  /** Starts both queries. `out` collects the word-count output for
    * checking; None discards it.
    */
  def start(ctx: Ctx, store: String, ck: String, log: String,
            trigger: Trigger, opts: Map[String, String],
            out: Option[ConcurrentLinkedQueue[SliceTotal]]): Pipeline = {
    val spark = ctx.spark
    def source(): DataFrame = opts.foldLeft(
      spark.readStream.format("graft-ocf")) { case (r, (k, v)) =>
      r.option(k, v)
    }.load(store)
    val wcw = StreamingPipelines.wordCountStream2s(source()).writeStream
      .outputMode("append").trigger(trigger)
      .option("checkpointLocation", s"$ck/wc")
    val wc = out.fold(wcw.format("noop")) { q =>
      wcw.foreachBatch { (ds: Dataset[SliceTotal], _: Long) =>
        q.addAll(java.util.Arrays.asList(ds.collect(): _*))
        ()
      }
    }.start()
    val sink = new CommitLogSink(spark, ClientId, log)
    val sinkMs = ctx.sinkMs
    val cl = source().writeStream.trigger(trigger)
      .option("checkpointLocation", s"$ck/cl")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        sink.apply(df, id)
        sinkMs.add((System.nanoTime() - t0) / 1e6)
        ()
      }.start()
    Pipeline(wc, cl)
  }

  /** Head offset per partition, as a consumer starting from latest
    * would see it.
    */
  def heads(kafka: DataFrame): Map[Int, Long] =
    StreamOps.offsetBounds(kafka)
      .collect().map(r => r.getLong(0).toInt -> r.getLong(2)).toMap

  /** Last committed offset per partition in the commit log. */
  def committed(ctx: Ctx, log: String): Map[Int, Long] =
    CommitLogStream.committedOffsets(ctx.spark, log, Some(ClientId))
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap

  /** Checks that the commit log holds every head offset. */
  def checkOffsets(ctx: Ctx, kafka: DataFrame, log: String): Unit = {
    val h = heads(kafka)
    val c = committed(ctx, log)
    ctx.report.check("committed offsets equal offsetBounds heads",
      h == c, s"heads=${h.toSeq.sorted} committed=${c.toSeq.sorted}")
  }

  /** Timed engine calls on a commit log: offset recovery and the lag
    * report. The lag report joins the commit log with the head offsets
    * fetched first, as the reference's monitor asked the brokers for
    * them: joined straight against a graft-ocf scan it fails in dynamic
    * partition pruning (the source offers `timestamp` as a runtime
    * filter column after pruning it from the scan).
    */
  def engineCalls(ctx: Ctx, store: String, log: String): Unit = {
    def timed(name: String)(body: => Unit): Double = {
      val ms = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span(name)(body)
        (System.nanoTime() - t0) / 1e6
      }
      Stats.median(ms)
    }
    val spark = ctx.spark
    val c = timed("engine.committed_offsets")(
      CommitLogStream.committedOffsets(spark, log, Some(ClientId))
        .collect())
    var lag: Array[Row] = Array.empty
    val l = timed("engine.lag_report") {
      import spark.implicits._
      lag = Monitoring.lagReport(
        heads(spark.read.format("graft-ocf").load(store)).toSeq
          .toDF("partition", "offset"),
        CommitLogStream.committedOffsets(spark, log, Some(ClientId))
          .select(col("partition"), col("committed_offset").as("offset")))
        .collect()
    }
    ctx.report.layer("engine.committed_offsets_ms", c, "ms")
    ctx.report.layer("engine.lag_report_ms", l, "ms")
    ctx.report.check("lag report shows zero lag after the drain",
      lag.nonEmpty && lag.forall(_.getAs[Long]("lag") == 0L),
      lag.map(_.toString).mkString(" "))
  }

  /** Source→decode→noop prefix: how fast records leave the source
    * decoded, with no state behind them.
    */
  def decodeRate(ctx: Ctx, store: String, records: Long): Unit = {
    val spark = ctx.spark
    ctx.report.attempt("decode prefix") {
      val t0 = System.nanoTime()
      ctx.tracer.span("engine.decode_prefix") {
        val q = KafkaShape.decodeUtf8(
            spark.readStream.format("graft-ocf").load(store)).writeStream
          .format("noop")
          .option("checkpointLocation", ctx.dir(s"ck-decode-${t0}"))
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      val s = (System.nanoTime() - t0) / 1e9
      ctx.report.layer("engine.decode_rows_per_s", records / s, "1/s")
    }
  }

  private def num(m: java.util.Map[String, java.lang.Long],
                  k: String): Double =
    Option(m.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-layer figures of one word-count run, from its progress events,
    * its commit-log sink call times and the task log. Per-trigger times are medians
    * over triggers that read data; counters are sums; gauges are the
    * last trigger's value.
    */
  def layers(ctx: Ctx, wcProg: Seq[StreamingQueryProgress],
             run: BacklogLive.LiveRun): Unit = {
    val r = ctx.report
    val live = wcProg.filter(_.numInputRows > 0)
    if (live.isEmpty) return
    def med(f: StreamingQueryProgress => Double): Double =
      Stats.median(live.map(f))
    def ph(n: String) = med(ProgressLog.phase(_, n))
    val ops = live.flatMap(_.stateOperators)
    val last = live.last
    val lastOps = last.stateOperators
    r.layer("sources.latest_offset_ms", ph("latestOffset"), "ms")
    r.layer("sources.get_batch_ms", ph("getBatch"), "ms")
    r.layer("sources.offset_json_bytes",
      live.map(_.sources.head.endOffset.length).max.toDouble, "bytes")
    r.layer("sources.containers", run.containers.toDouble, "count")
    r.layer("sources.records_behind_latest", med(p =>
      Option(p.sources.head.metrics.get("recordsBehindLatest"))
        .map(_.toDouble).getOrElse(0.0)), "count")
    r.layer("streaming.state_rows_total",
      lastOps.map(_.numRowsTotal).sum.toDouble, "count")
    r.layer("streaming.state_rows_updated",
      ops.map(_.numRowsUpdated).sum.toDouble, "count")
    r.layer("streaming.state_rows_removed",
      ops.map(_.numRowsRemoved).sum.toDouble, "count")
    r.layer("streaming.state_update_ms",
      med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble), "ms")
    r.layer("streaming.state_commit_ms",
      med(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
    r.layer("streaming.state_memory_bytes",
      lastOps.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    r.layer("streaming.rows_dropped_by_watermark",
      ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    Seq("numRegisteredTimers" -> "timers_registered",
      "numDeletedTimers" -> "timers_deleted",
      "numExpiredTimers" -> "timers_expired").foreach { case (k, n) =>
      r.layer(s"streaming.$n",
        ops.map(o => num(o.customMetrics, k)).sum, "count")
    }
    r.layer("streaming.commit_log_sink_ms",
      if (run.sinkMs.isEmpty) 0.0 else Stats.median(run.sinkMs), "ms")
    r.layer("streaming.commit_log_files", run.logFiles, "count")
    r.layer("trigger.planning_ms", ph("queryPlanning"), "ms")
    r.layer("trigger.add_batch_ms", ph("addBatch"), "ms")
    r.layer("trigger.wal_commit_ms", ph("walCommit"), "ms")
    r.layer("trigger.commit_offsets_ms", ph("commitOffsets"), "ms")
    val (from, to) = (ProgressLog.startMs(live.head).toLong,
      ProgressLog.endMs(live.last).toLong)
    r.layer("trigger.shuffle_bytes", ctx.tasks.tasksIn(from, to)
      .filter(_.group == run.wcQueryId).map(_.shuffleWrite).sum.toDouble /
        live.size, "bytes")
  }

  /** Child spans of one trigger: its phases, laid end to end in the
    * order Spark runs them.
    */
  def traceTriggers(ctx: Ctx, name: String,
                    prog: Seq[StreamingQueryProgress]): Unit =
    if (ctx.tracer.enabled) prog.filter(_.numInputRows > 0).foreach { p =>
      val s = ProgressLog.startMs(p)
      val id = ctx.tracer.recordEpoch(s"$name.trigger", s,
        ProgressLog.endMs(p), ctx.tracer.current)
      var at = s
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
        "addBatch", "commitOffsets").foreach { ph =>
        val d = ProgressLog.phase(p, ph)
        ctx.tracer.recordEpoch(s"trigger.$ph", at, at + d, id)
        at += d
      }
    }

  def countFiles(dir: String, suffix: String): Double = {
    val root = new java.io.File(dir)
    if (!root.exists) 0.0
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .count(_.toString.endsWith(suffix)).toDouble
  }

  /** Offset cursor per container name, from a source offset's JSON. */
  def cursors(json: String): Map[String, Long] =
    if (json == null) Map.empty
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(json)
      n.properties().asScala.map { e =>
        e.getKey.substring(e.getKey.lastIndexOf('/') + 1) ->
          e.getValue.asLong()
      }.toMap
    }
}
