package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.engine.KafkaShape
import graft.ops.StreamOps
import graft.streaming.SlidingWordCountStream.SliceTotal

/** `wordcount_backlog_live`: the paper's pipeline, as two streaming
  * queries (word count, commit-log sink), through the three regimes a
  * deployment sees. Each regime has its own store and checkpoints.
  *
  *  1. Live: an open loop. A generator thread, off the Spark executors,
  *     writes one plain Avro container per partition per tick at a fixed
  *     rate and renames it into the store; the queries run at the
  *     reference's 2 s trigger. Small triggers make per-trigger fixed
  *     costs dominate: store listing, the offset JSON that grows with
  *     every container, planning, the state-store commit, the WAL and
  *     one commit-log file per partition per trigger. Records fall due
  *     evenly across their tick, at 500 per second; a record's latency
  *     runs from its due time to the end of the word-count trigger that
  *     consumed it. Warm-up ticks are excluded.
  *  2. Restart: both live queries restart on their checkpoints and the
  *     commit log they wrote, with one new tick waiting.
  *  3. Catch-up: a backlog written through OcfWrite in the default
  *     (partition) layout is drained under `maxRecordsPerTrigger`. It is
  *     bound by bulk read, decode and state-update throughput; large
  *     triggers amortize per-trigger fixed costs.
  */
object BacklogLive {
  val Records = 80000
  val PerTrigger = 20000
  /** Event-time spacing of backlog records: 4,000 records per second. */
  val StepUs = 250L
  val CatchUpOpts = Map("maxRecordsPerTrigger" -> PerTrigger.toString)

  /** Records per second: low enough that the 2 s triggers, bound by
    * per-trigger fixed costs, keep up on a 4-vCPU VM.
    */
  val Rate = 500
  val TickMs = 500
  val PerTick = Rate * TickMs / 1000
  val TriggerMs = 2000L
  /** Long enough for the first, cold triggers to catch up. */
  val WarmMs = 6000
  /** Live records the commit log does not hold this long after the
    * generator's last write count as uncommitted: two trigger intervals
    * hold the next trigger whatever its phase, and one more.
    */
  val DeadlineMs = 2 * TriggerMs
  /** Live event time starts where the backlog's ends. */
  val LiveStartUs = Gen.BaseUs + Records * StepUs
  val SetupRepeats = 3

  /** One tick's container for one partition; its records hold the
    * positions `first until first + records` of the tick, and the
    * partition's offsets up to `lastOffset`.
    */
  final case class Container(name: String, bytes: Array[Byte],
                             first: Int, records: Int, partition: Int,
                             lastOffset: Long)

  /** What the live regime leaves for its layer figures. */
  final case class LiveRun(t0: Long, wcRunId: java.util.UUID,
                           clRunId: java.util.UUID, wcQueryId: String,
                           sinkMs: Seq[Double], containers: Int,
                           logFiles: Double)

  final case class Drain(startMs: Double, tokensPerS: Double,
                         droppedShare: Double,
                         prog: Seq[StreamingQueryProgress])

  private def put(store: String, c: Container): Unit = {
    val tmp = Paths.get(store, "." + c.name)
    Files.write(tmp, c.bytes)
    Files.move(tmp, Paths.get(store, c.name),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def write(ctx: Ctx, recs: Seq[Rec], dir: String): Unit = {
    val spark = ctx.spark
    spark.createDataFrame(
        spark.sparkContext.parallelize(recs.map(_.row), ctx.cores),
        KafkaShape.schema)
      .write.format("graft-ocf").mode("append").save(dir)
  }

  /** Drains a backlog store under admission control from the checkpoint
    * in `ck`. Fails (None) when a query throws or the word count reads
    * another number of records than the store holds.
    */
  def drain(ctx: Ctx, store: String, ck: String, log: String,
            records: Long, tokens: Long, tag: String): Option[Drain] =
    ctx.report.attempt(s"catch-up drain $tag") {
      val t0 = System.currentTimeMillis().toDouble
      val p = Pipeline.start(ctx, store, ck, log,
        Trigger.ProcessingTime(0L), CatchUpOpts, None)
      try { p.wc.processAllAvailable(); p.cl.processAllAvailable() }
      finally p.stop()
      ctx.settle()
      val prog = ctx.progress.of(p.wc.runId).filter(_.numInputRows > 0)
      val read = prog.map(_.numInputRows).sum
      require(read == records, s"word count read $read of $records records")
      val dropped = prog.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      val done = prog.map(ProgressLog.endMs).max - t0
      Drain(t0, (tokens - dropped) / (done / 1000.0),
        dropped.toDouble / tokens, prog)
    }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val warmTicks = WarmMs / TickMs
    val nTicks = warmTicks + ctx.seconds * 1000 / TickMs
    val gen = new Gen(ctx.seed)
    // live ticks, plus one for the restart, serialized before any clock
    // starts: the generator thread only writes and renames
    val (recs, ticks) = r.phase("generate") {
      val b = gen.backlog(Records, StepUs)
      (b, (0 to nTicks).map { k =>
        val parts = gen.tick(k, PerTick, TickMs * 1000L, LiveStartUs)
        val firsts = parts.scanLeft(0)(_ + _.size)
        parts.zipWithIndex.map { case (rs, p) =>
          Container(f"t$k%06d-p$p.ocf", Gen.container(rs), firsts(p),
            rs.size, p, rs.lastOption.fold(-1L)(_.offset))
        }
      })
    }
    val tokens = recs.map(_.tokens.toLong).sum
    r.info("backlog") = Map("records" -> Records, "tokens" -> tokens,
      "max_records_per_trigger" -> PerTrigger, "event_step_us" -> StepUs)
    r.info("live") = Map("records_per_s" -> Rate, "tick_ms" -> TickMs,
      "trigger_ms" -> TriggerMs, "warmup_ms" -> WarmMs, "ticks" -> nTicks,
      "deadline_ms" -> DeadlineMs)
    r.info("vocabulary") = Gen.Vocab
    r.info("partitions") = Gen.Partitions

    // a tenth of the backlog written first, untimed, so that the first
    // timed write does not carry the JVM's warm-up and the median of
    // three is not the slower of two
    val setups = r.phase("setup") {
      r.attempt("write warm-up backlog")(
        write(ctx, recs.take(Records / 10), ctx.dir("store-warmup")))
      (1 to SetupRepeats).flatMap { i =>
        r.attempt(s"write backlog $i") {
          val t0 = System.nanoTime()
          ctx.tracer.span("sources.ocf_write")(
            write(ctx, recs, ctx.dir(s"store-$i")))
          (System.nanoTime() - t0) / 1e9
        }
      }
    }
    if (setups.size < SetupRepeats) return
    r.metric("setup_s", Stats.median(setups), "s")

    // live: both queries on a fresh store at the 2 s trigger, with no
    // admission limit, while the generator writes ticks into it
    val store = ctx.dir("live")
    val ck = ctx.dir("ck-live")
    val log = ctx.dir("log-live")
    Files.createDirectories(Paths.get(store))
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val liveRecords = ticks.take(nTicks).flatten.map(_.records.toLong).sum
    val late = new Array[Long](nTicks)
    val emitted = new ConcurrentLinkedQueue[SliceTotal]()
    var lastWrite = 0L
    val run = r.phase("live")(r.attempt("live run") {
      val p = Pipeline.start(ctx, store, ck, log, trigger, Map.empty,
        Some(emitted))
      val genError = new AtomicReference[Throwable]()
      // Spark starts processing-time triggers on multiples of the
      // interval; tick intervals start a quarter tick after those
      // instants, so every run sees the same phase between the two
      val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs +
        TickMs / 4
      val producer = new Thread(() =>
        try (0 until nTicks).foreach { k =>
          // a tick's records fall due across its interval; its
          // containers are written when the last one is due
          val due = t0 + (k + 1) * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          ticks(k).foreach(put(store, _))
          lastWrite = System.currentTimeMillis()
          late(k) = lastWrite - due
        } catch { case e: Throwable => genError.set(e) },
        "perfbench-generator")
      producer.setDaemon(true)
      producer.start()
      producer.join()
      Option(genError.get).foreach(e => throw e)
      try p.awaitConsumed(liveRecords, 60000L)
      finally p.stop()
      // the layer figures of this regime, before the restart and the
      // catch-up add their own sink calls and containers
      val sinkMs = ctx.sinkMs.asScala.toSeq
      ctx.sinkMs.clear()
      val containers = new java.io.File(store).list()
        .count(n => n.endsWith(".ocf") && !n.startsWith("."))
      LiveRun(t0, p.wc.runId, p.cl.runId, p.wc.id.toString, sinkMs,
        containers, Pipeline.countFiles(log, ".parquet"))
    })
    if (run.isEmpty) return
    val LiveRun(t0, runId, clRunId, _, _, _, _) = run.get
    ctx.settle()
    val prog = ctx.progress.of(runId).filter(_.numInputRows > 0)
    val clEnds = ctx.progress.of(clRunId).filter(_.numInputRows > 0)
      .map(q => (ProgressLog.endMs(q),
        Pipeline.cursors(q.sources.head.endOffset)))

    // the commit log holds a container's records once the commit-log
    // trigger whose end offset covers them has ended: its foreachBatch
    // wrote them before the trigger committed
    val liveContainerList = ticks.take(nTicks).flatten.filter(_.records > 0)
    val committedAt = liveContainerList.map { c =>
      c -> clEnds.find(_._2.getOrElse(c.name, -1L) >= c.records).map(_._1)
    }
    val uncommitted = committedAt.collect {
      case (c, at) if at.forall(_ > lastWrite + DeadlineMs) => c.records
    }.sum
    r.extra("live.uncommitted_share",
      uncommitted.toDouble / liveRecords, "share")
    if (committedAt.forall(_._2.isDefined))
      r.extra("live.commit_catchup_ms",
        committedAt.map(_._2.get).max - lastWrite, "ms")
    val lastOffsets = liveContainerList
      .groupMapReduce(_.partition)(_.lastOffset)(math.max)
    val committedNow = Pipeline.committed(ctx, log)
    r.check("commit log holds every live record",
      committedAt.forall(_._2.isDefined) && committedNow == lastOffsets,
      s"${committedAt.count(_._2.isEmpty)} containers never committed; " +
        s"last=${lastOffsets.toSeq.sorted} " +
        s"committed=${committedNow.toSeq.sorted}")
    r.extra("live.generator_late_ms", late.max.toDouble, "ms")
    r.info("generator_late_ms") = Map("mean" -> late.sum.toDouble / nTicks,
      "max" -> late.max, "ticks" -> nTicks)

    // the trigger that consumed each container: the first whose end
    // offset covers all of its records
    val ends = prog.map(q => (ProgressLog.endMs(q),
      Pipeline.cursors(q.sources.head.endOffset)))
    val measured = (warmTicks until nTicks).flatMap { k =>
      ticks(k).filter(_.records > 0).map { c =>
        (k, c, ends.find(_._2.getOrElse(c.name, -1L) >= c.records)
          .map(_._1))
      }
    }
    val missing = measured.filter(_._3.isEmpty).map(_._2.name)
    r.check("every generated container was consumed", missing.isEmpty,
      s"missing=${missing.take(5).mkString(",")}")
    if (missing.nonEmpty) return
    val step = TickMs.toDouble / PerTick
    val lat = measured.flatMap { case (k, c, at) =>
      (c.first until c.first + c.records).map(i =>
        (at.get - (t0 + k * TickMs + i * step), 1L))
    }
    r.metric("latency_p50_ms", Stats.quantile(lat, 0.5), "ms")
    r.metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms")
    r.info("latency_samples") = lat.map(_._2).sum

    ticks(nTicks).foreach(put(store, _))
    val restart = r.phase("restart")(r.attempt("restart") {
      val r0 = System.currentTimeMillis()
      val p = Pipeline.start(ctx, store, ck, log, trigger, Map.empty,
        Some(emitted))
      try (p.firstData() - r0) / 1000.0
      finally p.stop()
    })
    restart.foreach(s => r.extra("live.restart_s", s, "s"))

    // each backlog copy the setup wrote is drained once, and the median
    // drain reported: one drain's throughput swung by a fifth from run
    // to run
    val backlog = ctx.dir(s"store-$SetupRepeats")
    val drains = r.phase("catch-up")((1 to SetupRepeats).flatMap { i =>
      drain(ctx, ctx.dir(s"store-$i"), ctx.dir(s"ck-catch-up-$i"),
        ctx.dir(s"log-catch-up-$i"), Records, tokens, s"timed $i")
    })
    r.info("catch_up") = drains.map(d => Map(
      "tokens_per_s" -> d.tokensPerS,
      "start_to_first_trigger_ms" -> (ProgressLog.startMs(d.prog.head) -
        d.startMs),
      "trigger_ms" -> d.prog.map(ProgressLog.phase(_, "triggerExecution"))))
    val catchUp = Option.when(drains.size == SetupRepeats)(
      drains.sortBy(_.tokensPerS).apply(SetupRepeats / 2))
    catchUp.foreach { d =>
      r.metric("throughput_per_s", d.tokensPerS, "1/s")
      r.extra("backlog.tokens_per_s", d.tokensPerS, "1/s")
      r.extra("backlog.dropped_share", d.droppedShare, "share")
    }

    r.phase("check") {
      val kafka = ctx.spark.read.format("graft-ocf").load(store).cache()
      checkTotals(ctx, kafka, emitted)
      Pipeline.checkOffsets(ctx, kafka, log)
      kafka.unpersist()
    }

    if (r.traced) r.phase("trace") {
      val t = ctx.tracer
      t.recordEpoch("live", t0.toDouble, ends.map(_._1).max, t.current)
      Pipeline.traceTriggers(ctx, "live", prog)
      r.layer("sources.write_rows_per_s", Records / Stats.median(setups),
        "1/s")
      Pipeline.layers(ctx, prog, run.get)
      Pipeline.engineCalls(ctx, store, log)
      Pipeline.decodeRate(ctx, backlog, Records)
      catchUp.foreach { d =>
        t.recordEpoch("catch-up", ProgressLog.startMs(d.prog.head),
          ProgressLog.endMs(d.prog.last), t.current)
        Pipeline.traceTriggers(ctx, "catch-up", d.prog)
      }
      r.layer("backlog.local1_tokens_per_s", singleThread(ctx, tokens),
        "1/s")
    }
  }

  /** The catch-up drain on `local[1]`: the single-thread scaling
    * reference. It replaces the run's session, so it runs last.
    */
  private def singleThread(ctx: Ctx, tokens: Long): Double = {
    ctx.spark.stop()
    val one = new Ctx(Main.session("local[1]", 1, ctx.work), 1, ctx.work,
      ctx.seed, ctx.seconds, ctx.report, ctx.tracer)
    ctx.tracer.span("catch-up.local1")(
      drain(one, ctx.dir("store-1"), ctx.dir("ck-local1"),
        ctx.dir("log-local1"), Records, tokens, "local[1]"))
      .map(_.tokensPerS).getOrElse(0.0)
  }

  /** The streamed totals (latest count per word and slice, across the
    * run and the restart) must equal the batch sliding count over the
    * same store.
    */
  private def checkTotals(ctx: Ctx, kafka: DataFrame,
                          emitted: ConcurrentLinkedQueue[SliceTotal]): Unit =
    ctx.report.attempt("word-count totals check") {
      val streamed = emitted.asScala.groupMapReduce(
        t => (t.word, t.sliceTsUs))(_.cnt)(math.max)
      val batch = StreamOps.wordCountSlidingSlices(KafkaShape.decodeUtf8(kafka))
        .select(col("word"), unix_micros(col("slice_ts")), col("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val differ = (streamed.keySet ++ batch.keySet)
        .count(k => streamed.get(k) != batch.get(k))
      ctx.report.check("live totals equal wordCountSlidingSlices",
        differ == 0 && batch.nonEmpty,
        s"${batch.size} batch rows, $differ differ")
    }
}
