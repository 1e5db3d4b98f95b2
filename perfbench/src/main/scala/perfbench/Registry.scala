package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `registry_iterative`: registry rows through `SparkEntry.queries`,
  * each fully materialized with a noop write. The first four belong to
  * the componentMin / iterative family, bound by driver round-trips;
  * `copurchase_topk` is the control, the row with the most task time
  * and the least driver-only time. No streaming layer runs here.
  */
object Registry {
  val Rows = Seq("dbscan_cluster", "graph_communities",
    "golden_record_capped", "dedup_corpus", "copurchase_topk")
  /** Row counts of the repository's sf0.01 fixture, the scale of its
    * DuckDB-oracle correctness gate: at sf0.1 the five oracles alone
    * take about a minute per run, which the benchmark's time budget
    * does not hold.
    */
  val Sf = 0.01
  val SetupRepeats = 3

  final case class Exec(row: String, t0: Long, tAction: Long, t1: Long) {
    def ms: Double = (t1 - t0).toDouble
  }

  private def exec(ctx: Ctx, dir: String, row: String): Option[Exec] =
    ctx.report.attempt(s"query $row") {
      val t0 = System.currentTimeMillis()
      val df = SparkEntry.queries(row)(ctx.spark, dir)
      val tAction = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      Exec(row, t0, tAction, System.currentTimeMillis())
    }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    val tables = r.phase("generate")(RegistryData.generate(ctx.seed, Sf))
    r.info("registry") = Map("rows" -> Rows, "sf" -> Sf,
      "tables" -> tables.map { case (n, (_, rows)) => n -> rows.size })
    val setups = r.phase("setup")((1 to SetupRepeats).flatMap { i =>
      r.attempt(s"write tables $i") {
        val t0 = System.nanoTime()
        ctx.tracer.span("registry.write_tables")(
          RegistryData.write(spark, tables, ctx.dir(s"tables-$i")))
        (System.nanoTime() - t0) / 1e9
      }
    })
    if (setups.size < SetupRepeats) return
    r.metric("setup_s", Stats.median(setups), "s")
    val dir = ctx.dir(s"tables-$SetupRepeats")

    // the check pass doubles as warm-up: each row's result is written
    // out for the DuckDB oracle compare, which runs after this process
    val out = ctx.dir("out")
    val ok = r.phase("warmup")(Rows.filter { row =>
      r.attempt(s"query $row (check pass)") {
        SparkEntry.queries(row)(spark, dir).write.parquet(s"$out/$row")
      }.isDefined
    })
    Files.write(Paths.get(out, "tables.json"),
      Json(Map("dir" -> dir, "tables" -> tables.keys.toSeq.sorted))
        .getBytes(UTF_8))
    Files.write(Paths.get(out, "oracle_sql.json"), Json(ok.map(row =>
      row -> SparkEntry.oracleSql(row)).toMap).getBytes(UTF_8))
    if (ok.size < Rows.size) return

    val passes = r.phase("measure") {
      val deadline = System.nanoTime() + ctx.seconds * 1000000000L
      var done = Vector.empty[Seq[Exec]]
      var failed = false
      while (!failed && (done.isEmpty || System.nanoTime() < deadline)) {
        val pass = Rows.flatMap(exec(ctx, dir, _))
        failed = pass.size < Rows.size
        if (!failed) done :+= pass
      }
      if (failed) Vector.empty else done
    }
    if (passes.isEmpty) return
    r.info("passes") = passes.size
    // end-to-end figures from per-row medians, so no row hides behind
    // the others: the geometric mean weighs every row the same whatever
    // its length (a row that slows by f moves it by f^(1/5)), the
    // throughput counts whole passes, and the tail is the slowest row's
    val byRow = Rows.map(row => passes.flatten.filter(_.row == row).map(_.ms))
    val medians = byRow.map(Stats.median)
    r.metric("latency_p50_ms",
      math.exp(medians.map(math.log).sum / medians.size), "ms")
    r.metric("latency_p99_ms",
      byRow.map(ms => Stats.quantile(ms.map((_, 1L)), 0.99)).max, "ms")
    r.metric("throughput_per_s", 1000.0 / medians.sum, "1/s")
    Rows.zip(medians).foreach { case (row, ms) =>
      r.extra(s"registry.query_s.$row", ms / 1000.0, "s")
    }

    // the listener runs in every run, so the traced run reads the
    // layers of the last timed pass; nothing is re-run with spans
    if (r.traced) r.phase("trace") {
      ctx.settle()
      passes.last.foreach(layers(ctx, _))
    }
  }

  /** Jobs, stages and task totals of one execution from the listener,
    * split at the moment the action began, plus its spans.
    */
  private def layers(ctx: Ctx, e: Exec): Unit = {
    val r = ctx.report
    val build = ctx.tasks.jobsIn(e.t0, e.tAction)
    val action = ctx.tasks.jobsIn(e.tAction, e.t1)
    val tasks = ctx.tasks.tasksIn(e.t0, e.t1)
    val p = s"queries.${e.row}"
    r.layer(s"$p.jobs_build", build.size.toDouble, "count")
    r.layer(s"$p.jobs_action", action.size.toDouble, "count")
    r.layer(s"$p.stages", (build ++ action).map(_.stages).sum.toDouble,
      "count")
    r.layer(s"$p.driver_only_ms", ctx.tasks.idleMs(e.t0, e.t1).toDouble,
      "ms")
    r.layer(s"$p.executor_run_ms", tasks.map(_.runMs).sum.toDouble, "ms")
    val taskMs = tasks.map(t => (t.endMs - t.startMs).toDouble)
    r.layer(s"$p.longest_task_ms", taskMs.maxOption.getOrElse(0.0), "ms")
    r.layer(s"$p.median_task_ms",
      if (taskMs.isEmpty) 0.0 else Stats.median(taskMs), "ms")
    r.layer(s"$p.shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble,
      "bytes")
    r.layer(s"$p.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble,
      "bytes")
    r.layer(s"$p.spill_bytes", tasks.map(_.spill).sum.toDouble, "bytes")
    val t = ctx.tracer
    val id = t.recordEpoch(s"query.${e.row}", e.t0.toDouble,
      e.t1.toDouble, t.current)
    val b = t.recordEpoch("build", e.t0.toDouble, e.tAction.toDouble, id)
    val a = t.recordEpoch("action", e.tAction.toDouble, e.t1.toDouble, id)
    build.foreach(j =>
      t.recordEpoch(s"job.${j.id}", j.startMs.toDouble, j.endMs.toDouble, b))
    action.foreach(j =>
      t.recordEpoch(s"job.${j.id}", j.startMs.toDouble, j.endMs.toDouble, a))
  }
}

/** Seeded tables with the schemas, row counts and value laws of the
  * repository's fixtures at scale factor `sf`: 150,000·sf customers,
  * 1,500,000·sf orders over uniform customers, Poisson(4) lineitems per
  * order over 200,000·sf uniform parts, max(500, 50,000·sf) documents
  * of 10 to 99 words from a 31-word vocabulary, and max(500,
  * 20,000·sf) isotropic unit 64-d embeddings. One document in twenty
  * re-posts an earlier one with one word changed, which gives the
  * fixture's share of near duplicates (24 of 500 at sf0.01).
  */
object RegistryData {
  type Table = (StructType, IndexedSeq[Row])

  private val Words = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val Langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Array("F", "O", "P")
  private val Flags = Array("A", "N", "R")
  /** 1995-01-01T00:00:00Z in epoch millis. */
  private val Day0 = 788918400000L
  private val DayMs = 86400000L

  private def f(name: String, t: DataType) = StructField(name, t)
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  def generate(seed: Long, sf: Double): Map[String, Table] = {
    val rng = new SplittableRandom(seed ^ 0x5eed5eedL)
    val nCust = (150000 * sf).toInt
    val nDocs = math.max(500, (50000 * sf).toInt)
    val nVecs = math.max(500, (20000 * sf).toInt)
    val nOrders = (1500000 * sf).toInt
    val nParts = (200000 * sf).toInt
    val nSupps = (10000 * sf).toInt

    val customer = (0 until nCust).map { i =>
      Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        cents(rng.nextDouble(-999.99, 9999.99)),
        Segments(rng.nextInt(Segments.length)))
    }
    val docText = new Array[Array[String]](nDocs)
    val documents = (0 until nDocs).map { i =>
      // one document in twenty re-posts an earlier one with one word
      // changed: the near duplicates dedup has to find
      val words =
        if (i > 0 && rng.nextInt(20) == 0) {
          val w = docText(rng.nextInt(i)).clone()
          w(rng.nextInt(w.length)) = "dup"
          w
        } else Array.fill(10 + rng.nextInt(90))(
          Words(rng.nextInt(Words.length)))
      docText(i) = words
      val text = words.mkString(" ")
      Row(i.toLong, text, Langs(rng.nextInt(Langs.length)),
        s"src${i % 20}", text.length.toLong)
    }
    val embeddings = (0 until nVecs).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }
    val orders = (0 until nOrders).map { i =>
      Row(i.toLong, rng.nextInt(nCust).toLong,
        Statuses(rng.nextInt(3)),
        cents(rng.nextDouble(1000.0, 500000.0)),
        new java.sql.Timestamp(Day0 + rng.nextInt(2404) * DayMs),
        Priorities(rng.nextInt(Priorities.length)))
    }
    val lineitem = (0 until nOrders * 4).map { _ =>
      val qty = 1 + rng.nextInt(50)
      Row(rng.nextInt(nOrders).toLong, rng.nextInt(nParts).toLong,
        rng.nextInt(nSupps).toLong, 1 + rng.nextInt(7), qty.toDouble,
        cents(qty * rng.nextDouble(900.0, 2100.0)),
        rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
        Flags(rng.nextInt(3)), Statuses(rng.nextInt(2)),
        new java.sql.Timestamp(Day0 + rng.nextInt(2500) * DayMs))
    }
    Map(
      "customer" -> (StructType(Seq(f("c_custkey", LongType),
        f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        customer),
      "documents" -> (StructType(Seq(f("doc_id", LongType),
        f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))), documents),
      "embeddings" -> (StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
        embeddings),
      "orders" -> (StructType(Seq(f("o_orderkey", LongType),
        f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
        f("o_orderpriority", StringType))), orders),
      "lineitem" -> (StructType(Seq(f("l_orderkey", LongType),
        f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
        f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
        lineitem))
  }

  /** One parquet directory per table, `<dir>/<name>.parquet`, the
    * layout `graft.engine.Tables` reads.
    */
  def write(spark: SparkSession, tables: Map[String, Table],
            dir: String): Unit =
    tables.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 4), schema)
        .write.parquet(s"$dir/$name.parquet")
    }
}
