package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** What every workload needs: the session, its listeners, the report,
  * the tracer and a private work directory.
  */
final class Ctx(val spark: SparkSession, val cores: Int, val work: Path,
                val seed: Long, val seconds: Int, val report: Report,
                val tracer: Tracer) {
  val progress = new ProgressLog
  val tasks = new TaskLog
  /** Wall time of each commit-log sink call, in ms. */
  val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  spark.streams.addListener(progress)
  spark.sparkContext.addSparkListener(tasks)

  def dir(name: String): String = work.resolve(name).toString
  def settle(): Unit = BenchBus.drain(spark.sparkContext)
}

/** Entry point of one benchmark run:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --out <file>`. Writes the full report as JSON to `--out`.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "wordcount_backlog_live" -> BacklogLive.run,
    "registry_iterative" -> Registry.run)

  def session(master: String, cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v
    }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val report = new Report(workload, seed, traced)
    val tracer = new Tracer(traced)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val cores = Runtime.getRuntime.availableProcessors
    report.info("nproc") = cores
    report.info("load_before") = os.getSystemLoadAverage
    report.info("seconds") = seconds
    var spark: SparkSession = null
    try {
      spark = report.phase("session")(session(s"local[$cores]", cores, work))
      report.info("spark_version") = spark.version
      report.info("spark_conf") = spark.conf.getAll
        .filter { case (k, _) => k.startsWith("spark.sql.") ||
          k == "spark.master" }
      val ctx = new Ctx(spark, cores, work, seed, seconds, report, tracer)
      val t0 = System.nanoTime()
      tracer.span(workload)(Workloads(workload)(ctx))
      // nothing is re-run with spans: trigger and job spans are rebuilt
      // from listener events the untraced run records too, so the
      // tracer's own bookkeeping is all the overhead there is
      if (traced) report.layer("trace.overhead_share",
        tracer.calls * Tracer.costNs() / (System.nanoTime() - t0), "share")
      ctx.progress.failures.forEach(f =>
        report.fail(s"streaming query terminated: $f"))
    } catch {
      case NonFatal(e) =>
        report.fail(s"run aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      report.info("load_after") = os.getSystemLoadAverage
      Files.write(Paths.get(a("out")), report.json(tracer.all)
        .getBytes(UTF_8))
      val active = SparkSession.getActiveSession.orElse(Option(spark))
      active.foreach { s =>
        s.streams.active.foreach(_.stop())
        s.stop()
      }
    }
    sys.exit(0)
  }
}
