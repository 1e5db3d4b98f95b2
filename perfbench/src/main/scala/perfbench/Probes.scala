package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** Spans (name, start, end, parent) kept in memory and written out when
  * the run ends. Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        add(id, name, (s - t0Ns) / 1e6, (System.nanoTime() - t0Ns) / 1e6,
          parent)
      }
    }

  /** A span whose times are wall-clock epoch millis, as Spark reports
    * trigger and job times. Returns its id so children can attach.
    */
  def recordEpoch(name: String, startMs: Double, endMs: Double,
                  parent: Int): Int = {
    val id = ids.incrementAndGet()
    if (enabled) add(id, name, startMs - t0Ms, endMs - t0Ms, parent)
    id
  }

  private def add(id: Int, name: String, s: Double, e: Double,
                  parent: Int): Unit =
    spans.add(Map("id" -> id, "name" -> name, "start_ms" -> s,
      "end_ms" -> e, "parent" -> parent))

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq
  /** Spans recorded so far, live and rebuilt. */
  def calls: Long = ids.get.toLong
}

object Tracer {
  /** Measured cost of one recorded span, in ns: the mean over 100,000
    * live and 100,000 rebuilt spans on a throwaway tracer, after as
    * many to warm up.
    */
  def costNs(): Double = {
    def burst(t: Tracer, n: Int): Unit = (1 to n).foreach { i =>
      t.span("probe")(i)
      t.recordEpoch("probe", 0.0, 1.0, 0)
    }
    burst(new Tracer(true), 100000)
    val t = new Tracer(true)
    val t0 = System.nanoTime()
    burst(t, 100000)
    (System.nanoTime() - t0).toDouble / t.calls
  }
}

/** Every progress event of every streaming query, plus terminations
  * that carried an exception.
  */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val failures = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryIdle(
      e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failures.add(s"${e.id}: $x"))

  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

object ProgressLog {
  def startMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble
  def phase(p: StreamingQueryProgress, name: String): Double =
    Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + phase(p, "triggerExecution")
}

/** Job and task records from the listener bus: enough to split a query
  * into build-time and action-time jobs, to sum executor time, shuffle
  * and spill, and to find when no task was running.
  */
final class TaskLog extends SparkListener {
  import TaskLog._

  private val starts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  private val stageGroup =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  /** The streaming query id a job runs for, else "". */
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(
      "sql.streaming.queryId"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    starts.put(e.jobId, (e.time, e.stageIds.size))
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (t, n) =>
      jobs.add(Job(e.jobId, t, e.time, n))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      Option(stageGroup.get(e.stageId)).getOrElse("")))
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .toSeq.sortBy(_.startMs)
  def tasksIn(fromMs: Long, toMs: Long): Seq[Task] =
    tasks.asScala.filter(t => t.startMs >= fromMs && t.endMs <= toMs).toSeq

  /** Wall time inside [fromMs, toMs] during which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val iv = tasksIn(fromMs, toMs).map(t => (t.startMs, t.endMs))
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) busy += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    (toMs - fromMs) - busy
  }
}

object TaskLog {
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int)
  final case class Task(startMs: Long, endMs: Long, runMs: Long,
                        shuffleRead: Long, shuffleWrite: Long,
                        spill: Long, group: String)
}
