package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Everything one run measured and checked. Failures are counted against
  * attempts and never produce a timing: `attempt` returns None for a
  * throwing operation, and the caller has nothing to time.
  */
final class Report(val workload: String, val seed: Long,
                   val traced: Boolean) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val extras = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  private var nAttempted = 0L
  private var nFailed = 0L
  def attempted: Long = nAttempted
  def failed: Long = nFailed

  def attempt[T](what: String)(body: => T): Option[T] = {
    nAttempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        nFailed += 1
        errors += s"$what: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        None
    }
  }

  def fail(what: String): Unit = {
    nAttempted += 1
    nFailed += 1
    errors += what
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    nAttempted += 1
    if (!ok) nFailed += 1
    checks += ((name, ok, detail))
  }

  /** Wall seconds of each coarse phase of the run, kept in `info`. */
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  info("phase_s") = phases
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally phases(name) =
      phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)
  def extra(name: String, value: Double, unit: String): Unit =
    extras(name) = (value, unit)

  private def valued(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  def json(spans: Seq[Map[String, Any]]): String = Json(Map(
    "workload" -> workload, "seed" -> seed, "traced" -> traced,
    "attempted" -> attempted, "failed" -> failed,
    "errors" -> errors.toSeq,
    "checks" -> checks.map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d)
    }.toSeq,
    "metrics" -> valued(metrics), "layers" -> valued(layers),
    "extras" -> valued(extras), "info" -> info, "spans" -> spans))
}

/** Minimal JSON writer for the report's nested maps and sequences. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Order statistics over weighted samples (value, weight). */
object Stats {
  def quantile(samples: Seq[(Double, Long)], q: Double): Double = {
    val sorted = samples.filter(_._2 > 0).sortBy(_._1)
    val total = sorted.map(_._2).sum
    require(total > 0, "no samples")
    val rank = math.ceil(q * total).toLong.max(1L)
    var acc = 0L
    sorted.find { case (_, w) => acc += w; acc >= rank }.get._1
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
