package perfbench

import scala.collection.mutable

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** What a workload run measured: per-operation latencies by type, checks,
  * and its other end-to-end and per-layer readings. */
final class Outcome {
  val latMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  var checks = 0L
  var checksFailed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def record(kind: String, ms: Double): Unit =
    latMs.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms

  /** One correctness verdict; a failure keeps its reason for the report. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1; checks += 1
    if (!ok) { failed += 1; checksFailed += 1; if (failures.size < 50) failures += what }
  }

  /** An operation that crashed: it counts as attempted and failed. */
  def crash(what: String, t: Throwable): Unit = {
    attempted += 1; failed += 1
    if (failures.size < 50) failures += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}"
  }

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  def all(kinds: Seq[String]): Seq[Double] = kinds.flatMap(k => latMs.getOrElse(k, Nil)).toSeq
}

/** Deliberate corruption of program results, for the self-test: every
  * check site passes the program's output through `Corrupt`, which is the
  * identity unless the self-test switched it on. */
object Corrupt {
  @volatile var on = false

  def apply[T](x: T): T = if (on) mutate(x).asInstanceOf[T] else x

  private def mutate(x: Any): Any = x match {
    case n: Long => n + 1
    case n: Int => n + 1
    case s: String => s + "#"
    case s: Set[_] => if (s.nonEmpty) s.tail else Set(-1L)
    case s: Seq[_] => if (s.nonEmpty) s.tail else Seq(-1L)
    case a: Array[_] => if (a.nonEmpty) a.tail else Array(null)
    case (a, b) => (mutate(a), b)
    case (a, b, c) => (mutate(a), b, c)
    case df: org.apache.spark.sql.DataFrame => df.exceptAll(df.limit(1))
    case other => other
  }
}
