package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer totals of one traced run. Counts are inclusive: a job run by
  * a span also counts for every enclosing span's layer. */
final class LayerStats {
  var wallNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0.0
  var maxSkew = 1.0
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
}

/** Records spans (name, start, end, parent, request id) around the calls
  * the benchmark makes into the program, and attributes Spark work to
  * them: each span id is set as a job local property, which a
  * SparkListener maps to jobs, stages and tasks, and a
  * QueryExecutionListener's Catalyst phase timings are credited to the
  * innermost span open when the phase started. Spans stay in memory and
  * are written out as JSON lines when the run ends.
  *
  * `Tracer.off` records nothing and installs nothing: untraced runs call
  * straight through. */
class Tracer private (spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private final case class Span(id: Int, name: String, layer: String, parent: Int,
                                request: Long, startNs: Long, startMs: Long) {
    var endNs = 0L
    var endMs = 0L
  }

  private final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var maxSkew = 1.0
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var nextRequest = 0L
  private val counters = mutable.ArrayBuffer[(Int, String, String, Double)]()
  // Written by the listener-bus thread, read after a drain.
  private val bySpan = mutable.Map[Int, Counts]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val phases = mutable.ArrayBuffer[(Long, Double)]() // (start ms, duration ms)

  private def countsOf(span: Int) = bySpan.getOrElseUpdate(span, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).foreach { s =>
        val id = s.toInt
        countsOf(id).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = countsOf(id)
        c.tasks += 1
        c.taskMs += e.taskInfo.duration
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val sid = e.stageInfo.stageId
      stageSpan.get(sid).foreach { id =>
        val c = countsOf(id)
        c.stages += 1
        stageTaskMs.remove(sid).filter(_.size >= 2).foreach { ts =>
          val sorted = ts.sorted
          val median = sorted(sorted.size / 2).max(1L)
          c.maxSkew = c.maxSkew max (sorted.last.toDouble / median)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs.toDouble)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def install(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** A top-level operation (query, request, cycle): a span with a fresh
    * request id that its child spans share. */
  def request[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else { nextRequest += 1; span(name, layer)(body) }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val sc = spark.sparkContext
      val parent = open.headOption
      val s = Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1),
        nextRequest, System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
      }
    }

  /** A count recorded at a call boundary, credited to `layer` (and, like
    * every count, to the layers of the spans enclosing the current one). */
  def add(layer: String, key: String, v: Double): Unit =
    if (enabled) counters += ((open.headOption.map(_.id).getOrElse(-1), layer, key, v))

  private def chainLayers(id: Int): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var cur = id
    while (cur >= 0) {
      val s = spans(cur)
      if (!out.contains(s.layer)) out += s.layer
      cur = s.parent
    }
    out.toSeq
  }

  /** Innermost span open at wall-clock `ms`: spans nest on the one client
    * thread, so it is the latest-started span that had not yet ended. */
  private def spanAt(ms: Long): Int = {
    var best = -1
    spans.foreach(s => if (s.startMs <= ms && ms <= s.endMs) best = s.id)
    best
  }

  /** Per-layer totals; waits for the listener bus first. */
  def layers(): Map[String, LayerStats] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = mutable.Map[String, LayerStats]()
      def of(l: String) = out.getOrElseUpdate(l, new LayerStats)
      spans.foreach { s =>
        val inSame = s.parent >= 0 && chainLayers(s.parent).contains(s.layer)
        if (!inSame) of(s.layer).wallNs += s.endNs - s.startNs
      }
      val plan = mutable.Map[Int, Double]().withDefaultValue(0.0)
      phases.foreach { case (start, dur) =>
        val id = spanAt(start)
        if (id >= 0) plan(id) += dur
      }
      (bySpan.keySet ++ plan.keySet).foreach { id =>
        val c = bySpan.getOrElse(id, new Counts)
        chainLayers(id).foreach { name =>
          val l = of(name)
          l.jobs += c.jobs; l.stages += c.stages; l.tasks += c.tasks
          l.taskMs += c.taskMs; l.cpuNs += c.cpuNs; l.gcMs += c.gcMs
          l.shuffleBytes += c.shuffleBytes; l.spillBytes += c.spillBytes
          l.planMs += plan(id); l.maxSkew = l.maxSkew max c.maxSkew
        }
      }
      counters.foreach { case (id, layer, key, v) =>
        (layer +: (if (id >= 0) chainLayers(id) else Nil)).distinct
          .foreach(name => of(name).counters(key) += v)
      }
      out.toMap
    }
  }

  /** Writes every span, with the Spark counts attributed to it directly. */
  def write(path: String): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val f = new java.io.File(path)
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      try spans.foreach { s =>
        val c = bySpan.getOrElse(s.id, new Counts)
        w.println(Json.obj(Seq(
          "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
          "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "dur_ms" -> (s.endNs - s.startNs) / 1e6, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_ms" -> c.taskMs)))
      } finally w.close()
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  def apply(spark: SparkSession): Tracer = new Tracer(spark, true)
  def off(spark: SparkSession): Tracer = new Tracer(spark, false)
}
