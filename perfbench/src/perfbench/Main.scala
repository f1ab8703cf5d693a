package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One workload as the run loop drives it. `setup` builds everything the
  * timed phase needs into a fresh directory; `round` runs one round of
  * timed work and returns the nanoseconds it spent in the program. */
trait Runner {
  def kinds: Seq[String]
  def setup(dir: String): Unit
  /** Untimed work after set-up; it counts toward no metric and no check. */
  def prepare(): Unit
  def round(i: Int, o: Outcome, tracer: Tracer): Long
  def ops(o: Outcome): Long
  /** A fixed number of rounds per run, instead of rounds until time is up. */
  def fixedRounds: Option[Int] = None
  def finish(o: Outcome): Unit = ()
  /** Per-layer readings the tracer cannot see, taken after the traced phase. */
  def traced(): Map[String, (Double, String)] = Map.empty
}

object Main {
  val SetupReps = 3
  val MinRounds = 2
  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd = Seq("setup_s" -> "s", "wall_s" -> "s", "ops_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "live_heap_mb" -> "MB")

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10, trace: Boolean = false,
                        work: String = ".bench_build/work", traceOut: String = "",
                        mode: String = "run", rounds: Option[Int] = None, out: String = "")

  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs $msg")

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--work" +: v +: rest => parse(rest).copy(work = v)
    case "--trace-out" +: v +: rest => parse(rest).copy(traceOut = v)
    case "--mode" +: v +: rest => parse(rest).copy(mode = v)
    case "--out" +: v +: rest => parse(rest).copy(out = v)
    case "--rounds" +: v +: rest => parse(rest).copy(rounds = Some(v.toInt).filter(_ > 0))
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def runner(name: String, spark: SparkSession, seed: Long, work: String): Runner = name match {
    case "fleet" => new FleetRunner(spark)
    case "portal" => new PortalRunner(spark, seed, work)
    case "ingest" => new IngestRunner(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** Heap in use after full GCs. Spark frees some blocks on a cleaner
    * thread only after a GC has found them unreachable, so the GCs repeat
    * until a reading no longer falls. */
  private def heapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def reading() = { System.gc(); Thread.sleep(200); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    val readings = mutable.ArrayBuffer(reading(), reading())
    while (readings.size < 10 && readings.last < readings(readings.size - 2) * 0.99) readings += reading()
    log(s"heap readings (MB): ${readings.map(r => f"$r%.1f").mkString(" ")}")
    readings.min
  }

  /** Rounds until `seconds` of program time have been spent (at least
    * `MinRounds`), or exactly `rounds` rounds when given. */
  def timed(r: Runner, o: Outcome, tracer: Tracer, seconds: Int, rounds: Option[Int]): Seq[Long] = {
    val busy = mutable.ArrayBuffer[Long]()
    var i = 0
    def more = rounds match {
      case Some(n) => i < n
      case None => i < MinRounds || busy.sum < seconds * 1000000000L
    }
    while (more) {
      busy += r.round(i, o, tracer)
      log(f"round $i: ${busy.last / 1e9}%.2f s")
      i += 1
    }
    busy.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val code = try {
      a.mode match {
        case "run" => run(a); 0
        case "inputs" => println(Inputs.digest(a.workload, a.seed, a.work)); 0
        case "selftest" => if (SelfTest.run(a.work)) 0 else 1
        case "record" => Record.run(a.work, a.out); 0
        case "names" =>
          val perLayer = Layers.metrics(Map.empty).map { case (k, (_, u)) => k -> u } + (Layers.Overhead -> "ratio")
          println(Json.obj(Seq("end_to_end" -> EndToEnd.toMap, "per_layer" -> perLayer))); 0
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
    } catch { case t: Throwable =>
      System.err.println(s"perfbench: ${t.getClass.getName}: ${t.getMessage}")
      t.printStackTrace()
      2
    }
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val spark = session(a.work)
    try {
      log(s"session up; preparing ${a.workload}")
      val r = runner(a.workload, spark, a.seed, a.work)
      val off = Tracer.off(spark)
      val setups = (0 until SetupReps).map { k =>
        val dir = new java.io.File(s"${a.work}/setup$k")
        if (k > 0) rmrf(new java.io.File(s"${a.work}/setup${k - 1}"))
        val t0 = System.nanoTime()
        r.setup(dir.getPath)
        val dt = (System.nanoTime() - t0) / 1e9
        log(f"setup $k: $dt%.2f s")
        dt
      }
      r.prepare()
      val o = new Outcome
      val tracer = if (a.trace) Tracer(spark) else off
      tracer.install()
      log(s"prepared; timing${if (a.trace) " (traced)" else ""}")
      val busy = timed(r, o, tracer, a.seconds, a.rounds.orElse(r.fixedRounds))
      tracer.uninstall()
      log(s"timed ${busy.size} rounds")
      val all = o.all(r.kinds)
      val values = Map("setup_s" -> Stats.median(setups), "wall_s" -> Stats.median(busy.map(_ / 1e9)),
        "ops_per_s" -> r.ops(o) / (busy.sum / 1e9), "latency_p50_ms" -> Stats.median(all),
        "live_heap_mb" -> heapMb(spark))
      val e2e = mutable.LinkedHashMap[String, (Double, String)]()
      EndToEnd.foreach { case (n, u) => e2e(n) = (values(n), u) }
      r.finish(o)
      e2e("failed_frac") = (o.failed.toDouble / math.max(1L, o.attempted), "ratio")
      if (all.size >= 200) e2e("latency_p95_ms") = (Stats.pct(all, 95), "ms")
      e2e ++= o.metrics
      report(a, if (a.trace) "end_to_end_traced" else "end_to_end", e2e, Map("rounds" -> busy.size,
        "busy_s" -> busy.sum / 1e9, "samples" -> all.size, "setups_s" -> setups,
        "failures" -> o.failures.toSeq))

      val out: Map[String, (Double, String)] =
        if (!a.trace) e2e.toMap
        else {
          if (a.traceOut.nonEmpty) tracer.write(a.traceOut)
          val layers = Layers.metrics(tracer.layers(), r.traced())
          report(a, "per_layer", layers, Map("spans" -> a.traceOut))
          layers
        }
      val metrics = Names.expected(a.trace).filterNot(_ == Layers.Overhead).map { n =>
        val (v, u) = out.getOrElse(n, throw new IllegalStateException(s"metric $n was not measured"))
        n -> Map("value" -> v, "unit" -> u)
      }
      println(Json.obj(Seq("correct" -> (o.failed == 0), "attempted" -> math.max(1L, o.attempted),
        "failed" -> o.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    } finally spark.stop()
  }

  private def report(a: Args, kind: String, m: collection.Map[String, (Double, String)],
                     extra: Map[String, Any]): Unit =
    println("perfbench " + Json.obj(Seq("workload" -> a.workload, "seed" -> a.seed, "kind" -> kind,
      "metrics" -> m.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap) ++
      extra.toSeq))
}

/** The metric names BENCHMARK.json declares, in its order. */
object Names {
  def expected(trace: Boolean): Seq[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8")
    (JsonMethods.parse(text) \ (if (trace) "per_layer" else "end_to_end")) match {
      case JArray(xs) => xs.collect { case o: JObject => (o \ "name") match { case JString(s) => s } }
      case _ => Nil
    }
  }
}

final class FleetRunner(spark: SparkSession) extends Runner {
  private val dir = Fleet.FixtureDir
  def kinds = Seq("query")
  def setup(work: String): Unit = Fleet.setup(spark, dir)
  private lazy val want = Fleet.recorded(".")
  def prepare(): Unit = ()
  def round(i: Int, o: Outcome, tracer: Tracer): Long = Fleet.pass(spark, i, dir, want, o, tracer)
  def ops(o: Outcome): Long = o.latMs("query").size
  /** Each query runs once per fresh JVM: later passes would replay the
    * stores some queries build on their first call. */
  override def fixedRounds: Option[Int] = Some(1)
}

/** Every set-up builds its own store and warms it with one request of
  * each kind; the reference answers are computed afterwards, untimed. */
final class PortalRunner(spark: SparkSession, seed: Long, work: String) extends Runner {
  val corpus: Vector[graft.entries.Entry] = Gen.corpus(seed, Portal.CorpusSize)
  private val input = s"$work/input"
  Portal.writeInput(spark, corpus, input)
  var pool: Map[String, Vector[Portal.Req]] = _
  private var store: Portal.Store = _
  private var seq: Vector[Portal.Req] = _
  private var next = 0
  def kinds = Portal.Kinds

  def setup(dir: String): Unit = {
    store = Portal.build(spark, input, dir, Tracer.off(spark))
    Portal.warm(store)
    next = 0
  }

  def prepare(): Unit = {
    pool = Portal.pool(spark, seed, corpus, store)
    seq = Portal.sequence(seed, pool, 1000)
  }

  /** Serves one request, times it and checks the response; returns its nanoseconds. */
  def serve(req: Portal.Req, o: Outcome, tracer: Tracer): Long = {
    store.tracer = tracer
    val t0 = System.nanoTime()
    val got = try Some(tracer.request(req.desc, s"portal.${req.kind}")(req.call(store)))
    catch { case t: Throwable => o.crash(req.desc, t); None }
    val dt = System.nanoTime() - t0
    o.record(req.kind, dt / 1e6)
    got.map(Corrupt(_)).foreach(g => o.check(g == req.expected, s"${req.desc}: got $g, want ${req.expected}"))
    dt
  }

  def round(i: Int, o: Outcome, tracer: Tracer): Long = {
    val n = pool.values.map(_.size).sum
    val reqs = seq.slice(next, next + n)
    next += n
    reqs.map(serve(_, o, tracer)).sum
  }

  def ops(o: Outcome): Long = o.all(kinds).size

  override def finish(o: Outcome): Unit =
    Seq("browse", "search", "cursor", "agency").foreach(k =>
      o.put(s"${k}_p50_ms", Stats.median(o.latMs(k).toSeq), "ms"))
}

final class IngestRunner(spark: SparkSession, seed: Long) extends Runner {
  private var stores: Ingest.Stores = _
  private var acct = new Ingest.Accounting
  def kinds = Seq("cycle")

  def setup(dir: String): Unit = {
    stores = Ingest.build(spark, seed, dir, Tracer.off(spark))
    acct = new Ingest.Accounting
  }
  /** Untimed cycles first, so the timed ones run warm; their samples
    * and checks go to a throwaway outcome. */
  def prepare(): Unit = (1 to Ingest.WarmupCycles).foreach(_ =>
    Ingest.cycle(spark, seed, stores, new Outcome, Tracer.off(spark), new Ingest.Accounting, compactAfter = false))

  /** `CompactEvery` cycles, the last followed by the compaction. */
  def round(i: Int, o: Outcome, tracer: Tracer): Long = {
    val before = acct.busyNs
    (1 to Ingest.CompactEvery).foreach(j =>
      Ingest.cycle(spark, seed, stores, o, tracer, acct, compactAfter = j == Ingest.CompactEvery))
    acct.busyNs - before
  }

  override def traced(): Map[String, (Double, String)] =
    Map("ingest.files" -> ((Ingest.files(stores).size.toDouble, "count")))

  def ops(o: Outcome): Long = acct.ingested

  /** The scratch-build check runs once, after the last round's compaction. */
  override def finish(o: Outcome): Unit = {
    Ingest.checkCompacted(spark, stores, o)
    o.put("read_p50_ms", Stats.median(o.latMs("read").toSeq), "ms")
    o.put("compaction_p50_ms", Stats.median(o.latMs("compaction").toSeq), "ms")
    o.put("write_amp", acct.writtenBytes.toDouble / acct.userBytes, "ratio")
    val live = stores.live.valuesIterator.map(Ingest.userBytes).sum
    o.put("space_amp", Ingest.files(stores).values.sum.toDouble / live, "ratio")
  }
}
