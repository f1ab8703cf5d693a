package perfbench

import graft.{QueryDef, QueryModule, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The operator fleet: a fixed sample of the queries registered in
  * SparkEntry.queries, over the committed sf0.01 fixture, run in registry
  * order. The seed does not change the fleet: in a cold JVM a query's time
  * depends on which queries ran before it, and over ten seeded orders
  * latency_p50_ms had an IQR of a fifth of its median. Each result is checked
  * against a digest recorded with the benchmark
  * (perfbench/fleet_digests.json). */
object Fleet {
  /** Every `Stride`-th query of each module, in registry order. */
  val Stride = 16
  val FixtureDir = "perfbench/fixture/sf0.01"
  val DigestFile = "perfbench/fleet_digests.json"
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val modules: Seq[QueryModule] = Seq(
    graft.operators.StarPredicates, graft.operators.StarAggs, graft.operators.StarSorts,
    graft.operators.FnQueries, graft.operators.FtsQueries, graft.entries.EntryQueries,
    graft.operators.DedupQueries, graft.operators.SimilarityQueries,
    graft.operators.TextAnalysisQueries, graft.operators.GovernanceQueries,
    graft.operators.AnalyticsQueries, graft.operators.InferenceQueries)

  def moduleName(m: QueryModule): String = m.getClass.getSimpleName.stripSuffix("$")
  val ModuleNames: Seq[String] = modules.map(moduleName)

  /** (module, query) for the sample; each query must be registered. */
  lazy val sample: Seq[(String, QueryDef)] = {
    val registered = SparkEntry.queries.keySet
    modules.flatMap { m =>
      m.defs.zipWithIndex.collect { case (d, i) if i % Stride == 0 => moduleName(m) -> d }
    }.filter { case (_, d) => registered.contains(d.name) }
  }

  /** Order-independent digest of a result: row count and the sum of a
    * 64-bit hash of each row's JSON, columns taken in name order. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Recorded digests: name -> (digest or null, oracle verdict). */
  def recorded(root: String): Map[String, (Option[String], String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, DigestFile)), "UTF-8")
    JsonMethods.parse(text) match {
      case JObject(fields) => fields.collect { case (name, JObject(f)) =>
        val m = f.toMap
        name -> (m.get("digest").collect { case JString(s) => s },
          m.get("oracle").collect { case JString(s) => s }.getOrElse("none"))
      }.toMap
      case _ => Map.empty
    }
  }

  /** The set-up step: every fixture table opened through the program's
    * loaders and scanned once. */
  def setup(spark: SparkSession, dir: String): Unit =
    TableNames.foreach(t => graft.Tables.table(spark, dir, t).count())

  /** One pass: every sampled query once, in registry order. A query is
    * timed from building its plan to the digest of its full result, which
    * is then compared with the recorded one. */
  def pass(spark: SparkSession, pass: Int, dir: String,
           want: Map[String, (Option[String], String)], o: Outcome, tracer: Tracer): Long = {
    var busy = 0L
    tracer.span(s"pass$pass", "fleet") {
      sample.foreach { case (module, d) =>
        System.gc()
        val t0 = System.nanoTime()
        val got =
          try Some(tracer.request(d.name, s"fleet.$module")(digest(d.run(spark, dir))))
          catch { case t: Throwable => o.crash(d.name, t); None }
        val dt = System.nanoTime() - t0
        busy += dt
        o.record("query", dt / 1e6)
        Main.log(f"pass $pass ${d.name} ${dt / 1e6}%.0f ms")
        spark.catalog.clearCache()
        got.map(Corrupt(_)).foreach { g =>
          want.get(d.name) match {
            case Some((Some(w), verdict)) =>
              o.check(verdict != "mismatch" && g == w, s"${d.name}: digest $g, recorded $w ($verdict)")
            case Some((None, verdict)) => o.check(false, s"${d.name}: no digest recorded (oracle $verdict)")
            case None => o.check(false, s"${d.name}: not in $DigestFile")
          }
        }
      }
    }
    busy
  }
}
