package perfbench

import graft.entries.{AgencyEngine, Engine, Entry, Normalize, Rss, SearchOptions}
import graft.functions.Text
import graft.operators.ResultCache
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The interactive portal: one client in a closed loop over a seeded
  * entries corpus the size of the reference's, replaying a seeded mix of
  * list, filter, search, cursor, agency, home and feed requests. Every
  * response is compared with an answer computed before the timed phase:
  * pages, totals and cursors from plain Scala over the generated rows,
  * indexed search from the program's rebuild path (Fts.search), cached
  * agency stats from an uncached computation.
  *
  * The corpus size, the page size (50) and the agency feed's 100 items
  * are the reference's. The reference publishes no traffic figures, so
  * the request mix and the pages browsed (1, 2, 10, 400 and the last,
  * 1,000) are assumptions. */
object Portal {
  val CorpusSize = 50000
  val PageSize = 50
  val Kinds = Seq("browse", "filter", "search", "cursor", "agency", "home", "feed")

  /** A request and the answer it must return. */
  final case class Req(kind: String, desc: String, call: Store => Any, expected: Any)

  /** The stores one set-up builds: the corpus, its FTS index, the cache. */
  final class Store(val spark: SparkSession, val dir: String, var tracer: Tracer) {
    val entriesPath = s"$dir/entries"
    val ftsPath = s"$dir/fts"
    val cacheDir = s"$dir/cache"
    lazy val entries: DataFrame = spark.read.parquet(entriesPath)
    var bookmark = ""
  }

  /** Writes the generated corpus once, as the input every set-up loads. */
  def writeInput(spark: SparkSession, corpus: Vector[Entry], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(corpus).toDF().write.mode("overwrite").parquet(path)
  }

  /** Set-up: the input loaded into the store, its FTS index written, the
    * agency-stats cache filled. */
  def build(spark: SparkSession, input: String, dir: String, tracer: Tracer): Store = {
    val s = new Store(spark, dir, tracer)
    spark.read.parquet(input).write.mode("overwrite").parquet(s.entriesPath)
    Engine.writeFtsIndex(spark, s.entries, s.ftsPath)
    s.bookmark = Engine.latestEntryId(s.entries).toString
    agencyStats(s)
    s
  }

  /** One request of each kind, so set-up ends with a warm store. */
  def warm(s: Store): Unit = {
    val opts = SearchOptions(pageSize = PageSize)
    Engine.listEntries(s.spark, s.entries, opts, Some(s.ftsPath))
    Engine.listEntries(s.spark, s.entries, opts.copy(q = Some("records"), agency = Some("DEP"),
      resolutions = Seq("Granted"), requestedFrom = Some("2020-01-01")), Some(s.ftsPath))
    Engine.listEntriesAfter(s.spark, s.entries, opts, Some(Gen.AsOf), 0L).collect()
    AgencyEngine.agencyBySlug(agencyStats(s), slugOf("DEP")).collect()
    AgencyEngine.resolutionTimeline(s.entries, "DEP", Gen.AsOf).collect()
    AgencyEngine.homeStats(s.entries, Gen.AsOf, Gen.AsOfYear).collect()
    Rss.agencyFeed(s.entries, nameOf("DEP"), slugOf("DEP"), Normalize.aliasCandidates("DEP")).collect()
  }

  private def agencyStats(s: Store): DataFrame = {
    val (df, hit) = s.tracer.span("ResultCache.withCache", "ResultCache.withCache") {
      ResultCache.withCache(s.spark, s.cacheDir, "agencyStats", Seq("asOf" -> Gen.AsOf), s.bookmark) {
        AgencyEngine.agencyStats(s.spark, s.entries, Gen.AsOf)
      }
    }
    s.tracer.add("portal.cache", "lookups", 1)
    if (hit) s.tracer.add("portal.cache", "hits", 1)
    df
  }

  private def ids(rows: Seq[Row]): Seq[Long] = rows.map(_.getAs[Long]("id"))

  private def slugOf(agency: String): String = Text.agencyIdentity(agency, graft.entries.Fixture.aliasGroups)._2
  private def nameOf(agency: String): String = Text.agencyIdentity(agency, graft.entries.Fixture.aliasGroups)._1

  /** Plain-Scala view of the corpus with the program's date-correction
    * overlay applied (the overlay is input data, read from the program). */
  private final case class Row0(e: Entry, req: Option[String], comp: Option[String])

  private def sortRows(rows: Seq[Row0], sort: String): Seq[Row0] = {
    def descNullsLast(k: Row0 => Option[String]) = rows.sortWith { (a, b) =>
      (k(a), k(b)) match {
        case (Some(x), Some(y)) if x != y => x > y
        case (Some(_), None) => true
        case (None, Some(_)) => false
        case _ => a.e.id < b.e.id
      }
    }
    sort match {
      case "newest" => descNullsLast(_.req)
      case "recently_completed" => descNullsLast(_.comp)
      case "oldest" => rows.sortWith { (a, b) =>
        (a.req, b.req) match {
          case (Some(x), Some(y)) if x != y => x < y
          case (None, Some(_)) => true
          case (Some(_), None) => false
          case _ => a.e.id < b.e.id
        }
      }
    }
  }

  private def pageOf(sorted: Seq[Row0], page: Int): (Long, Seq[Long]) = {
    val total = sorted.size.toLong
    val pages = math.max(math.ceil(total / PageSize.toDouble).toInt, 1)
    val p = math.min(math.max(page, 1), pages)
    (total, sorted.slice((p - 1) * PageSize, p * PageSize).map(_.e.id))
  }

  private def listCall(opts: SearchOptions, indexed: Boolean)(s: Store): (Long, Seq[Long]) = {
    val page = s.tracer.span("Engine.listEntries", "Engine.listEntries") {
      Engine.listEntries(s.spark, s.entries, opts, if (indexed) Some(s.ftsPath) else None)
    }
    (page.total, ids(page.rows.collect().toSeq))
  }

  /** The seeded request pool, with every expected answer. */
  def pool(spark: SparkSession, seed: Long, corpus: Vector[Entry], store: Store): Map[String, Vector[Req]] = {
    val rng = new java.util.Random(seed * 31 + 7)
    val fixes = Normalize.correctionsDf(spark).collect().map(r =>
      r.getLong(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    val rows = corpus.map { e =>
      val f = fixes.get(e.id)
      Row0(e, f.flatMap(_._1).orElse(e.request_date), f.flatMap(_._2).orElse(e.completion_date))
    }
    val sorted = Seq("newest", "oldest", "recently_completed").map(k => k -> sortRows(rows, k)).toMap
    def agency(): String = Gen.Agencies(rng.nextInt(Gen.Agencies.size))
    def cands(a: String) = Normalize.aliasCandidates(a).map(_.toLowerCase).toSet
    def scoped(a: String) = { val c = cands(a); rows.filter(r => c.contains(r.e.agency.toLowerCase)) }
    def sortName() = Seq("newest", "oldest", "recently_completed")(rng.nextInt(3))

    def browse(sort: String, page: Int): Req = {
      val opts = SearchOptions(sort = sort, page = page, pageSize = PageSize)
      Req("browse", s"browse sort=$sort page=$page", listCall(opts, indexed = true), pageOf(sorted(sort), page))
    }
    def filter(byAgency: Boolean, byResolution: Boolean, byDate: Boolean): Req = {
      val sort = sortName()
      val a = if (byAgency) Some(agency()) else None
      val res = if (byResolution) Seq("Granted", "Rejected", "Exempted").take(1 + rng.nextInt(3)) else Nil
      val year = 2016 + rng.nextInt(9)
      val range = if (byDate) Some((s"$year-01-01", s"${year + 1}-06-30")) else None
      val page = 1 + rng.nextInt(2)
      val opts = SearchOptions(agency = a, resolutions = res, requestedFrom = range.map(_._1),
        requestedTo = range.map(_._2), sort = sort, page = page, pageSize = PageSize)
      val c = a.map(cands)
      val hits = sorted(sort).filter { r =>
        c.forall(_.contains(r.e.agency.toLowerCase)) &&
          (res.isEmpty || r.e.resolution.exists(res.contains)) &&
          range.forall { case (lo, hi) => r.req.exists(d => d >= lo && d <= hi) }
      }
      Req("filter", s"filter $opts", listCall(opts, indexed = true), pageOf(hits, page))
    }
    def search(terms: Int, byAgency: Boolean): Req = {
      val q = Gen.searchQuery(rng, terms)
      val opts = SearchOptions(q = Some(q), agency = if (byAgency) Some(agency()) else None,
        sort = sortName(), page = 1, pageSize = PageSize)
      Req("search", s"search $opts", listCall(opts, indexed = true), listCall(opts, indexed = false)(store))
    }
    def cursor(): Req = {
      val sort = sortName()
      val all = sorted(sort)
      val j = rng.nextInt(all.size - PageSize - 1)
      val at = all(j)
      val last = if (sort == "recently_completed") at.comp else at.req
      val opts = SearchOptions(sort = sort, pageSize = PageSize)
      Req("cursor", s"cursor sort=$sort after id=${at.e.id}", { (s: Store) =>
        val df = s.tracer.span("Engine.listEntriesAfter", "Engine.listEntriesAfter") {
          Engine.listEntriesAfter(s.spark, s.entries, opts, last, at.e.id)
        }
        ids(df.collect().toSeq)
      }, all.slice(j + 1, j + 1 + PageSize).map(_.e.id))
    }
    lazy val direct = AgencyEngine.agencyStats(spark, store.entries, Gen.AsOf).collect().toSeq
    def agencyReq(): Req = {
      val a = agency()
      val slug = slugOf(a)
      val statsRow = direct.filter(_.getAs[String]("slug") == slug).map(_.toSeq)
      val inRange = scoped(a).flatMap(_.e.completion_date).filter(_ <= Gen.AsOf)
      val days = inRange.minOption.map(d => java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(d), java.time.LocalDate.parse(Gen.AsOf)) + 1).getOrElse(0L)
      Req("agency", s"agency slug=$slug", { (s: Store) =>
        val stats = agencyStats(s)
        val row = s.tracer.span("AgencyEngine.agencyBySlug", "AgencyEngine.agencyBySlug") {
          AgencyEngine.agencyBySlug(stats, slug).collect().toSeq.map(_.toSeq)
        }
        val tl = s.tracer.span("AgencyEngine.resolutionTimeline", "AgencyEngine.resolutionTimeline") {
          AgencyEngine.resolutionTimeline(s.entries, a, Gen.AsOf).collect()
        }
        (row, tl.length.toLong, tl.map(r => (1 to 5).map(r.getLong).sum).sum)
      }, (statsRow, days, inRange.size.toLong))
    }
    def home(): Req = {
      val asOf = java.time.LocalDate.parse(Gen.AsOf)
      val reqs = corpus.flatMap(_.request_date)
      val counts = Seq(30, 90, 365).map(n => reqs.count(_ >= asOf.minusDays(n).toString).toLong)
      Req("home", "home", { (s: Store) =>
        val r = s.tracer.span("AgencyEngine.homeStats", "AgencyEngine.homeStats") {
          AgencyEngine.homeStats(s.entries, Gen.AsOf, Gen.AsOfYear).collect().head
        }
        r.getLong(0) +: (1 to 3).map(r.getLong)
      }, corpus.size.toLong +: counts)
    }
    def feed(): Req = {
      val a = agency()
      val slug = slugOf(a)
      val want = scoped(a).map(_.e.id).sortBy(-_).take(100)
      val guid = s"agency-$slug-entry-(\\d+)</guid>".r
      Req("feed", s"feed slug=$slug", { (s: Store) =>
        val xml = s.tracer.span("Rss.agencyFeed", "Rss.agencyFeed") {
          Rss.agencyFeed(s.entries, nameOf(a), slug, Normalize.aliasCandidates(a)).collect().head.getString(0)
        }
        guid.findAllMatchIn(xml).map(_.group(1).toLong).toSeq
      }, want)
    }
    val sorts = Seq("newest", "oldest", "recently_completed")
    Main.log("building the request pool and its answers")
    Map(
      "browse" -> Seq(1, 2, 10, 400, CorpusSize / PageSize).zipWithIndex.map { case (p, i) => browse(sorts(i % 3), p) },
      "filter" -> Seq((true, false, false), (true, true, false), (false, true, true), (true, false, true))
        .map { case (a, r, d) => filter(a, r, d) },
      "search" -> Seq((1, false), (2, false), (1, false), (2, true)).map { case (t, a) => search(t, a) },
      "cursor" -> Seq.fill(2)(cursor()),
      "agency" -> Seq.fill(2)(agencyReq()),
      "home" -> Seq(home()),
      "feed" -> Seq.fill(2)(feed())).map { case (k, v) => k -> v.toVector }
  }

  /** The seeded request sequence: every round serves each pool request
    * once, in a seeded order, so each round has the same mix (by count:
    * browse 5, filter 4, search 4, cursor 2, agency 2, home 1, feed 2). */
  def sequence(seed: Long, pool: Map[String, Vector[Req]], rounds: Int): Vector[Req] = {
    val all = Kinds.flatMap(pool).toVector
    (0 until rounds).toVector.flatMap(r => new scala.util.Random(seed * 17 + r).shuffle(all))
  }
}
