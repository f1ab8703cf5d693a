package graft.entries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Cols
import graft.operators.Fts

/** The reference's user-facing search options
  * (EntrySearchOptions + PageCursor, src/lib/utils.ts:61-86). */
final case class SearchOptions(
    q: Option[String] = None,
    agency: Option[String] = None,
    resolutions: Seq[String] = Nil,
    requestedFrom: Option[String] = None,
    requestedTo: Option[String] = None,
    completedFrom: Option[String] = None,
    completedTo: Option[String] = None,
    sort: String = "newest",
    page: Int = 1,
    pageSize: Int = 50)

final case class ListPage(rows: DataFrame, total: Long, page: Int, totalPages: Int)

/** Parameterized entries API — the engine a reference user calls instead
  * of `listEntries`/`distinctResolutions`/`resolutionCounts`
  * (src/lib/db/entries.ts:87-204). The registered q_* gate queries pin
  * one fixed instantiation each; this surface accepts arbitrary options
  * and composes the same shared transforms (corrections overlay, alias
  * candidates, FTS semi-join, sort dispatch, count+clamp+page).
  */
object Engine {

  /** Query-side FTS tokenizer (buildFtsQuery, entries.ts:12-20):
    * lowercase, split on whitespace, strip non-alnum per term; empty →
    * no FTS filter. Deduped: FTS5 'new* AND new*' ≡ 'new*'. */
  def ftsPrefixes(q: String): Seq[String] =
    q.toLowerCase.split("\\s+").toSeq
      .map(_.replaceAll("[^a-z0-9]", "")).filter(_.nonEmpty).distinct

  /** Sort dispatch (utils.ts:3-9, entries.ts:65-85). SQLite treats NULL
    * as smallest (first under ASC, last under DESC); id is the unique
    * tiebreak the reference gets implicitly from its rowid scan. */
  def sortKeys(sort: String): Seq[Column] = sort match {
    case "newest"             => Seq(col("corrected_request").desc_nulls_last, col("id").asc)
    case "oldest"             => Seq(col("corrected_request").asc_nulls_first, col("id").asc)
    case "recently_completed" => Seq(col("corrected_completion").desc_nulls_last, col("id").asc)
    case "highest_fee"        => Seq(Cols.sqliteFeeInt(col("fee")).desc, col("id").asc)
    case _                    => Seq(col("id").desc)
  }

  /** The 8 FTS-indexed columns (migrations/0002_fts.sql:2-10). */
  private val FtsCols = Seq("agency", "organization", "first_name", "last_name",
    "subject", "details", "resolution", "response")

  /** Write the maintained FTS artifact for an entries store — the
    * reference's trigger-kept FTS5 table (migrations/0002_fts.sql:17-34)
    * as a stored index in the Fts.writeTermIndex layout (term_pfx
    * partitioning + within-file term sort). The sync job that writes the
    * entries store writes this beside it; [[listEntriesFiltered]] then
    * probes the index instead of re-tokenizing the corpus per query.
    * Corrections only overlay DATE columns, so the index over the raw
    * store and over the corrected view are identical — built once here,
    * never per-call. */
  def writeFtsIndex(spark: SparkSession, entries: DataFrame, path: String): Unit =
    Fts.writeTermIndex(Fts.termIndex(entries, "id", FtsCols), path)

  /** The shared filter pipeline of both pagination modes (entries.ts
    * WHERE assembly, src/lib/db/entries.ts:29-63). With `ftsIndexPath`
    * set (a [[writeFtsIndex]] store over the SAME entries corpus), the
    * FTS predicate is answered from the maintained index — prefix
    * probes prune on the term_pfx partition key (PlanSpec pins the
    * PartitionFilters), and the per-query cost is the probe, not a
    * corpus re-tokenization. The reference never recomputes its FTS
    * table per query (triggers keep it current); at scale neither can
    * this engine — the rebuild path (None) remains for ad-hoc frames
    * that have no maintained store. */
  def listEntriesFiltered(spark: SparkSession, entries: DataFrame,
                          opts: SearchOptions,
                          ftsIndexPath: Option[String] = None): DataFrame = {
    // Corrected-date columns — single-sourced in Normalize (the
    // Warehouse writes the same view).
    var df = Normalize.withCorrectedDates(entries)

    // P6/J1 — FTS prefix-AND semi-join: maintained index when wired,
    // per-call rebuild otherwise
    opts.q.map(ftsPrefixes).filter(_.nonEmpty).foreach { prefixes =>
      df = ftsIndexPath match {
        case Some(p) =>
          val ids = Fts.matchingIdsPersistent(Fts.readTermIndex(spark, p), prefixes)
          df.join(ids.withColumnRenamed("id", "id__m"),
            col("id") === col("id__m"), "left_semi")
        case None => Fts.search(df, "id", FtsCols, prefixes)
      }
    }
    // P1/J2 — alias-candidate case-insensitive equality disjunction
    opts.agency.foreach { a =>
      val cands = Normalize.aliasCandidates(a).map(_.toLowerCase)
      df = df.where(lower(col("agency")).isin(cands: _*))
    }
    // P2 — resolution IN-list
    if (opts.resolutions.nonEmpty)
      df = df.where(col("resolution").isin(opts.resolutions: _*))
    // P3 — ISO-string range predicates on corrected columns
    opts.requestedFrom.foreach(v => df = df.where(col("corrected_request") >= v))
    opts.requestedTo.foreach(v => df = df.where(col("corrected_request") <= v))
    opts.completedFrom.foreach(v => df = df.where(col("corrected_completion") >= v))
    opts.completedTo.foreach(v => df = df.where(col("corrected_completion") <= v))
    df
  }

  /** The page-slice plan: ORDER BY + OFFSET + LIMIT plans to ONE
    * TakeOrderedAndProject (per-partition top-(page·pageSize) heaps, then
    * a bounded driver merge) — never a global single-partition sort of the
    * whole filtered set. Exposed so plan audits (PlanSpec) can assert the
    * shape; [[listEntries]] materializes it. Arbitrary-depth consumers
    * should use [[listEntriesAfter]], whose keyed cursor skips the offset
    * scan too. */
  def pageSlice(filtered: DataFrame, opts: SearchOptions, page: Int): DataFrame = {
    val slice = filtered.orderBy(sortKeys(opts.sort): _*)
      .offset((page - 1) * opts.pageSize).limit(opts.pageSize)
    // P9 — row post-processor on the returned page only
    Normalize.normalizeEntries(slice.drop("corrected_request", "corrected_completion"))
  }

  /** The page materializes on the driver, so pageSize is a driver-memory
    * bound, not a free parameter (the reference UI pins 50). */
  val MaxPageSize = 1000

  def listEntries(spark: SparkSession, entries: DataFrame,
                  opts: SearchOptions,
                  ftsIndexPath: Option[String] = None): ListPage = {
    require(opts.pageSize >= 1 && opts.pageSize <= MaxPageSize,
      s"pageSize must be in [1, $MaxPageSize], got ${opts.pageSize}")
    // A1/O2 — count, clamp the requested page, slice (entries.ts:102-116).
    // One cached filtered plan feeds both actions (the reference's two
    // SQLite round-trips share nothing).
    val df = listEntriesFiltered(spark, entries, opts, ftsIndexPath).persist()
    try {
      val total = df.count()
      val totalPages = math.max(math.ceil(total / opts.pageSize.toDouble).toInt, 1)
      val page = math.min(math.max(opts.page, 1), totalPages)
      val rows = pageSlice(df, opts, page)
      // Materialize the bounded page (<= pageSize rows) so the cached
      // filtered frame is released before returning — every ListPage field
      // is already eager (count), and callers that only consume `rows`
      // must not accumulate executor storage across repeated Engine calls.
      ListPage(spark.createDataFrame(rows.collectAsList(), rows.schema),
        total, page, totalPages)
    } finally { df.unpersist(); () }
  }

  /** Keyed-cursor pagination — the at-scale replacement for OFFSET depth
    * (the reference's next/prev links, src/lib/utils.ts:67-72, never need
    * random page jumps). `last` is the sort-key value of the final row of
    * the previous page (`None` once the cursor is inside the NULL tail;
    * for `highest_fee` the decimal string of its parsed fee integer) and
    * `lastId` its id. The strictly-after predicate composes with the sort
    * so each page is ORDER BY + LIMIT over a filtered scan — no offset,
    * no window, page N costs the same as page 1. */
  def listEntriesAfter(spark: SparkSession, entries: DataFrame,
                       opts: SearchOptions, last: Option[String],
                       lastId: Long,
                       ftsIndexPath: Option[String] = None): DataFrame = {
    val base = listEntriesFiltered(spark, entries, opts, ftsIndexPath)
    def descNullsLast(key: Column): Column = last match {
      case Some(v) => key < v || (key === v && col("id") > lastId) || key.isNull
      case None    => key.isNull && col("id") > lastId
    }
    val after = opts.sort match {
      case "newest"             => descNullsLast(col("corrected_request"))
      case "recently_completed" => descNullsLast(col("corrected_completion"))
      case "oldest" => // ASC NULLS FIRST: the null stripe precedes all values
        val key = col("corrected_request")
        last match {
          case Some(v) => key > v || (key === v && col("id") > lastId)
          case None    => key.isNotNull || (key.isNull && col("id") > lastId)
        }
      case "highest_fee" =>
        // The parsed fee int is never null (defaults to 0), so a None
        // cursor is always a caller bug — resuming from fee=0 would
        // silently skip every positive-fee row. Fail fast on both that
        // and a non-numeric cursor string.
        val v = last.flatMap(_.toLongOption)
        require(v.isDefined,
          s"highest_fee cursor must be the decimal fee of the last row, got $last")
        val key = Cols.sqliteFeeInt(col("fee"))
        key < v.get || (key === v.get && col("id") > lastId)
      case _ => col("id") < lastId
    }
    val page = base.where(after)
      .orderBy(sortKeys(opts.sort): _*).limit(opts.pageSize)
    Normalize.normalizeEntries(page.drop("corrected_request", "corrected_completion"))
  }

  /** distinctResolutions (entries.ts:180-187). */
  def distinctResolutions(entries: DataFrame): DataFrame =
    entries.where(col("resolution").isNotNull && col("resolution") =!= "")
      .select("resolution").distinct().orderBy("resolution")

  /** resolutionCounts facets (entries.ts:189-204). */
  def resolutionCounts(entries: DataFrame): DataFrame =
    entries.where(col("resolution").isNotNull && col("resolution") =!= "")
      .groupBy("resolution").agg(count(lit(1)).as("cnt"))

  /** latest sync cursor — COALESCE(MAX(id),0) (entries.ts:147-150). */
  def latestEntryId(entries: DataFrame): Long =
    entries.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)

  /** latestEntriesByLastReportedDate (entries.ts:152-178): all rows whose
    * entry_date equals the table max, ORDER BY id DESC — as a broadcast
    * scalar-subquery join, no driver round-trip for the max. */
  def latestEntries(entries: DataFrame): DataFrame = {
    val maxDf = entries.agg(max(col("entry_date")).as("__max_entry"))
    entries.join(broadcast(maxDf), col("entry_date") === col("__max_entry"))
      .drop("__max_entry")
      .orderBy(col("id").desc)
  }
}

/** Parameterized agencies API — agencyStats / homeStats / timeline /
  * listing (src/lib/db/agencies.ts + entries.ts:206-251). The q_* gate
  * queries delegate here with fixed Fixture parameters, so the driver's
  * oracle exercises these exact code paths. All trailing windows take an
  * explicit `asOf` (the reference's hidden `new Date()`).
  */
object AgencyEngine {

  private def winCol(asOf: String, n: Int): Column =
    col("request_date") >= date_sub(to_date(lit(asOf)), n).cast(StringType)
  private def validCol: Column =
    col("request_date").isNotNull && col("completion_date").isNotNull &&
      col("completion_date") >= col("request_date")
  private def ddiffCol: Column =
    datediff(try_to_date(col("completion_date")), try_to_date(col("request_date")))
  private def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))

  /** A2+A3+J3+A10 as one distributed plan (agencies.ts:54-139): 12
    * conditional aggregates re-keyed by canonical slug, full-outer
    * merged with bucketed resolution counts, avg-from-parts finals. */
  def agencyStats(spark: SparkSession, entries: DataFrame, asOf: String): DataFrame = {
    val base = Normalize.withIdentity(entries)
    def w(n: Int) = winCol(asOf, n)
    def dsumIf(c: Column) = sum(when(c, ddiffCol.cast(LongType)).otherwise(0L))
    val metrics = base.groupBy("slug").agg(
      min(col("name")).as("name"),
      count(lit(1)).as("requests"),
      cnt(w(30)).as("requests_30d"),
      cnt(w(90)).as("requests_90d"),
      cnt(w(365)).as("requests_365d"),
      cnt(validCol).as("response_count"),
      dsumIf(validCol).as("response_days_sum"),
      cnt(w(30) && validCol).as("response_count_30d"),
      dsumIf(w(30) && validCol).as("response_days_sum_30d"),
      cnt(w(90) && validCol).as("response_count_90d"),
      dsumIf(w(90) && validCol).as("response_days_sum_90d"),
      cnt(w(365) && validCol).as("response_count_365d"),
      dsumIf(w(365) && validCol).as("response_days_sum_365d"))
    val bucket = Cols.resolutionBucket(col("resolution"))
    val res = base.where(col("resolution").isNotNull && col("resolution") =!= "")
      .groupBy("slug").agg(
        cnt(bucket === "granted").as("granted"),
        cnt(bucket === "granted_in_part").as("granted_in_part"),
        cnt(bucket === "exempted").as("exempted"),
        cnt(bucket === "rejected").as("rejected"),
        cnt(bucket === "other").as("other"))
    def avgOf(sumC: String, cntC: String) =
      coalesce(col(sumC).cast(DoubleType) / nullif(col(cntC), lit(0L)), lit(0.0))
    metrics.join(res, Seq("slug"), "full_outer")
      .select(col("slug"), col("name"), col("requests"),
        col("requests_30d"), col("requests_90d"), col("requests_365d"),
        avgOf("response_days_sum", "response_count").as("avg_response_time"),
        avgOf("response_days_sum_30d", "response_count_30d").as("avg_response_time_30d"),
        avgOf("response_days_sum_90d", "response_count_90d").as("avg_response_time_90d"),
        avgOf("response_days_sum_365d", "response_count_365d").as("avg_response_time_365d"),
        coalesce(col("granted"), lit(0L)).as("granted"),
        coalesce(col("granted_in_part"), lit(0L)).as("granted_in_part"),
        coalesce(col("exempted"), lit(0L)).as("exempted"),
        coalesce(col("rejected"), lit(0L)).as("rejected"),
        coalesce(col("other"), lit(0L)).as("other"))
  }

  /** A9 — homeStats as ONE conditional agg, never a scan-to-driver
    * (the reference's entries.ts:206-251 anti-pattern). */
  def homeStats(entries: DataFrame, asOf: String, asOfYear: Int): DataFrame = {
    val dd = Cols.diffDays(col("request_date"), col("completion_date"), asOfYear)
    val x = entries.select(col("request_date"), dd.as("d"))
    def w(n: Int) = winCol(asOf, n)
    def avgOf(cond: Column) =
      coalesce(sum(when(cond, col("d").cast(LongType))).cast(DoubleType) /
        nullif(count(when(cond, 1)), lit(0L)), lit(0.0))
    x.agg(
      count(lit(1)).as("total_all"),
      count(when(w(30), 1)).as("total_30d"),
      count(when(w(90), 1)).as("total_90d"),
      count(when(w(365), 1)).as("total_365d"),
      avgOf(col("d") >= 0).as("avg_all"),
      avgOf(col("d") >= 0 && w(30)).as("avg_30d"),
      avgOf(col("d") >= 0 && w(90)).as("avg_90d"),
      avgOf(col("d") >= 0 && w(365)).as("avg_365d"))
  }

  /** A8+J4 — resolution timeline: alias scope, min-completion probe,
    * bucket pivot, dense date spine with zero-fill
    * (agencies.ts:211-260 + the page's JS densification). */
  def resolutionTimeline(entries: DataFrame, agency: String, asOf: String): DataFrame = {
    val cands = Normalize.aliasCandidates(agency).map(_.toLowerCase)
    val cand = entries.where(lower(col("agency")).isin(cands: _*))
    val inRange = col("completion_date").isNotNull && col("completion_date") <= asOf
    val probe = cand.where(inRange).agg(min(col("completion_date")).as("start_date"))
    val bucket = Cols.resolutionBucket(col("resolution"))
    val counts = cand.where(inRange)
      .join(broadcast(probe), col("completion_date") >= col("start_date"))
      .groupBy("completion_date").agg(
        cnt(bucket === "granted").as("granted"),
        cnt(bucket === "granted_in_part").as("granted_in_part"),
        cnt(bucket === "exempted").as("exempted"),
        cnt(bucket === "rejected").as("rejected"),
        cnt(bucket === "other").as("other"))
    val spine = probe.select(explode(sequence(
      to_date(col("start_date")), to_date(lit(asOf)), expr("interval 1 day"))).as("day"))
    spine.join(counts, spine("day").cast(StringType) === counts("completion_date"), "left")
      .select(col("day").cast(StringType).as("date"),
        coalesce(col("granted"), lit(0L)).as("granted"),
        coalesce(col("granted_in_part"), lit(0L)).as("granted_in_part"),
        coalesce(col("exempted"), lit(0L)).as("exempted"),
        coalesce(col("rejected"), lit(0L)).as("rejected"),
        coalesce(col("other"), lit(0L)).as("other"))
  }

  /** Agencies listing (agencies.ts:146-179): substring-AND search over
    * name+slug, comparator sort dispatch, page slice. */
  def listAgencies(stats: DataFrame, search: Option[String], sort: String,
                   page: Int, pageSize: Int): DataFrame = {
    var df = stats
    search.map(_.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty).foreach { terms =>
        val hay = lower(concat_ws(" ", col("name"), col("slug")))
        df = df.where(terms.map(t => hay.contains(t)).reduce(_ && _))
      }
    val keys = sort match {
      case "least_requests" => Seq(col("requests").asc, col("slug").asc)
      case "highest_avg_response_time" => Seq(col("avg_response_time").desc, col("slug").asc)
      case "lowest_avg_response_time" => Seq(col("avg_response_time").asc, col("slug").asc)
      case _ => Seq(col("requests").desc, col("slug").asc) // most_requests
    }
    // TakeOrderedAndProject slice (stats cardinality = #agencies, but the
    // global row_number window it replaces is a habit worth not having).
    df.orderBy(keys: _*).offset((page - 1) * pageSize).limit(pageSize)
  }

  /** agencyBySlug (agencies.ts:181-184). */
  def agencyBySlug(stats: DataFrame, slug: String): DataFrame =
    stats.where(col("slug") === slug).limit(1)
}
