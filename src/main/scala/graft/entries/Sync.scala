package graft.entries

import java.util.regex.Pattern

/** Incremental sync pipeline — SURVEY §2.9 / reference src/lib/sync.ts.
  *
  * The reference's "stream" is a contiguous-id poll loop with drift
  * tolerance 3: start at MAX(id)+1, fetch each detail page, parse, upsert;
  * stop after 3 consecutive misses (sync.ts:8,177-212). The transport is
  * pluggable so the loop + parser are pure and fully testable offline
  * (FIXTURES.md sync-parser family); in production the transport is an
  * HTTP fetch executed from `ids.toDS.mapPartitions` so the probe scales
  * horizontally while the drift-stop logic stays on the driver.
  */
object Sync {

  val DriftTolerance = 3 // reference src/lib/sync.ts:8

  final case class SyncResult(
      added: Long, checked: Long, startFrom: Long, lastCheckedId: Long,
      driftTolerance: Long) // reference src/lib/types.ts:67-73

  /** normalizeKey — reference src/lib/sync.ts:50-57. */
  def normalizeKey(input: String): String =
    input.replace(":", "").trim.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")

  /** normalizeDate — reference src/lib/sync.ts:59-76. Pure string
    * transform, deliberately no calendar validation. */
  def normalizeDate(value: String): Option[String] = {
    if (value == null) return None
    val trimmed = value.trim
    if (trimmed.isEmpty) return None
    val mdy = "^(\\d{1,2})/(\\d{1,2})/(\\d{4})$".r
    trimmed match {
      case mdy(m, d, y) =>
        Some(f"$y-${m.toInt}%02d-${d.toInt}%02d")
      case _ if trimmed.matches("^\\d{4}-\\d{2}-\\d{2}$") => Some(trimmed)
      case _ => None
    }
  }

  /** cleanText — reference src/lib/sync.ts:78-81. */
  def cleanText(value: String): String =
    if (value == null) "" else value.replaceAll("\\s+", " ").trim

  /** Minimal entity decode — node-html-parser's `.text` (used by the
    * reference parser) returns decoded text; the regex extractor sees raw
    * markup, so decode the five standard entities. */
  def decodeEntities(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&#39;", "'").replace("&amp;", "&")

  // Class markers match whole SPACE-DELIMITED class tokens (`class=
  // "col-md-4 content-col-label"` on the real Bootstrap page),
  // mirroring the reference's CSS class selectors exactly
  // (sync.ts:85-97): `.panel-body` must NOT match `panel-body-sm` —
  // a \b boundary would, because '-' is a regex word boundary. Values
  // strip nested tags before cleaning — node-html-parser's `.text`
  // (what the reference reads) returns descendant text with markup
  // removed.
  private def classTok(name: String): String =
    s"""class="(?:[^"]*\\s)?$name(?:\\s[^"]*)?""""
  private val LabelRe = Pattern.compile(
    s"""${classTok("content-col-label")}.*?${classTok("content-div-var")}.*?<strong[^>]*>(.*?)</strong>""",
    Pattern.DOTALL)
  private val DataRe = Pattern.compile(
    s"""${classTok("content-col-data")}.*?<div[^>]*${classTok("content-div-var")}[^>]*>(.*?)</div>""",
    Pattern.DOTALL)
  private val PanelMarkRe = Pattern.compile(classTok("panel-body"))
  private val StrongRe = Pattern.compile(
    """<strong[^>]*>(.*?)</strong>""", Pattern.DOTALL)
  private val PRe = Pattern.compile("""<p[^>]*>(.*?)</p>""", Pattern.DOTALL)
  private val RequestItemsRe = Pattern.compile(
    s"""${classTok("container-requestitems")}([\\s\\S]*)""")

  /** node-html-parser `.text` semantics for a captured inner-HTML span:
    * drop tags, keep their text content. */
  private def stripTags(s: String): String = s.replaceAll("<[^>]+>", " ")

  /** S2 — parseEntry: label/value DOM pairs + panel sections -> typed
    * record (reference src/lib/sync.ts:83-130). Regex-driven over the
    * same class markers node-html-parser selects on; returns None when no
    * fields parse (the 404/redirect-shaped page). */
  def parseEntry(html: String, id: Long): Option[Entry] = {
    val values = scala.collection.mutable.LinkedHashMap.empty[String, String]

    val labels = {
      val m = LabelRe.matcher(html)
      val buf = Seq.newBuilder[String]; while (m.find()) buf += m.group(1); buf.result()
    }
    val data = {
      val m = DataRe.matcher(html)
      val buf = Seq.newBuilder[String]; while (m.find()) buf += m.group(1); buf.result()
    }
    labels.zip(data).foreach { case (k, v) =>
      val key = normalizeKey(cleanText(stripTags(k)))
      if (key.nonEmpty) values(key) = decodeEntities(cleanText(stripTags(v)))
    }

    // Panels are scoped PER panel-body block (the reference iterates
    // `.panel-body` nodes and reads the strong/p INSIDE each,
    // sync.ts:97-104): a panel missing its <p> is skipped, never
    // allowed to capture the next panel's value across the boundary.
    val reqItems = RequestItemsRe.matcher(html)
    if (reqItems.find()) {
      val region = reqItems.group(1)
      val marks = {
        val m = PanelMarkRe.matcher(region)
        val buf = Seq.newBuilder[Int]; while (m.find()) buf += m.start(); buf.result()
      }
      (marks :+ region.length).sliding(2).foreach {
        case Seq(from, until) =>
          // Bound the chunk at the panel-body's own closing tag, not
          // just the next panel marker: panel-body children are flat
          // (<strong>/<p>), so the first </div> after the marker closes
          // THIS panel — without the cut, the LAST panel (which has no
          // next marker) would extend to the document end and a
          // missing-<p> panel there would capture the footer's <p>.
          val toNextMark = region.substring(from, until)
          val close = toNextMark.indexOf("</div>")
          val chunk =
            if (close >= 0) toNextMark.substring(0, close) else toNextMark
          val sm = StrongRe.matcher(chunk)
          val pm = PRe.matcher(chunk)
          if (sm.find() && pm.find()) {
            val key = normalizeKey(cleanText(stripTags(sm.group(1))))
            if (key.nonEmpty)
              values(key) = decodeEntities(cleanText(stripTags(pm.group(1))))
          }
        case _ => ()
      }
    }

    if (values.isEmpty) return None
    def opt(k: String): Option[String] = values.get(k).filter(_.nonEmpty)
    Some(Entry(
      id = id,
      agency = opt("agency").getOrElse("Unknown"),
      organization = opt("organization"),
      first_name = opt("first_name"),
      middle_name = opt("middle_name"),
      last_name = opt("last_name"),
      request_date = opt("request_date").flatMap(normalizeDate),
      completion_date = opt("completion_date").flatMap(normalizeDate),
      entry_date = opt("entry_date").flatMap(normalizeDate),
      fee = opt("fee"),
      is_amended = if (opt("amended").isDefined) 1 else 0,
      subject = opt("subject"),
      details = opt("details"),
      resolution = opt("resolution"),
      response = opt("response")))
  }

  /** One classified page: parsed entry OR a quarantine reason, plus the
    * raw payload's size and md5 fingerprint so a reject is triagable and
    * replayable without re-fetching. */
  final case class PageOutcome(id: Long, status: String,
                               reason: Option[String], n_bytes: Long,
                               fingerprint: String, entry: Option[Entry])

  /** S2 hardened for production ingest: classify every fetched page
    * instead of silently dropping unparseable ones. A page with zero
    * recognizable fields (the 404/redirect shape, or garbage bytes) is
    * QUARANTINED with a reason and its payload fingerprint — at scale
    * the rejects frame is the side output you alert on and replay after
    * a parser fix, while the good split feeds the upsert unchanged. One
    * map-side pass; both splits are filters over its output. */
  def classifyPages(pages: org.apache.spark.sql.Dataset[(Long, String)]):
      org.apache.spark.sql.Dataset[PageOutcome] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(_.map { case (id, html) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(html.getBytes("UTF-8")).map("%02x".format(_)).mkString
      parseEntry(html, id) match {
        case Some(e) => PageOutcome(id, "parsed", None,
          html.length.toLong, md5, Some(e))
        case None => PageOutcome(id, "quarantined", Some("no_fields"),
          html.length.toLong, md5, None)
      }
    })
  }

  /** S1 — the drift-tolerance probe loop (reference runSync,
    * src/lib/sync.ts:177-212). `fetch` abstracts the transport: None is
    * a missing id (404/redirect/unparseable), Some(html) a hit. */
  def runSync(fetch: Long => Option[String], latestInDb: Long,
              driftTolerance: Int = DriftTolerance): (SyncResult, Seq[Entry]) = {
    var currentId = latestInDb + 1
    val startFrom = currentId
    var missingInARow = 0
    var checked = 0L
    val added = Seq.newBuilder[Entry]
    var nAdded = 0L
    while (missingInARow < driftTolerance) {
      checked += 1
      fetch(currentId).flatMap(parseEntry(_, currentId)) match {
        case Some(entry) => added += entry; nAdded += 1; missingInARow = 0
        case None => missingInARow += 1
      }
      currentId += 1
    }
    (SyncResult(nAdded, checked, startFrom, currentId - 1, driftTolerance),
      added.result())
  }

  /** S1 at scale — the distributed twin of [[runSync]]. The reference's
    * serial fetch loop (one page per round-trip, sync.ts:177-212) can't
    * saturate a cluster; here each round probes a WINDOW of `batch`
    * candidate ids from `spark.range(...).mapPartitions(transport+parse)` so the
    * fetch+parse fan out across executors, and only the drift-stop
    * decision runs on the driver over the parsed batch — bounded by the
    * `batch` tunable (256 rows), NOT by corpus size, so the driver never
    * becomes the funnel. Exactly replays [[runSync]]'s stop semantics:
    * the loop ends at the id that completes `driftTolerance` consecutive
    * misses, entries past the stop id are discarded, and each id's page
    * is fetched exactly once (`maxBatches` bounds a runaway upstream).
    *
    * Returns the same (result, added-entries) pair; `added` is handed
    * back as a Dataset so the upsert sink composes unchanged.
    */
  def runSyncBatch(spark: org.apache.spark.sql.SparkSession,
                   transport: Long => Option[String], latestInDb: Long,
                   driftTolerance: Int = DriftTolerance, batch: Int = 256,
                   maxBatches: Int = 64): (SyncResult, org.apache.spark.sql.Dataset[Entry]) = {
    import spark.implicits._
    // tolerance 0 would make the serial loop a no-op while this one still
    // probes a whole batch — reject the divergence instead of guessing.
    require(driftTolerance > 0, s"driftTolerance must be positive, got $driftTolerance")
    require(batch > 0, s"batch must be positive, got $batch")
    val startFrom = latestInDb + 1
    var batchStart = startFrom
    var missingInARow = 0
    var stopId = -1L
    val kept = Seq.newBuilder[Entry]
    var nAdded = 0L
    var rounds = 0
    while (stopId < 0 && rounds < maxBatches) {
      rounds += 1
      // Fan the fetch+parse out across executors; the collected batch is
      // <= `batch` rows — bounded driver data by construction. The range
      // is born with its partitions, so the fan-out needs no shuffle.
      val parsed = spark.range(batchStart, batchStart + batch, 1, math.min(batch, 32)).as[Long]
        .mapPartitions(_.flatMap(id => transport(id).flatMap(parseEntry(_, id))))
        .collect()
      val byId = parsed.map(e => e.id -> e).toMap
      var id = batchStart
      while (stopId < 0 && id < batchStart + batch) {
        byId.get(id) match {
          case Some(e) => missingInARow = 0; nAdded += 1; kept += e
          case None =>
            missingInARow += 1
            if (missingInARow >= driftTolerance) stopId = id
        }
        id += 1
      }
      batchStart += batch
    }
    val lastChecked = if (stopId >= 0) stopId else batchStart - 1
    (SyncResult(nAdded, lastChecked - startFrom + 1, startFrom, lastChecked,
      driftTolerance), spark.createDataset(kept.result()))
  }

  /** Fixture detail pages (FIXTURES.md: label/value pairs + panel-body
    * sections, one M/D/YYYY-dated page, one 404-shaped page). */
  def fixtureHtml(agency: String, fields: Seq[(String, String)],
                  panels: Seq[(String, String)]): String = {
    val rows = (("Agency:" -> agency) +: fields).map { case (k, v) =>
      s"""<div class="content-col-label"><div class="content-div-var"><strong>$k</strong></div></div>
         |<div class="content-col-data"><div class="content-div-var">$v</div></div>""".stripMargin
    }.mkString("\n")
    val panelHtml = panels.map { case (k, v) =>
      s"""<div class="panel-body"><strong>$k</strong><p>$v</p></div>"""
    }.mkString("\n")
    s"""<html><body><div class="content">$rows</div>
       |<div class="container-requestitems">$panelHtml</div></body></html>""".stripMargin
  }

  val NotFoundHtml = "<html><body><h1>Error</h1><p>No entry found.</p></body></html>"

  /** Deterministic in-memory transport for the registered sync queries:
    * pages 27,28,30 exist (29 is an interior gap the tolerance absorbs),
    * everything past 30 is missing, so the loop stops at 33. */
  val fixtureTransport: Map[Long, String] = Map(
    27L -> fixtureHtml("Department of Health",
      Seq("Organization:" -> "Health Watch", "Request Date:" -> "4/2/2025",
        "Completion Date:" -> "04/15/2025", "Entry Date:" -> "2025-04-16",
        "Fee:" -> "$12.00", "Resolution:" -> "Granted"),
      Seq("Subject" -> "inspection   schedules", "Details" -> "All Q2 inspections")),
    28L -> fixtureHtml("Unknown Agency Llc",
      Seq("First Name:" -> "Pat", "Last Name:" -> "Lane",
        "Request Date:" -> "13/45/2025", "Amended:" -> "Amended",
        "Resolution:" -> ""),
      Seq("Subject" -> "odd dates", "Response" -> "see attached")),
    30L -> fixtureHtml("City of Morgantown",
      Seq("Organization:" -> "Local News LLC", "Request Date:" -> "2025-05-01",
        "Completion Date:" -> "not yet", "Entry Date:" -> "5/2/2025"),
      Seq("Subject" -> "street  repaving", "Details" -> "Cost &amp; schedule")))
}
