package perfbench

import graft.entries.{Entry, Sync}

/** Seeded generators for the portal and ingest inputs. Every value is a
  * function of the seed alone, so one seed always yields the same corpus,
  * request mix and detail pages. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def apply(rng: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Gen {
  val AsOf = graft.entries.Fixture.AsOf
  val AsOfYear = graft.entries.Fixture.AsOfYear

  /** Agency spellings, most frequent first: canonical names next to their
    * alias variants, typo forms, Mc-names, WV tokens and doubled
    * apostrophes, as the reference's corpus has them. */
  val Agencies: Vector[String] = Vector(
    "Department of Environmental Protection", "West Virginia State Police",
    "Department of Health", "DEP", "City of Morgantown", "WVSP",
    "Office of the Governor", "Division of Highways", "WV Dep",
    "McDowell County Sheriff's Office", "Governor's Office",
    "Department of Education", "Kanawha County Commission", "wv state police",
    "Departmint of Health", "Tcity of Morgantown", "MCDOWELL COUNTY SHERIFF''S OFFICE",
    "Public Service Commission", "WV Division of Natural Resources",
    "Department of Corrections", "City of Charleston", "Marshall University",
    "West Virginia University", "Secretary of State", "State Auditor",
    "Department of Revenue", "Ethics Commission", "Board of Pharmacy",
    "City  of   Huntington", "Monongalia County Schools")
  private val agencyZipf = new Zipf(Agencies.size, 1.1)

  val Vocab: Vector[String] = {
    val base = Vector("records", "water", "permit", "inspection", "budget", "police",
      "contract", "email", "report", "minutes", "mining", "violation", "salary",
      "audit", "invoice", "complaint", "camera", "footage", "traffic", "zoning",
      "school", "grant", "road", "bridge", "payroll", "lawsuit", "settlement",
      "policy", "training", "overtime", "hospital", "vaccination", "election",
      "ballot", "tax", "lease", "vendor", "procurement", "jail", "incident",
      "arrest", "citation", "pipeline", "flood", "drilling", "well", "air",
      "quality", "monitoring", "emissions", "café", "Straße", "roster",
      "evaluation", "discipline", "memo", "agenda", "correspondence", "text",
      "message", "calendar", "travel", "expense", "fuel", "fleet", "tower")
    base ++ (0 until 240).map(i => s"term${i}x")
  }
  private val vocabZipf = new Zipf(Vocab.size, 1.0)

  val Resolutions: Vector[String] = Vector("Granted", "Granted in part", "granted in part",
    "Exempted", "Rejected", "", null, "No Responsive Documents", "Withdrawn")
  private val resolutionZipf = new Zipf(Resolutions.size, 0.9)

  private val Firsts = Vector("Jane", "Sam", "Ana", "Bob", "Cara", "Dan", "Eve", "Lee", "Pat", "Kim")
  private val Lasts = Vector("Doe", "Smith", "García", "Lee", "O'Neil", "Reyes", "Hall", "Lane", "Nash")
  private val Orgs = Vector("ACLU-WV", "Health Watch", "Local News LLC", "Court Watch",
    "Transparency Project", "Mountain State Spotlight", "Gazette-Mail")
  private val Fees = Vector("$25.00", "0", "", "$1,250.00", "25 (waived)", "15", "$5", "fee pending")

  private def words(rng: java.util.Random, lo: Int, hi: Int): String =
    (0 until lo + rng.nextInt(hi - lo + 1)).map(_ => Vocab(vocabZipf(rng))).mkString(" ")

  private def day(base: java.time.LocalDate, offset: Int): String = base.plusDays(offset).toString

  private val Epoch = java.time.LocalDate.parse("2015-01-01")
  private val Span = java.time.temporal.ChronoUnit.DAYS.between(Epoch,
    java.time.LocalDate.parse(AsOf)).toInt

  /** One entry. Dates are ISO or null: ~8% without a request date, ~12%
    * still open, ~4% completed before they were requested and ~2%
    * completed in a year after the as-of year. `extra` is appended to the
    * subject (the ingest workload's planted term). */
  def entry(rng: java.util.Random, id: Long, extra: String = ""): Entry = {
    val reqOff = rng.nextInt(Span)
    val req = if (rng.nextInt(100) < 8) None else Some(day(Epoch, reqOff))
    val kind = rng.nextInt(100)
    val comp =
      if (kind < 12) None
      else if (kind < 16) Some(day(Epoch, math.max(0, reqOff - 1 - rng.nextInt(30))))
      else if (kind < 18) Some(s"${AsOfYear + 1}-0${1 + rng.nextInt(9)}-15")
      else Some(day(Epoch, math.min(Span, reqOff + rng.nextInt(120))))
    val named = rng.nextInt(3)
    def pick[T](xs: Vector[T]) = xs(rng.nextInt(xs.size))
    val subject = (words(rng, 2, 5) + (if (extra.isEmpty) "" else " " + extra)).trim
    Entry(
      id = id,
      agency = Agencies(agencyZipf(rng)),
      organization = if (named != 1) Some(pick(Orgs)) else None,
      first_name = if (named >= 1) Some(pick(Firsts)) else None,
      middle_name = if (named == 2 && rng.nextBoolean()) Some("M") else None,
      last_name = if (named >= 1) Some(pick(Lasts)) else None,
      request_date = req,
      completion_date = comp,
      entry_date = comp.orElse(req),
      fee = if (rng.nextInt(4) == 0) None else Some(pick(Fees)),
      is_amended = if (rng.nextInt(20) == 0) 1 else 0,
      subject = Some(subject),
      details = if (rng.nextInt(4) == 0) None else Some(words(rng, 4, 10)),
      resolution = Option(Resolutions(resolutionZipf(rng))),
      response = if (rng.nextInt(3) == 0) None else Some(words(rng, 1, 6)))
  }

  /** Ids 1..n. */
  def corpus(seed: Long, n: Int): Vector[Entry] = {
    val rng = new java.util.Random(seed)
    (1 to n).map(i => entry(rng, i.toLong)).toVector
  }

  /** A search query of `terms` Zipf terms, each sometimes cut to a prefix. */
  def searchQuery(rng: java.util.Random, terms: Int): String =
    (0 until terms).map { _ =>
      val t = Vocab(vocabZipf(rng))
      if (t.length > 5 && rng.nextBoolean()) t.take(4) else t
    }.mkString(" ")

  /** The detail page the upstream site serves for an entry — the label /
    * value and panel layout the sync parser reads, with M/D/YYYY dates. */
  def page(e: Entry): String = {
    def mdy(iso: String) = {
      val Array(y, m, d) = iso.split("-")
      s"${m.toInt}/${d.toInt}/$y"
    }
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val fields = Seq(
      "Organization:" -> e.organization, "First Name:" -> e.first_name,
      "Middle Name:" -> e.middle_name, "Last Name:" -> e.last_name,
      "Request Date:" -> e.request_date.map(mdy), "Completion Date:" -> e.completion_date,
      "Entry Date:" -> e.entry_date, "Fee:" -> e.fee,
      "Amended:" -> (if (e.is_amended == 1) Some("Amended") else None),
      "Resolution:" -> e.resolution.filter(_.nonEmpty))
      .collect { case (k, Some(v)) => k -> esc(v) }
    val panels = Seq("Subject" -> e.subject, "Details" -> e.details, "Response" -> e.response)
      .collect { case (k, Some(v)) => k -> esc(v) }
    Sync.fixtureHtml(esc(e.agency), fields, panels)
  }

  /** The entry as the sync parser reads it back from [[page]]: empty
    * values are absent on the page, and text is whitespace-collapsed. */
  def asParsed(e: Entry): Entry = {
    def clean(o: Option[String]) = o.map(Sync.cleanText).filter(_.nonEmpty)
    e.copy(agency = Sync.cleanText(e.agency), organization = clean(e.organization),
      first_name = clean(e.first_name), middle_name = clean(e.middle_name),
      last_name = clean(e.last_name), fee = clean(e.fee), subject = clean(e.subject),
      details = clean(e.details), resolution = clean(e.resolution), response = clean(e.response))
  }
}
