package perfbench

import graft.entries.{AgencyEngine, Engine, Entry, SearchOptions, Sync, Warehouse}
import graft.functions.Text
import graft.operators.{Fts, ResultCache}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Daily sync cycles on top of a seeded base corpus. A cycle syncs the
  * new detail pages through Sync.runSyncBatch (gaps shorter than the
  * drift tolerance included), adds re-delivered revisions of earlier ids,
  * lands the batch as a source chunk, lets the two streaming maintainers
  * pick it up, then reads: the cycle's planted term through the
  * incremental FTS index, and the agency page through the result cache
  * keyed on the latest synced id. Every `CompactEvery` cycles both stores
  * are compacted and searched through Engine.listEntries.
  *
  * A cycle is one day of the reference's daily sync. Its page count is
  * the reference's id rate: its date corrections (corrections.json) date
  * id 579 to 2016-01-20 and id 52,803 to 2025-02-24, so 52,224 ids over
  * 3,323 days, 15.7 a day. The reference publishes no figures for the
  * rest, so these are assumptions: the gap rate, the re-delivered share
  * (its sync probes only new ids), the compaction period (it has no
  * compaction), and the base corpus, a tenth of the reference's ~50k
  * entries so that set-up and compaction fit a run. */
object Ingest {
  val BaseSize = 5000
  val PagesPerCycle = 16
  val GapPercent = 4
  val RedeliverShare = 0.1
  val CompactEvery = 3
  /** Untimed cycles before timing: the first cycles of a JVM run slower. */
  val WarmupCycles = 3

  private val FtsCols = Seq("agency", "organization", "first_name", "last_name",
    "subject", "details", "resolution", "response")
  private val EntrySchema = Encoders.product[Entry].schema

  def plantedTerm(cycle: Int): String = f"zq$cycle%05d"

  /** One cycle's inputs: the pages the transport serves (new ids, with
    * gaps), and the re-delivered revisions of earlier ids. */
  final case class CycleInput(cycle: Int, pages: Map[Long, String], fresh: Seq[Entry],
                              redelivered: Seq[Entry], redeliveredPages: Seq[(Long, String)])

  /** Generates cycle `cycle` given the id after which it starts. Gaps are
    * runs of 1 or 2 missing ids (the drift tolerance is 3); re-delivered
    * ids are drawn from the ids that exist. */
  def cycleInput(seed: Long, cycle: Int, latest: Long, exists: Long => Boolean): CycleInput = {
    val rng = new java.util.Random(seed * 1000003L + cycle)
    val term = plantedTerm(cycle)
    var id = latest
    val fresh = (0 until PagesPerCycle).map { _ =>
      id += 1
      if (rng.nextInt(100) < GapPercent) id += 1 + rng.nextInt(Sync.DriftTolerance - 1)
      Gen.entry(rng, id, term)
    }
    val again = mutable.LinkedHashSet[Long]()
    while (again.size < (PagesPerCycle * RedeliverShare).toInt) {
      val i = 1L + rng.nextInt(latest.toInt)
      if (exists(i)) again += i
    }
    val redelivered = again.toSeq.map(i => Gen.entry(rng, i, term))
    CycleInput(cycle, fresh.map(e => e.id -> Gen.page(e)).toMap, fresh, redelivered,
      redelivered.map(e => e.id -> Gen.page(e)))
  }

  final class Stores(val dir: String) {
    val srcEntries = s"$dir/src/entries"
    val srcText = s"$dir/src/text"
    val staged = s"$dir/store/staged"
    val ftsIncr = s"$dir/store/fts_incr"
    val compacted = s"$dir/store/compacted"
    val ftsCompacted = s"$dir/store/fts_compacted"
    val cache = s"$dir/cache"
    val ckpt = s"$dir/ckpt"
    val storeDirs = Seq(srcEntries, srcText, staged, ftsIncr, compacted, ftsCompacted)
    /** Latest revision of every id, last writer wins, as the benchmark delivered them. */
    val live = mutable.LinkedHashMap[Long, Entry]()
    var latest = 0L
    var cycle = 0
  }

  /** Every data file under the stores, with its size. */
  def files(s: Stores): Map[String, Long] =
    s.storeDirs.flatMap { d =>
      val root = new java.io.File(d)
      if (!root.exists) Nil
      else java.nio.file.Files.walk(root.toPath).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".parquet")).map(p => p.toString -> p.toFile.length())
    }.toMap

  /** Bytes of the files that are new or changed between two listings. */
  def written(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum

  /** User bytes of an entry: its field values in UTF-8, plus the id. */
  def userBytes(e: Entry): Long =
    8L + e.productIterator.drop(1).map {
      case Some(v) => v.toString.getBytes("UTF-8").length
      case None => 0
      case v => v.toString.getBytes("UTF-8").length
    }.sum

  private def textFrame(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    import spark.implicits._
    spark.createDataset(entries).toDF()
      .select(col("id").as("doc_id"), concat_ws(" ", FtsCols.map(col): _*).as("text"))
  }

  /** A span around a call that writes into `dir`; when traced, the bytes
    * it wrote are counted for its layer. */
  private def writing[T](s: Stores, dir: String, layer: String, tracer: Tracer)(body: => T): T =
    if (!tracer.enabled) body else {
      val before = files(s)
      val out = tracer.span(layer.stripPrefix("ingest."), layer)(body)
      tracer.add(layer, "bytes", written(before, files(s)).toDouble)
      out
    }

  /** Lands one chunk and runs both streaming maintainers over it. */
  def land(spark: SparkSession, s: Stores, chunk: Seq[Entry], tracer: Tracer): Unit = {
    import spark.implicits._
    spark.createDataset(chunk).toDF().write.mode("append").parquet(s.srcEntries)
    textFrame(spark, chunk).write.mode("append").parquet(s.srcText)
    chunk.foreach(e => s.live(e.id) = e)
    writing(s, s.staged, "ingest.Streams.warehouseAppendStream", tracer) {
      Streams.warehouseAppendStream(spark.readStream.schema(EntrySchema).parquet(s.srcEntries),
        s.staged, s"${s.ckpt}/warehouse")
    }
    writing(s, s.ftsIncr, "ingest.Streams.incrementalFtsIndex", tracer) {
      Streams.incrementalFtsIndex(spark, s.srcText, s.ftsIncr, s"${s.ckpt}/fts")
    }
  }

  def compact(spark: SparkSession, s: Stores, tracer: Tracer): Unit = {
    writing(s, s.compacted, "ingest.Warehouse.compactAppendStore", tracer) {
      Warehouse.compactAppendStore(spark, s.staged, s.compacted)
    }
    writing(s, s.ftsCompacted, "ingest.Fts.compactFtsIndex", tracer) {
      Fts.compactFtsIndex(spark, s.ftsIncr, s.ftsCompacted)
    }
  }

  /** Set-up: the base corpus landed as the first chunk, maintained and
    * compacted. */
  def build(spark: SparkSession, seed: Long, dir: String, tracer: Tracer): Stores = {
    val s = new Stores(dir)
    val base = Gen.corpus(seed, BaseSize)
    land(spark, s, base, tracer)
    compact(spark, s, tracer)
    s.latest = BaseSize.toLong
    s
  }

  /** The agency page, through the result cache keyed on the latest id. */
  def agencyPage(spark: SparkSession, s: Stores, slug: String, tracer: Tracer): Array[org.apache.spark.sql.Row] = {
    val (stats, hit) = tracer.span("ResultCache.withCache", "ResultCache.withCache") {
      ResultCache.withCache(spark, s.cache, "agencyStats", Seq("asOf" -> Gen.AsOf), s.latest.toString) {
        AgencyEngine.agencyStats(spark,
          Warehouse.snapshotAt(spark, s.staged, Long.MaxValue).drop("batch_id", "request_year",
            "corrected_request", "corrected_completion"), Gen.AsOf)
      }
    }
    tracer.add("ingest.cache", "lookups", 1)
    if (hit) tracer.add("ingest.cache", "hits", 1)
    tracer.span("AgencyEngine.agencyBySlug", "AgencyEngine.agencyBySlug") {
      AgencyEngine.agencyBySlug(stats, slug).collect()
    }
  }

  def searchPlanted(spark: SparkSession, s: Stores, term: String, tracer: Tracer): Set[Long] =
    tracer.span("Fts.readIncrementalIndex", "Fts.readIncrementalIndex") {
      Fts.matchingIds(Fts.readIncrementalIndex(spark, s.ftsIncr), Seq(term))
        .collect().map(_.getLong(0)).toSet
    }

  /** Checks the compacted store and index against a from-scratch build of
    * the live (last-writer-wins) entries, as of the last compaction. */
  def checkCompacted(spark: SparkSession, s: Stores, o: Outcome): Unit = {
    val (storeDiff, indexDiff) = scratchDiff(spark, s)
    o.check(storeDiff == 0, s"compacted store differs from a scratch build by $storeDiff rows")
    o.check(indexDiff == 0, s"compacted index differs from a scratch build by $indexDiff rows")
  }

  /** Rows in either of compacted store and scratch build but not the
    * other; the same for the index. */
  private def scratchDiff(spark: SparkSession, s: Stores): (Long, Long) = {
    import spark.implicits._
    val scratch = Warehouse.correctedPartitioned(spark, spark.createDataset(s.live.values.toSeq).toDF())
    val store = Corrupt(Warehouse.read(spark, s.compacted))
    val cols = scratch.columns.toSeq.map(col)
    val a = scratch.select(cols: _*)
    val b = store.select(cols: _*)
    val storeDiff = a.exceptAll(b).count() + b.exceptAll(a).count()
    val idx = Fts.termIndex(textFrame(spark, s.live.values.toSeq), "doc_id", Seq("text"))
    val got = Corrupt(Fts.readTermIndex(spark, s.ftsCompacted).select("id", "term"))
    (storeDiff, idx.exceptAll(got).count() + got.exceptAll(idx).count())
  }

  private val slugs = mutable.Map[String, String]()
  def slugOf(agency: String): String = slugs.getOrElseUpdate(agency,
    Text.agencyIdentity(agency.replaceAll("'{2,}", "'"), graft.entries.Fixture.aliasGroups)._2)

  /** One cycle (and, when `compactAfter`, the compaction): records
    * the cycle latency, the reads, and checks every result. */
  def cycle(spark: SparkSession, seed: Long, s: Stores, o: Outcome, tracer: Tracer,
            acct: Accounting, compactAfter: Boolean): Unit = {
    s.cycle += 1
    val c = s.cycle
    val in = cycleInput(seed, c, s.latest, s.live.contains)
    val term = plantedTerm(c)
    val before = files(s)
    // The transport runs inside Spark tasks, on a deserialized copy of its
    // closure, so fetches are counted through an accumulator.
    val fetches = if (tracer.enabled) Some(spark.sparkContext.longAccumulator("fetches")) else None
    val transport: Long => Option[String] = fetches match {
      case Some(n) => id => { n.add(1); in.pages.get(id) }
      case None => in.pages.get
    }
    val want = (in.fresh.map(_.id) ++ in.redelivered.map(_.id)).toSet
    var searchNs = 0L
    val t0 = System.nanoTime()
    val (kept, revisions, found) = tracer.request(s"cycle$c", "ingest.cycle") {
      val (res, added) = tracer.span("Sync.runSyncBatch", "ingest.Sync.runSyncBatch") {
        Sync.runSyncBatch(spark, transport, s.latest)
      }
      val kept = added.collect().toSeq
      val revisions = in.redeliveredPages.flatMap { case (id, html) => Sync.parseEntry(html, id) }
      tracer.add("ingest.Sync.runSyncBatch", "kept", res.added.toDouble)
      tracer.add("ingest.Sync.runSyncBatch", "fetches", fetches.fold(0.0)(_.value.toDouble))
      land(spark, s, kept ++ revisions, tracer)
      val r0 = System.nanoTime()
      val found = tracer.span("reads.planted", "ingest.reads") { searchPlanted(spark, s, term, tracer) }
      searchNs = System.nanoTime() - r0
      (kept, revisions, found)
    }
    val t1 = System.nanoTime()
    s.latest = in.fresh.last.id
    val agency = Gen.Agencies(new java.util.Random(seed + c).nextInt(Gen.Agencies.size))
    val slug = slugOf(agency)
    val page = tracer.request(s"agency$c", "ingest.reads") { agencyPage(spark, s, slug, tracer) }
    val t2 = System.nanoTime()
    o.record("cycle", (t1 - t0) / 1e6)
    Main.log(f"cycle $c: ${(t1 - t0) / 1e6}%.0f ms, reads ${searchNs / 1e6}%.0f + ${(t2 - t1) / 1e6}%.0f ms")
    o.record("read", searchNs / 1e6)
    o.record("read", (t2 - t1) / 1e6)
    o.check(Corrupt(kept).sortBy(_.id) == in.fresh.map(Gen.asParsed) && revisions.size == in.redelivered.size,
      s"cycle $c: synced entries differ from the pages served")
    o.check(Corrupt(found) == want, s"cycle $c: planted term found ${found.size} ids, want ${want.size}")
    val requests = s.live.valuesIterator.count(e => slugOf(e.agency) == slug).toLong
    val got = Corrupt(page.map(_.getAs[Long]("requests")).toSeq)
    o.check(got == Seq(requests),
      s"cycle $c: agency $slug page differs from $requests requests")
    var busy = t2 - t0
    if (compactAfter) {
      val t3 = System.nanoTime()
      val total = tracer.request(s"compact$c", "ingest.compaction") {
        compact(spark, s, tracer)
        val store = Warehouse.read(spark, s.compacted)
          .drop("request_year", "corrected_request", "corrected_completion")
        tracer.span("Engine.listEntries", "Engine.listEntries") {
          Engine.listEntries(spark, store, SearchOptions(q = Some(term)), Some(s.ftsCompacted)).total
        }
      }
      val t4 = System.nanoTime()
      busy += t4 - t3
      o.record("compaction", (t4 - t3) / 1e6)
      o.check(Corrupt(total) == want.size, s"cycle $c: compacted search found $total, want ${want.size}")
    }
    acct.ingested += want.size
    acct.userBytes += (in.fresh ++ in.redelivered).map(userBytes).sum
    acct.writtenBytes += written(before, files(s))
    acct.busyNs += busy
  }

  /** Byte and work accounting over a timed phase. */
  final class Accounting {
    var ingested = 0L
    var userBytes = 0L
    var writtenBytes = 0L
    var busyNs = 0L
  }
}
