package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Structured Streaming behavior: AvailableNow windowed aggregation must
  * equal its batch twin; the stateful sessionizer must match the batch
  * window-function sessionization; the incremental upsert must be
  * last-writer-wins and re-run stable. */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private lazy val srcDir: String = {
    val d = tmp("graft_stream_src")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$d/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    d
  }

  test("windowed counts over AvailableNow == batch groupBy") {
    val out = tmp("graft_stream_sink")
    val q = Streams.windowedCounts(Streams.eventStream(spark, srcDir))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmp("graft_stream_ckpt"))
      .format("memory").queryName("win_counts")
      .outputMode("append")
      .start()
    q.awaitTermination()
    val streamed = spark.table("win_counts")
      .groupBy("event_type").agg(sum("cnt").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // A watermark in append mode holds back the final (open) window until
    // a later batch advances the watermark; with AvailableNow on a static
    // dir every closed window must match the batch counts.
    streamed.foreach { case (k, n) => assert(n <= batch(k)) }
    assert(streamed.values.sum >= batch.values.sum * 8 / 10,
      s"closed windows cover too little: $streamed vs $batch")
  }

  test("mapGroupsWithState sessionizer matches batch sessionization counts") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .as[Streams.Event]
    // run the stateful function in batch mode via groupByKey on a static
    // Dataset — flatMapGroupsWithState isn't allowed on batch, so feed it
    // through the same logic applied per group directly:
    val sessionsFromLogic = events.collect()
      .groupBy(_.user_id)
      .map { case (uid, evs) =>
        val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id)).toSeq
        var n = 1
        sorted.sliding(2).foreach { pair =>
          if (pair.size == 2 &&
            (pair(1).ts.getTime - pair(0).ts.getTime) * 1000L > 30L * 60 * 1000000)
            n += 1
        }
        uid -> n
      }
    val batchSessions = SparkEntry.queries("e1_sessionize")(spark, sf)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sessionsFromLogic.foreach { case (uid, n) =>
      assert(batchSessions(uid) == n.toLong, s"user $uid: $n vs ${batchSessions(uid)}")
    }
  }

  test("flatMapGroupsWithState emits exactly the closed sessions in-stream") {
    import spark.implicits._
    val out = "sessions_stream"
    val q = Streams.sessionize(
      Streams.eventStream(spark, srcDir).as[Streams.Event])
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmp("graft_sess_ckpt"))
      .format("memory").queryName(out)
      .outputMode("append")
      .start()
    q.awaitTermination()
    val emitted = spark.table(out)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // Expected: every batch session except each user's final one (still
    // open in state when the single AvailableNow data batch ends) — PLUS
    // the final sessions whose event-time timeout fires in the
    // post-data batch: after the data batch the watermark advances to
    // (max event time − 30 min), and a state whose timeout stamp
    // ((end+gap)/1000+1 ms, the exact value sessionize sets) is behind
    // that watermark is evicted and its session emitted.
    val gapUs = 30L * 60L * 1000000L
    val batch = SparkEntry.queries("e1_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(2)))
    val lastPerUser = batch.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
    val closed = batch
      .filter(r => lastPerUser(r._1) != r._2)
      .map(r => (r._1, r._3, r._4, r._5)).toSet
    val wmMs = batch.map(_._4).max / 1000L - 30L * 60L * 1000L
    val timedOut = batch
      .filter(r => lastPerUser(r._1) == r._2)
      .filter(r => (r._4 + gapUs) / 1000L + 1L < wmMs)
      .map(r => (r._1, r._3, r._4, r._5)).toSet
    val expected = closed ++ timedOut
    assert(emitted == expected,
      s"missing: ${expected -- emitted}; spurious: ${emitted -- expected}")
  }

  test("event-time timeout evicts session state; a later event opens a NEW session") {
    // Two users: user 1's burst ends early; user 2's lone event 10 days
    // later advances the watermark far past user 1's end+gap. Run 1 must
    // therefore EMIT user 1's session via timeout — no sentinel, no
    // successor event — proving the state was evicted, not parked. A
    // second delivery then sends user 1 a fresh (non-late) event: it
    // must open a NEW 1-event session, not resume the evicted one.
    val root = tmp("graft_sess_evict")
    val src = s"$root/src"; val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    val t0 = 1000000000000000L // fixed epoch micros
    val day = 86400L * 1000000L
    def ev(id: Long, us: Long, user: Long) =
      (id, us, user, "view", 0.0, "")
    import spark.implicits._
    def chunk(rows: Seq[(Long, Long, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
    graft.util.Chunks.add(
      chunk(Seq(ev(1, t0, 1), ev(2, t0 + 600L * 1000000L, 1),
        ev(3, t0 + 10L * day, 2))), src, "c1.parquet")
    Streams.incrementalSessions(spark, src, sink, ckpt)
    val after1 = spark.read.parquet(sink)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(after1 == Set((1L, t0, t0 + 600L * 1000000L, 2L)),
      s"timeout must emit user 1's session (and only it): $after1")
    // User 1 returns 1 minute after user 2's event — ahead of the
    // watermark (10 days − 30 min), so NOT dropped as late; far beyond
    // the gap, so a new session either way. User 2's event then closes
    // user 1's new session in a third delivery via the sentinel rule.
    graft.util.Chunks.add(
      chunk(Seq(ev(4, t0 + 10L * day + 60L * 1000000L, 1))), src, "c2.parquet")
    Streams.incrementalSessions(spark, src, sink, ckpt)
    graft.util.Chunks.add(
      chunk(Seq(ev(5, t0 + 20L * day, 1), ev(6, t0 + 20L * day, 2))),
      src, "c3.parquet")
    Streams.incrementalSessions(spark, src, sink, ckpt)
    val sessionsU1 = spark.read.parquet(sink)
      .where(col("user_id") === 1L && col("session_start_us") < t0 + 15L * day)
      .select("session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sessionsU1 == Set((t0, 2L), (t0 + 10L * day + 60L * 1000000L, 1L)),
      s"late-arriving user must get a NEW session after eviction: $sessionsU1")
  }

  test("streaming dedup drops watermark-horizon re-deliveries (d1 twin)") {
    // Source with planted duplicate deliveries: every event_id < 50 is
    // delivered twice (identical payload — an at-least-once redelivery).
    val dupDir = tmp("graft_dedup_src")
    val base = Tables.events(spark, sf)
    base.select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .unionByName(base.where(col("event_id") < 50)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props")))
      .write.mode("overwrite").parquet(dupDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(dupDir)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val q = Streams.dedupStream(stream).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmp("graft_dedup_ckpt"))
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .start()
    q.awaitTermination()
    val out = spark.table("dedup_out")
    assert(out.groupBy("event_id").count().where(col("count") > 1).isEmpty,
      "duplicate event_ids survived the streaming dedup")
    assert(out.count() == base.count(),
      "dedup dropped non-duplicate rows")
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = Streams.clickViewJoin(Streams.eventStream(spark, srcDir))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmp("graft_ssj_ckpt"))
      .format("memory").queryName("ssj_out")
      .outputMode("append")
      .start()
    q.awaitTermination()
    val streamed = spark.table("ssj_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sf)
    val batch = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .join(ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
          col("ts").as("view_ts")),
        col("user_id") === col("view_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") < col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "user_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "vacuous: no click-view pairs within the hour")
    // watermarks can hold back only pairs near the final watermark; with
    // AvailableNow over a static dir the joined set must match the batch
    // join exactly for all emitted rows, and cover (nearly) all of it
    assert(streamed.subsetOf(batch),
      s"spurious streamed pairs: ${streamed -- batch}")
    assert(streamed.size >= batch.size * 9 / 10,
      s"stream join emitted ${streamed.size} of ${batch.size} pairs")
  }

  test("incremental daily rollup z-scores equal the batch e3 drift path") {
    // two chunks split mid-stream: the split day's count spans batches,
    // so the reader MUST merge per-(type, day) deltas to agree with the
    // batch path.
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val cut = raw.agg(max(col("event_id"))).head().getLong(0) / 2
    val src = tmp("graft_drift_src")
    val rollup = tmp("graft_drift_roll") + "/rollup"
    val ckpt = tmp("graft_drift_ckpt")
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_drift_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    addChunk(raw.where(col("event_id") <= cut), "chunk1.parquet")
    Streams.incrementalDailyCounts(spark, src, rollup, ckpt)
    addChunk(raw.where(col("event_id") > cut), "chunk2.parquet")
    Streams.incrementalDailyCounts(spark, src, rollup, ckpt)
    val streamed = Streams.readDriftScores(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.operators.TextAnalysisQueries.driftZscores(
      Tables.events(spark, sf)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt")))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, "incremental drift scores != batch e3 path")
    // e13 rides the SAME rollup: the global z-score monitor must also
    // merge split-day partials exactly.
    val e13s = Streams.readRateAnomaly(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val e13b = SparkEntry.queries("e13_rate_anomaly")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(e13s == e13b, "incremental rate anomaly != batch e13 path")
    // e21/e22/a21 are further consumers of the same rollup: the
    // forecast join, the weekday profile, and the co-movement moments
    // must all merge split-day partials exactly.
    for ((read, name) <- Seq(
        (Streams.readForecastBaseline _, "e21_forecast_baseline"),
        (Streams.readWeekdayProfile _, "e22_weekday_profile"),
        (Streams.readDailyCorrelation _, "a21_daily_correlation"))) {
      val s2 = read(spark, rollup).collect().map(_.toString).sorted.toSeq
      val b2 = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(s2 == b2, s"incremental twin != batch $name")
    }
  }

  test("incremental cohort partials equal the batch e5 retention triangle") {
    // the adversarial split for retention: a user's FIRST event lands
    // in chunk 1 and later activity in chunk 2 (and the cut is mid
    // event-id, so some users' first sighting is chunk 2) — the reader
    // must re-minimize first-seen across batches or cohort weeks drift.
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val cut = raw.agg(max(col("event_id"))).head().getLong(0) / 2
    val src = tmp("graft_coh_src")
    val rollup = tmp("graft_coh_roll") + "/rollup"
    val ckpt = tmp("graft_coh_ckpt")
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_coh_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    addChunk(raw.where(col("event_id") <= cut), "chunk1.parquet")
    Streams.incrementalCohortPartials(spark, src, rollup, ckpt)
    addChunk(raw.where(col("event_id") > cut), "chunk2.parquet")
    Streams.incrementalCohortPartials(spark, src, rollup, ckpt)
    val streamed = Streams.readCohortRetention(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("e5_cohort_retention")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, "incremental cohort retention != batch e5")
    // e7 rides the SAME rollup: the partials' distinct (user, week)
    // pairs are growth accounting's whole input, so the one incremental
    // artifact must serve both read paths. Same adversarial split:
    // users whose first sighting is chunk 2 must still classify NEW in
    // their true first week, not re-classify per batch.
    val growthStreamed = Streams.readGrowthAccounting(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val growthBatch = SparkEntry.queries("e7_growth_accounting")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(growthStreamed == growthBatch,
      "incremental growth accounting != batch e7")
  }

  test("incremental (user, day) counts serve both e6 and e8 read paths") {
    // mid-event-id cut: the same (user, day) spans both chunks, so the
    // reader must MERGE count partials (e8) and DEDUP the pair (e6) —
    // an off-by-one in either direction diverges from batch.
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val cut = raw.agg(max(col("event_id"))).head().getLong(0) / 2
    val src = tmp("graft_uday_src")
    val rollup = tmp("graft_uday_roll") + "/rollup"
    val ckpt = tmp("graft_uday_ckpt")
    def addChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_uday_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$src/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    addChunk(raw.where(col("event_id") <= cut), "chunk1.parquet")
    Streams.incrementalUserDayCounts(spark, src, rollup, ckpt)
    addChunk(raw.where(col("event_id") > cut), "chunk2.parquet")
    Streams.incrementalUserDayCounts(spark, src, rollup, ckpt)
    val e6s = Streams.readActiveUsers(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val e6b = SparkEntry.queries("e6_active_users")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(e6s == e6b, "incremental active users != batch e6")
    val e8s = Streams.readDecayedActivity(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val e8b = SparkEntry.queries("e8_decayed_activity")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(e8s == e8b, "incremental decayed activity != batch e8")
    // e15 is a third consumer of the same rollup: the engagement
    // histogram depends only on the distinct (user, day) set.
    val e15s = Streams.readPowerUserCurve(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val e15b = SparkEntry.queries("e15_power_user_curve")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(e15s == e15b, "incremental power-user curve != batch e15")
    // e18 is a fourth consumer: streak islands depend only on the
    // distinct (user, day) set, so the incremental rollup must
    // reproduce the batch histogram exactly — even with a day split
    // across the two micro-batches.
    val e18s = Streams.readUserStreaks(spark, rollup)
      .collect().map(_.toString).sorted.toSeq
    val e18b = SparkEntry.queries("e18_user_streaks")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(e18s == e18b, "incremental user streaks != batch e18")
  }

  test("index compaction: incremental batches collapse to the direct serving index") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_cmp_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_cmp_src")
    val index = tmp("graft_cmp_root") + "/idx"
    val pairsDir = tmp("graft_cmp_root2") + "/pairs"
    val ckpt = tmp("graft_cmp_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // batch 1: base corpus; batch 2: docs 0-4 re-arrive REVISED — the
    // compactor must keep only the latest revision per doc (LWW).
    val revised = docs.where(col("doc_id") < 5)
      .select(col("doc_id"), concat(col("text"), lit(" updated rev2")).as("text"))
    addChunk(src, docs, "chunk1.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    addChunk(src, revised, "chunk2.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    val out = tmp("graft_cmp_out") + "/serving"
    Dedup.compactMinhashIndex(spark, index, out)
    // reference: the serving index built DIRECTLY from the final corpus
    val finalCorpus = docs.where(col("doc_id") >= 5).unionByName(revised)
    val direct = Dedup.buildMinhashIndex(finalCorpus)
    val out2 = tmp("graft_cmp_out2") + "/serving"
    Dedup.writeMinhashIndex(direct, out2)
    direct.unpersist()
    def sigSet(path: String) = spark.read.parquet(s"$path/sigs")
      .select(col("doc_id"), col("sh")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).mkString("|"))).toSet
    def bandSet(path: String) = spark.read.parquet(s"$path/banded")
      .select(col("doc_id"), col("band"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(sigSet(out) == sigSet(out2),
      "compacted signature table differs from the direct build")
    assert(bandSet(out) == bandSet(out2),
      "compacted banded table differs from the direct build")
  }

  test("incremental LSH index maintenance converges to the batch pair set (d2 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_lsh_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_lsh_src")
    val index = tmp("graft_lsh_root") + "/idx"
    val pairsDir = tmp("graft_lsh_root2") + "/pairs"
    val ckpt = tmp("graft_lsh_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // chunk 1: the base corpus; chunk 2: near-probes of docs 10-19 arrive
    // later — the cross-batch duplicates only an incremental index can
    // find without rescanning the corpus.
    addChunk(src, docs, "chunk1.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    val probes = docs.where(col("doc_id") >= 10 && col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz0 zz1 zz2")).as("text"))
    addChunk(src, probes, "chunk2.parquet")
    Streams.incrementalMinhashIndex(spark, src, index, pairsDir, ckpt)
    val incremental = spark.read.parquet(pairsDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIndex = Dedup.buildMinhashIndex(Dedup.withNearProbes(docs))
    val batch = Dedup.minhashPairs(batchIndex, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    batchIndex.unpersist()
    val planted = (10L until 20L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(incremental),
      s"missing planted cross-batch pairs: ${planted -- incremental}")
    // every pair the batch algorithm finds, exactly once, no spurious
    assert(incremental == batch,
      s"incremental != batch: extra=${incremental -- batch} missing=${batch -- incremental}")
    assert(spark.read.parquet(pairsDir).count() == incremental.size,
      "pairs emitted more than once across batches")
  }

  test("incremental SimHash index converges to the batch pair set and serving store (d3/m5 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_sim_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_sim_src")
    val index = tmp("graft_sim_root") + "/idx"
    val pairsDir = tmp("graft_sim_root2") + "/pairs"
    val ckpt = tmp("graft_sim_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // chunk 1: the base corpus; chunk 2: exact clones of docs 0-9 arrive
    // later (hamming 0 — the planted cross-batch fingerprint matches only
    // an incremental index can find without rescanning the corpus).
    addChunk(src, docs, "chunk1.parquet")
    Streams.incrementalSimhashIndex(spark, src, index, pairsDir, ckpt)
    val probes = docs.where(col("doc_id") < 10)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    addChunk(src, probes, "chunk2.parquet")
    Streams.incrementalSimhashIndex(spark, src, index, pairsDir, ckpt)
    val incremental = spark.read.parquet(pairsDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the batch pair join over the SAME final corpus
    val batchIndex = Dedup.buildSimhashIndex(Dedup.withExactProbes(docs))
    val batch = Dedup.simhashPairs(batchIndex)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    batchIndex.unpersist()
    val planted = (0L until 10L).map(i => (i, i + 1000000L)).toSet
    assert(planted.subsetOf(incremental),
      s"missing planted cross-batch pairs: ${planted -- incremental}")
    assert(incremental == batch,
      "incremental SimHash pair set diverges from the batch algorithm")

    // compaction: the streamed store collapses to the serving layout the
    // direct batch build writes — byte-equivalent fingerprints and bands
    val out = tmp("graft_sim_cmp") + "/serving"
    Dedup.compactSimhashIndex(spark, index, out)
    val direct = Dedup.buildSimhashIndex(Dedup.withExactProbes(docs))
    val out2 = tmp("graft_sim_cmp2") + "/serving"
    Dedup.writeSimhashIndex(direct, out2)
    direct.unpersist()
    def simSet(path: String) = spark.read.parquet(s"$path/sims")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bandSet(path: String) = spark.read.parquet(s"$path/banded")
      .select(col("doc_id"), col("band"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(simSet(out) == simSet(out2),
      "compacted fingerprint table differs from the direct build")
    assert(bandSet(out) == bandSet(out2),
      "compacted banded table differs from the direct build")

    // tombstoned ids stay out of the compacted serving store even though
    // the incremental dirs still carry them (lifecycle parity with the
    // MinHash/FTS/IVF compactors)
    import spark.implicits._
    val tomb = tmp("graft_sim_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tomb,
      Seq(3L, 1000003L).toDF("purge_id"))
    val out3 = tmp("graft_sim_cmp3") + "/serving"
    Dedup.compactSimhashIndex(spark, index, out3, tombstonePath = Some(tomb))
    assert(spark.read.parquet(s"$out3/sims")
      .where(col("doc_id").isin(3L, 1000003L)).count() == 0,
      "tombstoned fingerprints survived SimHash compaction")
  }

  test("incremental vector LSH index converges to the batch pair set (d5 twin)") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_vec_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_vec_src")
    val index = tmp("graft_vec_root") + "/idx"
    val pairsDir = tmp("graft_vec_root2") + "/pairs"
    val ckpt = tmp("graft_vec_ckpt")
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // chunk 1: the base corpus; chunk 2: the nudged near-probes of
    // vec_ids 0-9 arrive later — cross-batch near-duplicates only an
    // incremental index finds without rescanning the corpus.
    addChunk(src, vecs, "chunk1.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    val vBase = Similarity.probeBase(vecs)
    addChunk(src, Similarity.withVecProbes(vecs)
      .where(col("vec_id") >= lit(vBase)), "chunk2.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    val incremental = spark.read.parquet(pairsDir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIndex = Similarity.buildCosineIndex(Similarity.withVecProbes(vecs))
    val batch = Similarity.cosineDedupPairs(batchIndex, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    batchIndex.unpersist()
    val planted = (0L until 10L).map(i => (i, i + vBase)).toSet
    assert(planted.subsetOf(incremental),
      s"missing planted cross-batch pairs: ${planted -- incremental}")
    assert(incremental == batch,
      s"incremental != batch: extra=${incremental -- batch} missing=${batch -- incremental}")
    assert(spark.read.parquet(pairsDir).count() == incremental.size,
      "pairs emitted more than once across batches")
  }

  test("streaming IVF assignment: frozen-model appends serve like the batch assignment") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_ivfs_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val base = vecs.where(col("vec_id") < 400)
    val root = tmp("graft_ivfs_root")
    val idxPath = s"$root/ivf"; val src = tmp("graft_ivfs_src")
    val appends = s"$root/appends"; val ckpt = tmp("graft_ivfs_ckpt")
    // nightly build on the base corpus, model frozen on disk
    val built = Similarity.buildIvfIndex(base, nCells = 16)
    Similarity.writeIvfIndex(built, idxPath)
    built.unpersist()
    // two later micro-batches of new vectors stream through the assigner
    addChunk(src, vecs.where(col("vec_id") >= 400 && col("vec_id") < 450), "c1.parquet")
    Streams.incrementalIvfAssign(spark, src, idxPath, appends, ckpt)
    addChunk(src, vecs.where(col("vec_id") >= 450), "c2.parquet")
    Streams.incrementalIvfAssign(spark, src, idxPath, appends, ckpt)
    // 1. streamed assignments equal the batch frozen-model assignment
    val cents = Similarity.readIvfCentroids(spark, idxPath)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val streamed = cellSet(spark.read.parquet(appends))
    val direct = cellSet(Similarity.assignCells(cents, vecs.where(col("vec_id") >= 400)))
    assert(streamed == direct, "streamed cell assignment != batch frozen-model assignment")
    // 2. the combined store (base ∪ appends) serves identically to a
    // frozen-model assignment of the FULL corpus
    val stored = Similarity.readIvfIndex(spark, idxPath)
    val combined = Similarity.IvfIndex(cents,
      stored.assigned.select("vec_id", "embedding", "cell")
        .unionByName(spark.read.parquet(appends).select("vec_id", "embedding", "cell")))
    val full = Similarity.IvfIndex(cents, Similarity.assignCells(cents, vecs))
    def top(ix: Similarity.IvfIndex) =
      Similarity.ivfTopK(ix, queryVecId = 0L, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(combined) == top(full),
      "combined base+append store answers differently from the full assignment")

    // 3. compaction closes the lifecycle: a REVISED re-delivery of vec 450
    // in a third batch must shadow the batch-2 revision; base rows keep;
    // the compacted index answers exactly like a fresh frozen-model
    // assignment of the final corpus
    val revised = vecs.where(col("vec_id") === 450)
      .select(col("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)).as("embedding"))
    addChunk(src, revised, "c3.parquet")
    Streams.incrementalIvfAssign(spark, src, idxPath, appends, ckpt)
    val compacted = s"$root/compacted"
    Similarity.compactIvfAppendStore(spark, idxPath, appends, compacted)
    val finalCorpus = vecs.where(col("vec_id") =!= 450).unionByName(revised)
    val cIx = Similarity.readIvfIndex(spark, compacted)
    val fIx = Similarity.IvfIndex(cents, Similarity.assignCells(cents, finalCorpus))
    assert(cIx.assigned.count() == finalCorpus.count(),
      "compacted store row count != final corpus")
    assert(top(cIx) == top(fIx),
      "compacted index answers differently from the final-corpus assignment")
  }

  test("streaming maxsim token store: in-stream token derivation + frozen-model appends compact to the batch store") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      new java.io.File(dir).mkdirs()
      val stage = tmp("graft_mxs_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val root = tmp("graft_mxs_root")
    val base = s"$root/base"; val appends = s"$root/appends"
    val src = tmp("graft_mxs_src"); val ckpt = tmp("graft_mxs_ckpt")
    // nightly token model on the full corpus; base store holds only the
    // first 400 documents' token assignments
    val toks = Similarity.maxsimTokens(emb)
      .select(col("token_id").as("vec_id"), col("tv").as("embedding"))
    val built = Similarity.buildIvfIndex(toks, nCells = 16)
    Similarity.writeIvfIndex(Similarity.IvfIndex(built.centroids,
      built.assigned.where(expr("vec_id div 4") < 400)), base)
    built.unpersist()
    // two later micro-batches of DOCUMENTS (not tokens — the stream
    // derives the token set itself; doc 420 re-delivered in batch 2)
    addChunk(src, emb.where(col("vec_id") >= 400 && col("vec_id") < 450), "c1.parquet")
    Streams.incrementalMaxsimTokenStore(spark, src, base, appends, ckpt)
    addChunk(src, emb.where(col("vec_id") >= 450 || col("vec_id") === 420), "c2.parquet")
    Streams.incrementalMaxsimTokenStore(spark, src, base, appends, ckpt)
    // 1. the streamed rows ARE the frozen-model assignment of the
    // derived tokens (shared maxsimTokens + assignCells — pin it)
    val cents = Similarity.readIvfCentroids(spark, base)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val streamed = cellSet(spark.read.parquet(appends))
    val direct = cellSet(Similarity.assignCells(cents,
      Similarity.maxsimTokens(emb.where(col("vec_id") >= 400))
        .select(col("token_id").as("vec_id"), col("tv").as("embedding"))))
    assert(streamed == direct,
      "streamed token assignment != batch frozen-model assignment of the derived tokens")
    // 2. compaction (LWW over the re-delivered doc's token ids) serves
    // the n41b probe path row-identically to the one-shot batch store
    val compacted = s"$root/compacted"
    Similarity.compactIvfAppendStore(spark, base, appends, compacted)
    assert(spark.read.parquet(s"$compacted/assigned").count() == toks.count(),
      "compacted token store row count != full token corpus")
    val full = s"$root/full"
    val builtFull = Similarity.buildIvfIndex(toks, nCells = 16)
    Similarity.writeIvfIndex(builtFull, full)
    builtFull.unpersist()
    val qids = Seq(0L, 1L, 2L, 3L)
    def served(path: String) =
      Similarity.maxsimRerankServed(spark, path, Tables.embeddings(spark, sf), qids, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served(compacted) == served(full),
      "incremental token store answers differently from the batch store")
  }

  test("streaming PQ encode: frozen-codebook appends serve like the batch encode; compaction is LWW + tombstone-aware") {
    import graft.operators.{Governance, Similarity}
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_pqs_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val base = vecs.where(col("vec_id") < 400)
    val root = tmp("graft_pqs_root")
    val idxPath = s"$root/pq"; val src = tmp("graft_pqs_src")
    val appends = s"$root/appends"; val ckpt = tmp("graft_pqs_ckpt")
    // nightly build on the base corpus, model frozen on disk
    val built = Similarity.buildPqIndex(base)
    Similarity.writePqIndex(built, idxPath)
    built.unpersist()
    // two later micro-batches of new vectors stream through the encoder
    addChunk(src, vecs.where(col("vec_id") >= 400 && col("vec_id") < 450), "c1.parquet")
    Streams.incrementalPqEncode(spark, src, idxPath, appends, ckpt)
    addChunk(src, vecs.where(col("vec_id") >= 450), "c2.parquet")
    Streams.incrementalPqEncode(spark, src, idxPath, appends, ckpt)
    // 1. streamed codes equal the batch frozen-codebook encode — the two
    // paths share pqEncode, so any drift here is a broken contract
    val books = Similarity.readPqCodebooks(spark, idxPath)
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("codes")).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    val streamed = codeSet(spark.read.parquet(appends))
    val direct = codeSet(Similarity.pqEncode(books, vecs.where(col("vec_id") >= 400)))
    assert(streamed == direct, "streamed PQ codes != batch frozen-codebook encode")
    // 2. the combined store (base ∪ appends) serves ADC top-k identically
    // to a frozen-codebook encode of the FULL corpus
    val stored = Similarity.readPqIndex(spark, idxPath)
    def top(ix: Similarity.PqIndex) =
      Similarity.pqTopK(ix, queryVecId = 0L, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val combined = Similarity.PqIndex(books,
      stored.coded.select("vec_id", "embedding", "codes")
        .unionByName(spark.read.parquet(appends)
          .select("vec_id", "embedding", "codes")))
    val full = Similarity.PqIndex(books, Similarity.pqEncode(books, vecs))
    assert(top(combined) == top(full),
      "combined base+append store answers differently from the full encode")
    // 3. compaction closes the lifecycle: a REVISED re-delivery of vec 450
    // must shadow the batch-2 codes (LWW by batch_id), and the compacted
    // store must answer like a fresh frozen-codebook encode of the final
    // corpus
    val revised = vecs.where(col("vec_id") === 450)
      .select(col("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)).as("embedding"))
    addChunk(src, revised, "c3.parquet")
    Streams.incrementalPqEncode(spark, src, idxPath, appends, ckpt)
    val compacted = s"$root/compacted"
    Similarity.compactPqAppendStore(spark, idxPath, appends, compacted)
    val finalCorpus = vecs.where(col("vec_id") =!= 450).unionByName(revised)
    val cIx = Similarity.readPqIndex(spark, compacted)
    assert(cIx.coded.count() == finalCorpus.count(),
      "compacted store row count != final corpus")
    assert(codeSet(cIx.coded) == codeSet(Similarity.pqEncode(books, finalCorpus)),
      "compacted codes != frozen-codebook encode of the final corpus")
    assert(top(cIx) == top(Similarity.PqIndex(books,
        Similarity.pqEncode(books, finalCorpus))),
      "compacted index answers differently from the final-corpus encode")
    // 4. a takedown recorded between appends holds through compaction:
    // the tombstoned id vanishes (base-resident AND re-delivered ids
    // alike) while every other row survives
    Governance.recordTombstones(spark, s"$root/tomb",
      spark.range(1).select(lit(450L).as("purge_id"))
        .unionByName(spark.range(1).select(lit(7L).as("purge_id"))))
    val purged = s"$root/compacted_purged"
    Similarity.compactPqAppendStore(spark, idxPath, appends, purged,
      tombstonePath = Some(s"$root/tomb"))
    val pIx = Similarity.readPqIndex(spark, purged)
    assert(pIx.coded.where(col("vec_id").isin(450L, 7L)).count() == 0,
      "tombstoned ids survived PQ compaction")
    assert(pIx.coded.count() == finalCorpus.count() - 2,
      "non-tombstoned rows lost in purged PQ compaction")
    pIx.unpersist(); cIx.unpersist(); stored.unpersist()
  }

  test("vector index compaction: re-delivered vec_ids resolve LWW to the latest revision") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_vcp_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_vcp_src")
    val index = tmp("graft_vcp_root") + "/idx"
    val pairsDir = tmp("graft_vcp_root2") + "/pairs"
    val ckpt = tmp("graft_vcp_ckpt")
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // batch 1: base corpus; batch 2: vec_ids 0-4 re-arrive REVISED (first
    // component nudged) — the compactor must keep only the latest vector.
    val revised = vecs.where(col("vec_id") < 5)
      .select(col("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x)).as("embedding"))
    addChunk(src, vecs, "chunk1.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    addChunk(src, revised, "chunk2.parquet")
    Streams.incrementalVectorIndex(spark, src, index, pairsDir, ckpt)
    val out = tmp("graft_vcp_out") + "/serving"
    Similarity.compactVectorIndex(spark, index, out)
    // reference: the quantized frame built DIRECTLY from the final corpus
    val finalCorpus = vecs.where(col("vec_id") >= 5).unionByName(revised)
    val direct = Similarity.buildCosineIndex(finalCorpus)
    def vSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).mkString("|"))).toSet
    val compacted = vSet(spark.read.parquet(out))
    val expected = vSet(direct.q)
    direct.unpersist()
    assert(compacted == expected,
      "compacted vector index differs from the direct quantized frame")
  }

  test("incremental FTS term index equals the batch rebuild, with LWW shadowing (s6 twin)") {
    import graft.operators.Fts
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_fts_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_ftsincr_src")
    val idx = tmp("graft_ftsincr_root") + "/idx"
    val ckpt = tmp("graft_ftsincr_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    // batch 0: ids [0,50), with [40,50) carrying a stale revision that a
    // later re-delivery must shadow (the FTS5 UPDATE trigger pair)
    addChunk(src, docs.where(col("doc_id") < 50)
      .withColumn("text", when(col("doc_id") >= 40,
        concat(col("text"), lit(" qqstale"))).otherwise(col("text"))),
      "c1.parquet")
    Streams.incrementalFtsIndex(spark, src, idx, ckpt)
    // batch 1: re-deliver [40,50) current + add [50,100)
    addChunk(src, docs.where(col("doc_id") >= 40), "c2.parquet")
    Streams.incrementalFtsIndex(spark, src, idx, ckpt)
    val got = Fts.readIncrementalIndex(spark, idx)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = Fts.termIndex(docs, "doc_id", Seq("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(!got.exists(_._2 == "qqstale"),
      "stale-revision terms leaked past the last-writer-wins read")
    assert(got == want,
      s"incremental != rebuild: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    // a run with nothing new must leave the resolved state unchanged
    Streams.incrementalFtsIndex(spark, src, idx, ckpt)
    assert(Fts.readIncrementalIndex(spark, idx).count() == want.size.toLong)

    // compaction closes the lifecycle: the incremental store lands in
    // the persistent serving layout, row-identical to a direct batch
    // write, probe-identical through the prefix-pruned read path
    val serving = tmp("graft_ftsincr_out") + "/terms"
    Fts.compactFtsIndex(spark, idx, serving)
    val compacted = Fts.readTermIndex(spark, serving)
    assert(compacted.columns.contains("term_pfx"), "compacted store lost the layout key")
    assert(compacted.select("id", "term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == want,
      "compacted serving store differs from the batch term index")
    val probed = Fts.matchingIdsPersistent(compacted, Seq("spar", "wind"))
      .collect().map(_.getLong(0)).toSet
    val direct = Fts.matchingIds(
      Fts.termIndex(docs, "doc_id", Seq("text")), Seq("spar", "wind"))
      .collect().map(_.getLong(0)).toSet
    assert(probed == direct, "compacted-store probe differs from in-memory probe")
  }

  test("streaming warehouse append: corrected, partitioned, idempotent, prunable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val target = tmp("graft_wh_stream") + "/entries"
    val all = graft.entries.Fixture.entries
    // Two REAL micro-batches: AvailableNow + a shared checkpoint makes
    // the second call resume at batch 1 (both addData calls before one
    // start would coalesce into a single batch 0).
    val ckpt = tmp("graft_wh_ckpt")
    val stream = MemoryStream[graft.entries.Entry]
    stream.addData(all.take(10))
    Streams.warehouseAppendStream(stream.toDF(), target, ckpt)
    stream.addData(all.drop(10))
    Streams.warehouseAppendStream(stream.toDF(), target, ckpt)
    val got = spark.read.parquet(target)
    // every fixture row lands exactly once, with the overlay applied
    assert(got.count() == all.size.toLong)
    val batchExpect = graft.entries.Normalize.withCorrectedDates(
      graft.entries.Fixture.df(spark))
    val gotCorr = got.select("id", "corrected_request").as[(Long, Option[String])]
      .collect().toMap
    val wantCorr = batchExpect.select("id", "corrected_request")
      .as[(Long, Option[String])].collect().toMap
    assert(gotCorr == wantCorr)
    // a year-filtered read prunes on the partition column
    val q = got.where(col("request_year") === 2025)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*request_year.*"),
      s"no request_year partition pruning:\n$plan")
    // RETRY idempotency: re-feed batch 0's exact data with a fresh
    // checkpoint (same batchId 0). Dynamic partition overwrite must
    // replace only the (batch 0, year) partitions with identical
    // content — static overwrite would wipe batch 1, append would
    // duplicate batch 0.
    val replay = MemoryStream[graft.entries.Entry]
    replay.addData(all.take(10))
    Streams.warehouseAppendStream(replay.toDF(), target, tmp("graft_wh_ckpt2"))
    val after = spark.read.parquet(target)
    assert(after.count() == all.size.toLong)
    assert(after.select("id").distinct().count() == all.size.toLong)
  }

  test("warehouse compaction: cross-batch LWW, fewer files, pruning kept") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staged = tmp("graft_whc_staged") + "/entries"
    val compacted = tmp("graft_whc_out") + "/entries"
    val ckpt = tmp("graft_whc_ckpt")
    val all = graft.entries.Fixture.entries
    // batch 0: the full corpus; batch 1: a NEWER revision of the first
    // entry (mutated agency) — the re-delivery compaction must keep.
    val stream = MemoryStream[graft.entries.Entry]
    stream.addData(all)
    Streams.warehouseAppendStream(stream.toDF(), staged, ckpt)
    val revised = all.head.copy(agency = "Revised Agency Name")
    stream.addData(Seq(revised))
    Streams.warehouseAppendStream(stream.toDF(), staged, ckpt)
    assert(spark.read.parquet(staged).count() == all.size + 1L) // staged keeps both
    graft.entries.Warehouse.compactAppendStore(spark, staged, compacted)
    val got = spark.read.parquet(compacted)
    // one row per id, and the LATER batch's revision won
    assert(got.count() == all.size.toLong)
    assert(got.where(col("id") === all.head.id).select("agency")
      .head().getString(0) == "Revised Agency Name")
    // batch_id is gone from the serving layout; request_year remains
    assert(!got.columns.contains("batch_id"))
    // the compacted store has at most one data file per year partition
    val years = new java.io.File(compacted).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("request_year="))
    assert(years.nonEmpty)
    years.foreach { dir =>
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length <= 1, s"${dir.getName} not compacted: ${files.length} files")
    }
    // the serving read still prunes on request_year
    val q = got.where(col("request_year") === 2025)
    q.collect()
    assert(q.queryExecution.executedPlan.toString
      .matches("(?s).*PartitionFilters: \\[[^\\]]*request_year.*"),
      "compacted store lost partition pruning")
    // time travel: the batch-0 snapshot predates the revision; the
    // batch-1 snapshot equals the compacted (current) state — and the
    // batch bound prunes on the batch_id partition column.
    val snap0 = graft.entries.Warehouse.snapshotAt(spark, staged, 0L)
    assert(snap0.count() == all.size.toLong)
    assert(snap0.where(col("id") === all.head.id).select("agency")
      .head().getString(0) == all.head.agency)
    val snap1 = graft.entries.Warehouse.snapshotAt(spark, staged, 1L)
    assert(snap1.where(col("id") === all.head.id).select("agency")
      .head().getString(0) == "Revised Agency Name")
    val sp = snap0.queryExecution.executedPlan.toString
    assert(sp.matches("(?s).*PartitionFilters: \\[[^\\]]*batch_id.*"),
      s"snapshot bound not pruning on batch_id:\n$sp")
  }

  test("incremental upsert: last write wins and re-runs are stable") {
    val target = tmp("graft_upsert_target") + "/t"
    val n1 = Streams.incrementalUpsert(spark, srcDir, target, tmp("graft_upsert_ckpt1"))
    val expected = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(n1 == expected)
    // re-run with a fresh checkpoint: same source -> same target state
    val n2 = Streams.incrementalUpsert(spark, srcDir, target, tmp("graft_upsert_ckpt2"))
    assert(n2 == expected)
    val dupKeys = spark.read.parquet(target)
      .groupBy("event_id").count().where(col("count") > 1).count()
    assert(dupKeys == 0)
  }

  test("streaming batched inference equals the batch scorer (i1 twin)") {
    import graft.operators.Inference
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_inf_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_inf_src")
    val out = tmp("graft_inf_root") + "/scores"
    val ckpt = tmp("graft_inf_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // two micro-batches cover the corpus; scores must equal ONE batch
    // pass — scoring is per-row deterministic, so the batch split and
    // the micro-batch boundary can never show through
    addChunk(src, docs.where(col("doc_id") % 2 === 0), "c1.parquet")
    Streams.incrementalScore(spark, src, out, ckpt)
    addChunk(src, docs.where(col("doc_id") % 2 === 1), "c2.parquet")
    Streams.incrementalScore(spark, src, out, ckpt)
    def scoreSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("score_q")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = scoreSet(spark.read.parquet(out))
    val direct = scoreSet(Inference.batchedInference(docs, batchSize = 32)(
      Inference.surrogateScoreBatch))
    assert(streamed == direct, "streamed scores != batch scores")
    assert(streamed.size == docs.count(), "row accounting drifted across batches")
  }

  test("incremental cached inference reuses prior batches' content (i2 twin)") {
    import graft.operators.Inference
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_ci_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_ci_src")
    val out = tmp("graft_ci_root") + "/scores"
    val cacheDir = tmp("graft_ci_root2") + "/cache"
    val ckpt = tmp("graft_ci_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // chunk 2 re-delivers 20 of chunk 1's documents under NEW doc_ids —
    // the re-crawl case the cache exists for
    val chunk1 = docs.where(col("doc_id") % 2 === 0)
    val redelivered = chunk1.where(col("doc_id") < 40)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val chunk2 = docs.where(col("doc_id") % 2 === 1).unionByName(redelivered)
    addChunk(src, chunk1, "c1.parquet")
    Streams.incrementalCachedScore(spark, src, out, cacheDir, ckpt)
    addChunk(src, chunk2, "c2.parquet")
    Streams.incrementalCachedScore(spark, src, out, cacheDir, ckpt)
    val streamed = spark.read.parquet(out)
    // scores agree with one direct uncached pass over everything
    val direct = Inference.batchedInference(
      docs.unionByName(redelivered), batchSize = 32)(
      Inference.surrogateScoreBatch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = streamed.select(col("doc_id"), col("score_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == direct, "streamed cached scores != direct scores")
    // every re-delivered doc was a cache HIT; chunk 1 (empty cache) had none
    val hits = streamed.where(col("from_cache") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == redelivered.select("doc_id").collect()
      .map(_.getLong(0)).toSet,
      "cache hits != the re-delivered content set")
  }

  test("incremental gram index compacts to the direct serving index (d21 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_gram_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_gram_src")
    val inc = tmp("graft_gram_root") + "/inc"
    val ckpt = tmp("graft_gram_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // ownership merge is min-of-mins: split the corpus so some grams
    // occur in BOTH halves (doc split by parity keeps natural repeats
    // crossing the boundary) — compaction must still crown the global
    // min owner for every gram
    addChunk(src, docs.where(col("doc_id") % 2 === 0), "c1.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10)
    addChunk(src, docs.where(col("doc_id") % 2 === 1), "c2.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10)
    val serving = tmp("graft_gram_out") + "/serving"
    Dedup.compactGramIndex(spark, inc, serving, minLen = 10)
    val direct = tmp("graft_gram_out2") + "/direct"
    Dedup.writeGramIndex(docs, minLen = 10, direct)
    def gramSet(path: String) = spark.read.parquet(s"$path/grams")
      .select(col("gh"), col("min_doc"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gramSet(serving) == gramSet(direct),
      "compacted gram index differs from the direct build")
    // and the compacted store SERVES identically: the d21 probe path
    // returns the same spans from either index
    def spans(path: String) =
      Dedup.dupSpansAgainstIndex(Dedup.readGramIndex(spark, path),
        Dedup.spanBatchOf(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans(serving) == spans(direct),
      "compacted store serves different spans than the direct build")
  }

  test("streamed owners sidecar makes the compacted gram store purge-exact") {
    import graft.operators.{Dedup, Governance}
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_gramo_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_gramo_src")
    val inc = tmp("graft_gramo_root") + "/inc"
    val own = tmp("graft_gramo_root") + "/own"
    val ckpt = tmp("graft_gramo_ckpt")
    // plant a surviving clone of doc 3 so the purge must RE-OWN shared
    // grams, not just drop them (the GovernanceSpec fixture, streamed)
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val docs = base.unionByName(base.where(col("doc_id") === 3)
      .select(lit(500000L).as("doc_id"), col("text")))
    addChunk(src, docs.where(col("doc_id") % 2 === 0), "c1.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10,
      ownersDir = Some(own))
    addChunk(src, docs.where(col("doc_id") % 2 === 1), "c2.parquet")
    Streams.incrementalGramIndex(spark, src, inc, ckpt, minLen = 10,
      ownersDir = Some(own))
    val serving = tmp("graft_gramo_out") + "/serving"
    Dedup.compactGramIndex(spark, inc, serving, minLen = 10,
      ownersIncrementalDir = Some(own))
    // compacted == a batch withOwners build, table for table
    val direct = tmp("graft_gramo_out2") + "/direct"
    Dedup.writeGramIndex(docs, minLen = 10, direct, withOwners = true)
    def tableSet(path: String, table: String, cols: Seq[String]) =
      spark.read.parquet(s"$path/$table").selectExpr(cols: _*)
        .collect().map(_.toSeq).toSet
    assert(tableSet(serving, "grams", Seq("gh", "min_doc", "bucket")) ==
      tableSet(direct, "grams", Seq("gh", "min_doc", "bucket")))
    assert(tableSet(serving, "owners", Seq("gh", "doc_id", "bucket")) ==
      tableSet(direct, "owners", Seq("gh", "doc_id", "bucket")))
    // purge through the COMPACTED store == a from-scratch rebuild over
    // the purged corpus — the exactness streamed stores used to lack
    val ids = docs.where(col("doc_id") === 3).select(col("doc_id").as("purge_id"))
    val purged = tmp("graft_gramo_out3") + "/purged"
    Governance.purgeStoredGramIndex(spark, serving, purged, ids)
    val rebuilt = tmp("graft_gramo_out4") + "/rebuilt"
    Dedup.writeGramIndex(docs.where(col("doc_id") =!= 3), minLen = 10, rebuilt)
    assert(tableSet(purged, "grams", Seq("gh", "min_doc", "bucket")) ==
      tableSet(rebuilt, "grams", Seq("gh", "min_doc", "bucket")))
    spark.catalog.clearCache()
  }

  test("owners compaction fails fast when the owners dir is missing a rollup batch") {
    import graft.operators.Dedup
    // Simulate a stream that ran batch 0 WITHOUT ownersDir (the sidecar
    // was enabled later): the rollup dir has batch_ids 0 and 1, the
    // owners dir only 1. Compacting from owners alone would silently
    // drop batch 0's postings — the guard must refuse instead.
    val root = tmp("graft_gramgap_root")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(20)
    val grams = graft.operators.Dedup.gramFrame(docs, 10)
    grams.groupBy("gh").agg(min(col("doc_id")).as("min_doc"))
      .write.parquet(s"$root/inc/batch_id=0")
    grams.groupBy("gh").agg(min(col("doc_id")).as("min_doc"))
      .write.parquet(s"$root/inc/batch_id=1")
    grams.select(col("gh"), col("doc_id")).distinct()
      .write.parquet(s"$root/own/batch_id=1")
    val ex = intercept[IllegalArgumentException] {
      Dedup.compactGramIndex(spark, s"$root/inc", s"$root/serving",
        minLen = 10, ownersIncrementalDir = Some(s"$root/own"))
    }
    assert(ex.getMessage.contains("missing batches 0"), ex.getMessage)
    spark.catalog.clearCache()
  }

  test("incremental linkage index compacts to the direct store and purges tombstones (d25 twin)") {
    import graft.operators.Dedup
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_link_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val src = tmp("graft_link_src")
    val inc = tmp("graft_link_root") + "/inc"
    val ckpt = tmp("graft_link_ckpt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    addChunk(src, docs.where(col("doc_id") % 2 === 0), "c1.parquet")
    Streams.incrementalLinkageIndex(spark, src, inc, ckpt)
    addChunk(src, docs.where(col("doc_id") % 2 === 1), "c2.parquet")
    Streams.incrementalLinkageIndex(spark, src, inc, ckpt)
    val serving = tmp("graft_link_out") + "/serving"
    Dedup.compactLinkageIndex(spark, inc, serving)
    val direct = tmp("graft_link_out2") + "/direct"
    Dedup.writeLinkageIndex(docs, direct)
    def keySet(path: String) = spark.read.parquet(s"$path/keys")
      .select(col("doc_id"), col("bk"), col("sig"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(keySet(serving) == keySet(direct),
      "compacted linkage index differs from the direct build")
    // the compacted store SERVES identically through the pruned probe
    def links(path: String) =
      Dedup.linkAgainstIndex(Dedup.readLinkageIndex(spark, path),
        Dedup.linkBatchOf(docs), maxDist = 20).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(links(serving) == links(direct),
      "compacted store serves different links than the direct build")
    spark.catalog.clearCache()
    // takedown purge is a row filter at compaction (per-doc key rows —
    // unlike the gram store's cross-doc ownership, no rebuild needed):
    // tombstoned ids vanish from the store and from every served link
    import spark.implicits._
    val tomb = docs.select(col("doc_id")).where(col("doc_id") % 7 === 0)
    val purged = tmp("graft_link_out3") + "/purged"
    Dedup.compactLinkageIndex(spark, inc, purged, tombstones = Some(tomb))
    val purgedIds = spark.read.parquet(s"$purged/keys")
      .select("doc_id").as[Long].collect().toSet
    assert(purgedIds.forall(_ % 7 != 0), "tombstoned doc survived compaction")
    val servedMatches = links(purged).map(_._2)
    assert(servedMatches.forall(_ % 7 != 0),
      "a purged doc is still served as a link target")
    spark.catalog.clearCache()
  }

  test("incremental residual IVF-PQ codes compact to the frozen-model encode (n37b twin)") {
    import graft.operators.Similarity
    def addChunk(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_res_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$dir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val chunk1 = emb.where(col("vec_id") % 2 === 0)
    val chunk2 = emb.where(col("vec_id") % 2 === 1)
    // nightly base: model TRAINED on chunk1 only — the frozen-model
    // contract under test is that chunk2 encodes against THIS model
    val basePath = tmp("graft_res_base") + "/store"
    val base = Similarity.buildIvfPqResidualIndex(chunk1, nCells = 16)
    Similarity.writeIvfPqResidualIndex(base, basePath)
    val baseCents = base.centroids
    val baseBooks = base.books
    base.unpersist()
    val src = tmp("graft_res_src")
    val inc = tmp("graft_res_root") + "/inc"
    val ckpt = tmp("graft_res_ckpt")
    addChunk(src, chunk2, "c2.parquet")
    Streams.incrementalIvfPqResidualEncode(spark, src, basePath, inc, ckpt)
    val serving = tmp("graft_res_out") + "/serving"
    Similarity.compactIvfPqResidualStore(spark, basePath, inc, serving)
    // expected = EVERY vector (both chunks) encoded against chunk1's
    // frozen model — the single shared residualEncode path
    def codeSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList)).toSet
    val expected = codeSet(Similarity.residualEncode(baseCents, baseBooks, emb))
    val compacted = codeSet(spark.read.parquet(s"$serving/coded"))
    assert(compacted == expected,
      "compacted residual store differs from the frozen-model encode of all vectors")
    // and it SERVES through the ordinary read path (marker validated)
    val reloaded = Similarity.readIvfPqResidualIndex(spark, serving)
    val served = Similarity.ivfPqResidualTopK(reloaded, queryVecId = 0L, k = 5)
      .collect().map(_.getLong(0)).toList
    assert(served.head == 0L, "query vector should rank itself first")
    spark.catalog.clearCache()
    // takedown purge is a row filter at compaction
    import spark.implicits._
    val purged = tmp("graft_res_out2") + "/purged"
    Similarity.compactIvfPqResidualStore(spark, basePath, inc, purged,
      tombstones = Some(emb.select(col("vec_id")).where(col("vec_id") % 5 === 0)))
    val purgedIds = spark.read.parquet(s"$purged/coded")
      .select("vec_id").as[Long].collect().toSet
    assert(purgedIds.forall(_ % 5 != 0), "tombstoned vector survived compaction")
    spark.catalog.clearCache()
  }

  test("prefix-join re-delivery: LWW holds through later batches, compaction, and the serving read (d34c/d34d twin)") {
    import graft.operators.Dedup
    import spark.implicits._
    val src = tmp("graft_pfxlww_src")
    val idx = tmp("graft_pfxlww_root") + "/idx"
    val ckpt = tmp("graft_pfxlww_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    Dedup.writePrefixIndex(docs.where(col("doc_id") < 60), idx)
    // doc 70's STALE revision is its true text plus a disjoint-token
    // tail — a near-dup of its own final revision, so any doc that
    // passes the threshold against the true text also passes against
    // the stale one (the configuration where a maintainer that fails
    // to LWW-resolve its stored read emits one pair row PER REVISION)
    val text70 = docs.where(col("doc_id") === 70).select("text")
    val stale70 = text70.select(lit(70L).as("doc_id"),
      concat(col("text"), lit(" qq0 qq1 qq2 qq3")).as("text"))
    // doc 3000 carries the SAME stale text as its one and only
    // revision — a guaranteed Jaccard-1.0 stale pair (70,3000) in c1
    // that must DOWNGRADE (not vanish) after 70's re-delivery
    val d3000 = stale70.select(lit(3000L).as("doc_id"), col("text"))
    // doc 3001 (c3, post-re-delivery) carries 70's TRUE text — the
    // probe for the two-revision stored read
    val d3001 = text70.select(lit(3001L).as("doc_id"), col("text"))
    util.Chunks.add(
      docs.where(col("doc_id") >= 60 && col("doc_id") < 90 && col("doc_id") =!= 70)
        .unionByName(stale70).unionByName(d3000), src, "c1.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    val staleRows = Dedup.readPrefixJoinPairs(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(staleRows.contains((70L, 3000L, 1.0)),
      s"stale revision's J=1.0 pair must be in the raw store: $staleRows")
    // c2 re-delivers doc 70 with its true text + [90,105)
    util.Chunks.add(
      docs.where(col("doc_id") >= 90 && col("doc_id") < 105 || col("doc_id") === 70),
      src, "c2.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    // c3 arrives AFTER the re-delivery: its join reads a store holding
    // BOTH of 70's revisions
    util.Chunks.add(
      docs.where(col("doc_id") >= 105).unionByName(d3001), src, "c3.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    // the two-revision probe: (70,3001) must appear EXACTLY ONCE in
    // the raw store — a non-LWW stored read would have verified 3001
    // against both revisions (J=1.0 true, J<1 stale — both pass) and
    // written one row per revision, both carrying c3's batch id, which
    // no later compaction rule could repair
    val raw = Dedup.readPrefixJoinPairs(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val probe = raw.filter(t => t._1 == 70L && t._2 == 3001L)
    assert(probe.length == 1 && probe.head._3 == 1.0,
      s"(70,3001) must be one J=1.0 row, got: ${probe.toList}")
    // compaction / LWW serving read both equal the one-shot join of
    // the FINAL corpus (true docs + 3000's only revision + 3001)
    val serving = tmp("graft_pfxlww_out") + "/serving"
    Dedup.compactPrefixIndex(spark, idx, serving)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairSet(Dedup.readPrefixJoinPairs(spark, serving))
    val finalCorpus = docs.unionByName(d3000).unionByName(d3001)
    val expected = pairSet(Dedup.prefixJaccardJoin(finalCorpus))
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
    assert(pairSet(Dedup.readPrefixJoinPairsLww(spark, idx)) == expected,
      "LWW serving read over the RAW store must equal the compacted store")
    // the stale J=1.0 pair DOWNGRADED to the true-text jaccard (<1)
    val p3000 = got.filter(t => t._1 == 70L && t._2 == 3000L)
    assert(p3000.size == 1 && p3000.head._3 < 1.0,
      s"(70,3000) must survive at the true-text jaccard: $p3000")
    // compacted toks hold exactly one revision per doc — doc 70's the true one
    assert(spark.read.parquet(s"$serving/toks")
      .where(col("doc_id") === 70).count() == 1,
      "LWW must keep exactly one token set per doc")
    // a tombstone recorded between appends holds through compaction on
    // toks, pfx, AND pairs (either side)
    val tombs = tmp("graft_pfxlww_tomb") + "/tombstones"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val serving2 = tmp("graft_pfxlww_out2") + "/serving"
    Dedup.compactPrefixIndex(spark, idx, serving2, tombstonePath = Some(tombs))
    assert(spark.read.parquet(s"$serving2/toks")
      .where(col("doc_id") === 3000).count() == 0)
    assert(spark.read.parquet(s"$serving2/pfx")
      .where(col("doc_id") === 3000).count() == 0)
    val purged = pairSet(Dedup.readPrefixJoinPairs(spark, serving2))
    assert(purged == expected.filterNot {
      case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("minhash re-delivery: LWW holds through later batches, compaction, and the serving read (d2c/d2d twin)") {
    import graft.operators.Dedup
    import spark.implicits._
    val src = tmp("graft_mhlww_src")
    val idx = tmp("graft_mhlww_root") + "/idx"
    val pairsDir = tmp("graft_mhlww_root2") + "/pairs"
    val ckpt = tmp("graft_mhlww_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    // doc 70's STALE revision = its true text + a disjoint-token tail
    // (the d34c trick): any doc passing the Jaccard threshold against
    // the true text also passes against the stale one, so a maintainer
    // that fails to LWW-resolve its stored read emits one pair row PER
    // REVISION for the post-re-delivery probe.
    val text70 = docs.where(col("doc_id") === 70).select("text")
    val stale70 = text70.select(lit(70L).as("doc_id"),
      concat(col("text"), lit(" qq0 qq1 qq2 qq3")).as("text"))
    // doc 3000: the stale text as its one and only revision — a
    // guaranteed J=1.0 stale pair (70,3000) in c1 that must DOWNGRADE
    // (not vanish) after 70's re-delivery
    val d3000 = stale70.select(lit(3000L).as("doc_id"), col("text"))
    // doc 3001 (c3, post-re-delivery): 70's TRUE text — the
    // two-revision stored-read probe
    val d3001 = text70.select(lit(3001L).as("doc_id"), col("text"))
    util.Chunks.add(
      docs.where(col("doc_id") < 90 && col("doc_id") =!= 70)
        .unionByName(stale70).unionByName(d3000), src, "c1.parquet")
    Streams.incrementalMinhashIndex(spark, src, idx, pairsDir, ckpt)
    val staleRows = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(staleRows.contains((70L, 3000L, 1.0)),
      s"stale revision's J=1.0 pair must be in the raw store: $staleRows")
    util.Chunks.add(
      docs.where(col("doc_id") >= 90 && col("doc_id") < 105 || col("doc_id") === 70),
      src, "c2.parquet")
    Streams.incrementalMinhashIndex(spark, src, idx, pairsDir, ckpt)
    util.Chunks.add(
      docs.where(col("doc_id") >= 105).unionByName(d3001), src, "c3.parquet")
    Streams.incrementalMinhashIndex(spark, src, idx, pairsDir, ckpt)
    // the two-revision probe: (70,3001) exactly once, at the TRUE J=1.0
    val raw = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val probe = raw.filter(t => t._1 == 70L && t._2 == 3001L)
    assert(probe.length == 1 && probe.head._3 == 1.0,
      s"(70,3001) must be one J=1.0 row, got: ${probe.toList}")
    // the raw directories keep the stale audit trail the serving views
    // must filter — if nothing is filterable the gates prove nothing
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val finalCorpus = docs.unionByName(d3000).unionByName(d3001)
    val batchIx = Dedup.buildMinhashIndex(finalCorpus)
    val expected = pairSet(Dedup.minhashPairs(batchIx, threshold = 0.5))
    batchIx.unpersist()
    assert(raw.length > expected.size,
      "raw pair dirs must still carry the superseded revision's rows")
    // LWW serving read == compaction == the one-shot batch join
    assert(pairSet(Dedup.readIncrementalMinhashPairsLww(spark, idx, pairsDir))
      == expected, "LWW serving read must equal the one-shot batch join")
    val out = tmp("graft_mhlww_out") + "/pairs"
    Dedup.compactMinhashPairs(spark, idx, pairsDir, out)
    assert(pairSet(spark.read.parquet(out)
      .select("doc_a", "doc_b", "jaccard")) == expected,
      "compacted pairs must equal the one-shot batch join")
    // the stale J=1.0 pair downgraded to the true-text jaccard (<1) —
    // presence rides the band collision of two near-identical
    // signatures (one-shot and incremental agree by construction), so
    // pin only the VALUE rule: no J=1.0 row may survive for (70,3000)
    val p3000 = expected.filter(t => t._1 == 70L && t._2 == 3000L)
    assert(p3000.forall(_._3 < 1.0),
      s"(70,3000) must not survive at the stale J=1.0: $p3000")
    // tombstones hold through pair compaction on EITHER side
    val tombs = tmp("graft_mhlww_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val out2 = tmp("graft_mhlww_out2") + "/pairs"
    Dedup.compactMinhashPairs(spark, idx, pairsDir, out2,
      tombstonePath = Some(tombs))
    assert(pairSet(spark.read.parquet(out2)
      .select("doc_a", "doc_b", "jaccard")) ==
      expected.filterNot { case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("simhash re-delivery: a stale fingerprint cannot serve spurious pairs after the re-delivery (d3c/d3d twin)") {
    import graft.operators.Dedup
    import spark.implicits._
    val src = tmp("graft_shlww_src")
    val idx = tmp("graft_shlww_root") + "/idx"
    val pairsDir = tmp("graft_shlww_root2") + "/pairs"
    val ckpt = tmp("graft_shlww_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    // doc 70's STALE revision = doc 3's text (Hamming 0 against any
    // later clone of doc 3); its TRUE revision is its own text.
    val stale70 = docs.where(col("doc_id") === 3)
      .select(lit(70L).as("doc_id"), col("text"))
    val d3000 = docs.where(col("doc_id") === 3)
      .select(lit(3000L).as("doc_id"), col("text"))  // guaranteed c1 stale pair
    val d3001 = docs.where(col("doc_id") === 3)
      .select(lit(3001L).as("doc_id"), col("text"))  // c3 probe ≡ the stale text
    util.Chunks.add(
      docs.where(col("doc_id") < 90 && col("doc_id") =!= 70)
        .unionByName(stale70).unionByName(d3000), src, "c1.parquet")
    Streams.incrementalSimhashIndex(spark, src, idx, pairsDir, ckpt)
    val c1Rows = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(c1Rows.contains((70L, 3000L, 0)),
      s"stale revision's Hamming-0 pair must be in the raw store: $c1Rows")
    util.Chunks.add(
      docs.where(col("doc_id") >= 90 && col("doc_id") < 105 || col("doc_id") === 70),
      src, "c2.parquet")
    Streams.incrementalSimhashIndex(spark, src, idx, pairsDir, ckpt)
    util.Chunks.add(
      docs.where(col("doc_id") >= 105).unionByName(d3001), src, "c3.parquet")
    Streams.incrementalSimhashIndex(spark, src, idx, pairsDir, ckpt)
    // the stale-fingerprint probe: 3001 ≡ 70's SUPERSEDED text arrives
    // after the re-delivery — a non-LWW stored read would emit a
    // spurious Hamming-0 (70,3001) row with c3's batch id, which no
    // downstream rule could repair
    val raw = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(!raw.exists(t => t._1 == 70L && t._2 == 3001L && t._3 == 0),
      "the superseded fingerprint served a spurious Hamming-0 pair")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val finalCorpus = docs.unionByName(d3000).unionByName(d3001)
    val batchIx = Dedup.buildSimhashIndex(finalCorpus)
    val expected = pairSet(Dedup.simhashPairs(batchIx))
    batchIx.unpersist()
    assert(raw.length > expected.size,
      "raw pair dirs must still carry the superseded revision's rows")
    assert(pairSet(Dedup.readIncrementalSimhashPairsLww(spark, idx, pairsDir))
      == expected, "LWW serving read must equal the one-shot batch join")
    val out = tmp("graft_shlww_out") + "/pairs"
    Dedup.compactSimhashPairs(spark, idx, pairsDir, out)
    assert(pairSet(spark.read.parquet(out)
      .select("doc_a", "doc_b", "hamming")) == expected,
      "compacted pairs must equal the one-shot batch join")
    // (3000,3001) — both ≡ doc 3's text — is a TRUE Hamming-0 pair and
    // must survive; tombstoning 3000 removes exactly its pairs
    assert(expected.contains((3000L, 3001L, 0)))
    val tombs = tmp("graft_shlww_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val out2 = tmp("graft_shlww_out2") + "/pairs"
    Dedup.compactSimhashPairs(spark, idx, pairsDir, out2,
      tombstonePath = Some(tombs))
    assert(pairSet(spark.read.parquet(out2)
      .select("doc_a", "doc_b", "hamming")) ==
      expected.filterNot { case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("vector re-delivery: a stale embedding cannot serve spurious pairs after the re-delivery (d5c/d5d twin)") {
    import graft.operators.Similarity
    import spark.implicits._
    val src = tmp("graft_veclww_src")
    val idx = tmp("graft_veclww_root") + "/idx"
    val pairsDir = tmp("graft_veclww_root2") + "/pairs"
    val ckpt = tmp("graft_veclww_ckpt")
    val vecs = Tables.embeddings(spark, sf).where(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding"))
    // vec 70's STALE revision = vec 3's embedding; TRUE = its own.
    def asId(srcId: Long, newId: Long) = vecs.where(col("vec_id") === srcId)
      .select(lit(newId).as("vec_id"), col("embedding"))
    util.Chunks.add(
      vecs.where(col("vec_id") < 90 && col("vec_id") =!= 70)
        .unionByName(asId(3L, 70L)).unionByName(asId(3L, 3000L)),
      src, "c1.parquet")
    Streams.incrementalVectorIndex(spark, src, idx, pairsDir, ckpt)
    val c1Rows = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identical int vectors: cos = n2/(sqrt(n2)·sqrt(n2)) ≈ 1.0 up to
    // IEEE sqrt round-trip — assert by pair key + near-1 value
    assert(c1Rows.exists(t => t._1 == 70L && t._2 == 3000L && t._3 > 0.999),
      s"stale revision's cos~1.0 pair must be in the raw store: $c1Rows")
    util.Chunks.add(
      vecs.where(col("vec_id") >= 90 && col("vec_id") < 105 || col("vec_id") === 70),
      src, "c2.parquet")
    Streams.incrementalVectorIndex(spark, src, idx, pairsDir, ckpt)
    util.Chunks.add(
      vecs.where(col("vec_id") >= 105).unionByName(asId(3L, 3001L)),
      src, "c3.parquet")
    Streams.incrementalVectorIndex(spark, src, idx, pairsDir, ckpt)
    // stale-embedding probe: 3001 ≡ 70's SUPERSEDED vector arrives
    // after the re-delivery — a non-LWW stored read would emit a
    // spurious cos-1.0 (70,3001) row with c3's batch id
    val raw = spark.read.parquet(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!raw.exists(t => t._1 == 70L && t._2 == 3001L),
      "the superseded embedding served a spurious pair")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val finalCorpus = vecs.unionByName(asId(3L, 3000L)).unionByName(asId(3L, 3001L))
    val batchIx = Similarity.buildCosineIndex(finalCorpus)
    val expected = pairSet(Similarity.cosineDedupPairs(batchIx, threshold = 0.9))
    batchIx.unpersist()
    assert(raw.length > expected.size,
      "raw pair dirs must still carry the superseded revision's rows")
    assert(pairSet(Similarity.readIncrementalVectorPairsLww(spark, idx, pairsDir))
      == expected, "LWW serving read must equal the one-shot batch join")
    val out = tmp("graft_veclww_out") + "/pairs"
    Similarity.compactVectorPairs(spark, idx, pairsDir, out)
    assert(pairSet(spark.read.parquet(out)
      .select("vec_a", "vec_b", "cos")) == expected,
      "compacted pairs must equal the one-shot batch join")
    // (3000,3001) — both ≡ vec 3 — is a TRUE cos~1.0 pair and must
    // survive; tombstoning 3000 removes exactly its pairs
    assert(expected.exists(t => t._1 == 3000L && t._2 == 3001L && t._3 > 0.999))
    val tombs = tmp("graft_veclww_tomb") + "/t"
    graft.operators.Governance.recordTombstones(spark, tombs,
      Seq(3000L).toDF("purge_id"))
    val out2 = tmp("graft_veclww_out2") + "/pairs"
    Similarity.compactVectorPairs(spark, idx, pairsDir, out2,
      tombstonePath = Some(tombs))
    assert(pairSet(spark.read.parquet(out2)
      .select("vec_a", "vec_b", "cos")) ==
      expected.filterNot { case (a, b, _) => a == 3000L || b == 3000L })
    spark.catalog.clearCache()
  }

  test("prefix store WITHOUT the ids sidecar: LWW read falls back, the maintainer backfills once (pre-r19 store compat)") {
    import graft.operators.Dedup
    val src = tmp("graft_pfxleg_src")
    val idx = tmp("graft_pfxleg_root") + "/idx"
    val ckpt = tmp("graft_pfxleg_ckpt")
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    Dedup.writePrefixIndex(docs.where(col("doc_id") < 60), idx)
    // simulate a store written before the sidecar existed
    val idsPath = new org.apache.hadoop.fs.Path(s"$idx/ids")
    val fs = idsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(idsPath), "writePrefixIndex should write the sidecar")
    fs.delete(idsPath, true)
    // the read-time LWW view serves through the token-directory
    // fallback — the identity on an append-only store
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairSet(Dedup.readPrefixJoinPairsLww(spark, idx)) ==
      pairSet(Dedup.readPrefixJoinPairs(spark, idx)),
      "fallback LWW read must be the identity on an append-only legacy store")
    // first maintainer touch BACKFILLS the sidecar (one winners pass,
    // paid once), then the batch joins exactly as on a new store
    util.Chunks.add(docs.where(col("doc_id") >= 60), src, "c1.parquet")
    Streams.incrementalPrefixJoin(spark, src, idx, ckpt)
    assert(fs.exists(idsPath), "maintainer must backfill the ids sidecar")
    // winners cover base docs (backfilled at batch_id=-1) AND the batch
    val winners = spark.read.parquet(s"$idx/ids")
    assert(winners.where(col("batch_id") === -1).count() ==
      Dedup.prefixTokens(docs.where(col("doc_id") < 60)).count(),
      "backfill must cover every base doc at its winning batch")
    assert(winners.select("doc_id").distinct().count() ==
      Dedup.prefixTokens(docs).count(),
      "winners must cover base and batch docs exactly once each")
    // accumulated pairs equal the one-shot batch join of the corpus
    assert(pairSet(Dedup.readPrefixJoinPairs(spark, idx)) ==
      pairSet(Dedup.prefixJaccardJoin(docs)),
      "legacy-store increment must equal the one-shot batch join")
    spark.catalog.clearCache()
  }
}
