package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the queries must not only return correct rows,
  * they must compile to the plan shapes that survive a 100x scale-up —
  * filters pushed into the parquet scan, dimension joins broadcast, no
  * cartesian products anywhere, hot paths under whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no registered query compiles to a CartesianProduct") {
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("filters reach the parquet scan (PushedFilters non-empty)") {
    for (name <- Seq("p2_in_list", "p5_nonnull_nonempty", "p7_point_lookup")) {
      val p = plan(name)
      assert(p.contains("PushedFilters: ["), s"$name: no pushdown section")
      assert(!p.matches("(?s).*PushedFilters: \\[\\].*"),
        s"$name: PushedFilters is empty")
    }
  }

  test("column pruning: scan-project reads only requested columns") {
    val p = plan("s4_scan_project")
    assert(p.contains("ReadSchema"))
    // o_comment is the widest orders column; a pruned scan must not read it
    assert(!p.contains("o_comment"), "scan reads unprojected o_comment")
  }

  test("small-side joins broadcast (corrections overlay, alias expansion)") {
    for (name <- Seq("j2_alias_broadcast", "j5_corrections_join")) {
      assert(plan(name).contains("BroadcastHashJoin"), s"$name: no broadcast join")
    }
  }

  test("broadcast-dependent pipeline ops never shuffle the corpus side") {
    // t8: the eval 8-gram index must broadcast (hash join, small build
    // side); n4: the query-vector set fans out via a broadcast join —
    // either shape is fine as long as the corpus side has no Exchange
    // feeding the join from a shuffle of corpus rows.
    assert(plan("t8_contamination").contains("BroadcastHashJoin"),
      "t8: eval gram index not broadcast")
    assert(plan("n4_ann_batch").contains("Broadcast"),
      "n4: query set not broadcast")
  }

  test("t19: the TF-IDF posting join broadcasts the query side") {
    // The corpus posting list must never shuffle against the query docs:
    // query postings (5 docs) broadcast, and per-query top-k goes through
    // the bounded ObjectHashAggregate (TopKAggregator), not a window sort
    // of every candidate.
    val p = plan("t19_tfidf_similar")
    assert(p.contains("BroadcastHashJoin"), "t19: posting join not broadcast")
    assert(p.contains("ObjectHashAggregate"), "t19: top-k not via Aggregator")
    assert(!p.contains("Window"), "t19: window sort crept into the top-k path")
  }

  test("n6: the ADC candidate pool is a bounded TakeOrdered, not a full sort") {
    // PQ's pool selection must compile to TakeOrderedAndProject (top-R
    // without a global sort); the exact rerank then touches <= R rows.
    val index = operators.Similarity.buildPqIndex(Tables.embeddings(spark, sf))
    val p = operators.Similarity.pqTopK(index, 0L, 10)
      .queryExecution.executedPlan.toString
    index.unpersist()
    assert(p.contains("TakeOrderedAndProject"), "n6: pool selection sorts globally")
  }

  test("n3c: the persistent IVF probe prunes cell partitions at the file index") {
    val built = operators.Similarity.buildIvfIndex(Tables.embeddings(spark, sf), nCells = 16)
    val path = util.TmpRoot("ivfplan") + "/ivf"
    operators.Similarity.writeIvfIndex(built, path)
    built.unpersist()
    val reloaded = operators.Similarity.readIvfIndex(spark, path)
    val p = operators.Similarity.ivfTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n3c: cell probe not pruning partitions:\n$p")
  }

  test("n44: the rebalanced store serves through the same directory-pruned probe path") {
    // applyIvfRebalance writes the writeIvfIndex layout, so the probe
    // must prune at the file index exactly like a fresh build — a
    // rebalance that silently dropped the cell partitioning would
    // re-scan the whole store on every query at 100 TB.
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val built = operators.Similarity.buildIvfIndex(emb, nCells = 16)
    val root = util.TmpRoot("rebalplan")
    operators.Similarity.writeIvfIndex(built, s"$root/base")
    built.unpersist()
    operators.Similarity.applyIvfRebalance(spark, s"$root/base", s"$root/out")
    val reloaded = operators.Similarity.readIvfIndex(spark, s"$root/out")
    val p = operators.Similarity.ivfTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n44: rebalanced-store probe not pruning partitions:\n$p")
  }

  test("n41b: the served maxsim candidate read prunes cell partitions at the file index") {
    val toks = operators.Similarity.maxsimTokens(Tables.embeddings(spark, sf))
    val built = operators.Similarity.buildIvfIndex(
      toks.selectExpr("token_id AS vec_id", "tv AS embedding"),
      nCells = 16)
    val path = util.TmpRoot("maxsimplan") + "/maxsim"
    operators.Similarity.writeIvfIndex(built, path)
    built.unpersist()
    val stored = operators.Similarity.readIvfIndex(spark, path)
    val qt = toks.where("doc_id IN (0, 1)")
    val p = operators.Similarity.maxsimServedCandidates(stored, qt)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n41b: candidate read not pruning cell partitions:\n$p")
    spark.catalog.clearCache()
  }

  test("n8b: the persistent IVF-PQ probe prunes cell partitions at the file index") {
    val built = operators.Similarity.buildIvfPqIndex(Tables.embeddings(spark, sf), nCells = 16)
    val path = util.TmpRoot("ivfpqplan") + "/ivfpq"
    operators.Similarity.writeIvfPqIndex(built, path)
    built.unpersist()
    val reloaded = operators.Similarity.readIvfPqIndex(spark, path)
    val p = operators.Similarity.ivfPqTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n8b: cell probe not pruning partitions:\n$p")
  }

  test("n37b: the persistent residual IVF-PQ probe prunes cell partitions at the file index") {
    val built = operators.Similarity.buildIvfPqResidualIndex(
      Tables.embeddings(spark, sf), nCells = 16)
    val path = util.TmpRoot("ivfpqresplan") + "/ivfpqres"
    operators.Similarity.writeIvfPqResidualIndex(built, path)
    built.unpersist()
    val reloaded = operators.Similarity.readIvfPqResidualIndex(spark, path)
    val p = operators.Similarity.ivfPqResidualTopK(reloaded, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"n37b: cell probe not pruning partitions:\n$p")
    // and the raw n8b store refuses to serve through the residual path
    val rawBuilt = operators.Similarity.buildIvfPqIndex(
      Tables.embeddings(spark, sf), nCells = 16)
    val rawPath = util.TmpRoot("ivfpqrawplan") + "/ivfpqraw"
    operators.Similarity.writeIvfPqIndex(rawBuilt, rawPath)
    rawBuilt.unpersist()
    intercept[IllegalArgumentException] {
      operators.Similarity.readIvfPqResidualIndex(spark, rawPath)
    }
  }

  test("dq1: referential-integrity checks anti-join with a broadcast build side") {
    val p = plan("dq1_quality_checks")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"dq1: RI checks should be broadcast anti-joins:\n$p")
  }

  test("n11: hard-negative mining rides the bounded aggregator, no window sort") {
    val p = plan("n11_hard_negatives")
    assert(!p.contains("Window"), s"n11: unexpected window sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"n11: query side should broadcast:\n$p")
  }

  test("d10: the batch probe prunes bucket partitions of the stored index") {
    val docs = Tables.documents(spark, sf)
    val built = operators.Dedup.buildMinhashIndex(docs)
    val path = util.TmpRoot("mhplan") + "/minhash"
    operators.Dedup.writeMinhashIndex(built, path)
    built.unpersist()
    val stored = operators.Dedup.readMinhashIndex(spark, path)
    val batch = operators.Dedup.buildMinhashIndex(operators.Dedup.newBatchOf(docs))
    val p = operators.Dedup.dedupAgainstIndex(stored, batch, threshold = 0.5)
      .queryExecution.executedPlan.toString
    batch.unpersist()
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d10: bucket probe not pruning partitions:\n$p")
  }

  test("CASE-overlay variant stays join-free (constant-folded expression)") {
    val p = plan("p4_case_overlay")
    assert(!p.contains("Join"), "p4 should be a pure expression, no join")
  }

  test("flagship + hot aggregates run under whole-stage codegen") {
    // whole-stage codegen shows as a `*(n)` stage prefix in the tree
    // string; under AQE the codegen'd final plan only exists after an
    // action, so execute first.
    for (name <- Seq("p1_ci_equality", "a2_agency_stats", "a9_home_stats")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize this plan in place (a write would clone it)
      assert(df.queryExecution.executedPlan.toString.contains("*("),
        s"$name: no codegen span")
    }
  }

  test("ANN brute-force top-k avoids a global sort (TakeOrderedAndProject)") {
    assert(plan("n1_ann_bruteforce").contains("TakeOrderedAndProject"))
  }

  test("pagination plans to TakeOrderedAndProject, never a global window sort") {
    import graft.entries.{Engine, Fixture, SearchOptions}
    // OFFSET mode: per-partition top-(page·pageSize) heaps + bounded merge.
    // listEntries itself returns a materialized page (so it can release its
    // cache eagerly); audit the lazy slice plan it materializes.
    val opts = SearchOptions(sort = "newest", page = 2, pageSize = 5)
    val slice = Engine.pageSlice(
      Engine.listEntriesFiltered(spark, Fixture.df(spark), opts), opts, 2)
    val p = slice.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "listEntries page: no TakeOrderedAndProject")
    assert(!p.contains("Window"), "listEntries page: global window sort")
    // keyed-cursor mode: filtered scan + top-pageSize, no offset at all
    val cur = Engine.listEntriesAfter(spark, Fixture.df(spark),
      SearchOptions(sort = "newest", pageSize = 5), Some("2025-05-01"), 2L)
    val pc = cur.queryExecution.executedPlan.toString
    assert(pc.contains("TakeOrderedAndProject") && !pc.contains("Window"))
    // the registered OFFSET gate query shares the shape
    val o2 = plan("o2_offset_page")
    assert(o2.contains("TakeOrderedAndProject") && !o2.contains("Window"))
  }

  test("entries pages apply the corrections overlay without a BroadcastExchange") {
    import graft.entries.{Engine, Fixture, SearchOptions}
    // The overlay tables are inlined as literals; a join against them
    // would plan a BroadcastExchange, one extra job on every request.
    val opts = SearchOptions(sort = "newest", page = 2, pageSize = 5)
    val slice = Engine.pageSlice(
      Engine.listEntriesFiltered(spark, Fixture.df(spark), opts), opts, 2)
    val cur = Engine.listEntriesAfter(spark, Fixture.df(spark),
      SearchOptions(sort = "newest", pageSize = 5), Some("2025-05-01"), 2L)
    for ((name, df) <- Seq("pageSlice" -> slice, "listEntriesAfter" -> cur)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"), s"$name: overlay planned as a broadcast:\n$p")
    }
    // positive control: the TPC-H corrections join still broadcasts, so
    // the plan string does show a BroadcastExchange where one exists
    assert(plan("j5_corrections_join").contains("BroadcastExchange"))
  }

  test("pipeline windows are always partitioned (no global-sort Window)") {
    // A WindowExec with an empty partitionSpec funnels every row through
    // one task — the classic scale-killer. t6/e1 windows must partition
    // by their stratum key. plan.collect alone would be VACUOUS here:
    // under AQE the executed plan is an AdaptiveSparkPlanExec leaf, so
    // the walk must descend through adaptive wrappers and query stages.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ nested).flatMap(flatten)
    }
    def globalWindows(name: String) = flatten(
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    // Positive control: a11's window IS unpartitioned (by design — it
    // runs post-aggregation over O(distinct keys) rows). If the walker
    // stops seeing it, the walker is broken, not the plans.
    assert(globalWindows("a11_window_totals").nonEmpty,
      "plan walker no longer sees known global windows — vacuous test")
    for (name <- Seq("t6_pack_sequences", "e1_sessionize",
        "e7_growth_accounting", "t50_ccnet_buckets")) {
      assert(globalWindows(name).isEmpty, s"$name: unpartitioned Window in plan")
    }
    // t38's ONLY global window must sit on the key histogram (post-agg,
    // O(distinct keys)) — the corpus-side rank window stays partitioned.
    // One global WindowExec is the design; two would mean the corpus
    // leaked into a single task.
    assert(globalWindows("t38_quality_ntile_plan").length == 1,
      "t38: histogram window count drifted")
  }

  test("a18/t41: histogram-rank queries keep their global window off the corpus") {
    // The only global WindowExec allowed is the histogram cumulative —
    // one per query. The corpus-side row_number (t41) stays partitioned
    // by key; a18 has no corpus window at all.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ nested).flatMap(flatten)
    }
    for (name <- Seq("a18_exact_percentiles", "t41_model_calibration")) {
      val globals = flatten(SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(globals.length == 1, s"$name: global-window count drifted")
    }
  }

  test("d15/t38: small-side rollups broadcast back onto the corpus") {
    // d15: the O(clusters) size rollup must broadcast; a shuffled join
    // here would re-exchange the corpus for a frame thousands of times
    // smaller.
    assert(plan("d15_soft_dedup_weights").contains("BroadcastHashJoin"),
      "d15: size rollup not broadcast")
    // t38: per-key offsets and the 1-row total broadcast onto the
    // corpus — any SortMergeJoin means the histogram join degraded to
    // a corpus shuffle.
    val p = plan("t38_quality_ntile_plan")
    assert(p.contains("BroadcastHashJoin"), "t38: offsets join not broadcast")
    assert(!p.contains("SortMergeJoin"), s"t38: corpus-side shuffled join:\n$p")
  }

  test("t35 rule report is map-side only: zero exchanges in the plan") {
    // The Gopher rule suite must ride the corpus scan for free — any
    // Exchange here means a rule accidentally aggregated or joined.
    val p = plan("t35_gopher_rules")
    assert(!p.contains("Exchange"), s"t35 shuffles:\n$p")
  }

  test("n18 feature gather never shuffles the corpus (broadcast joins only)") {
    // The rerank stage's contract: the O(k) pool is broadcast into the
    // document/embedding scans, and the gathered features broadcast
    // back onto the pool — a shuffled LeftOuter join would mean a
    // corpus-sized estimate leaked into a 10-row gather. The two
    // FullOuter SortMergeJoins are n7's rank fusion over two ≤ 20-row
    // frames (Spark cannot broadcast a full outer), bounded by
    // construction — only the gather joins are pinned here.
    val p = plan("n18_cross_rerank")
    assert(!p.contains("SortMergeJoin LeftOuter"), s"n18 shuffled gather:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"n18 shuffled hash join:\n$p")
  }

  test("t36 data card has no join: dup groups via a window on the hash key") {
    val p = plan("t36_data_card")
    assert(!p.contains("Join"), s"t36 contains a join:\n$p")
  }

  test("LSH candidate joins are equality joins on band keys, not loops") {
    for (name <- Seq("d2_minhash_lsh", "d3_simhash")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: nested-loop join")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian")
    }
  }

  test("persistent FTS index probes prune partitions AND push the term range") {
    import graft.operators.Fts
    val path = java.nio.file.Files.createTempDirectory("graft_fts_plan").toString + "/terms"
    Fts.writeTermIndex(
      Fts.termIndex(Tables.documents(spark, sf), "doc_id", Seq("text")), path)
    val q = Fts.matchingIdsPersistent(
      Fts.readTermIndex(spark, path), Seq("spar", "wind"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // the first-char probe keys reach the directory layout…
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*term_pfx[^\\]]*\\].*"),
      s"p6f: no term_pfx partition filter:\n$p")
    // …and the sargable prefix range reaches the parquet scan (no
    // closing-bracket anchor: plan toString truncates long lists).
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(term.*"),
      s"p6f: term prefix range not pushed to the scan:\n$p")
  }

  test("filtered ANN: label predicate pushed into the probed cells' scan") {
    import graft.operators.Similarity
    val path = java.nio.file.Files.createTempDirectory("graft_fann_plan").toString + "/ivf"
    val built = Similarity.buildIvfIndex(Tables.embeddings(spark, sf), nCells = 16)
    Similarity.writeIvfIndex(built, path)
    built.unpersist()
    val index = Similarity.readIvfIndex(spark, path)
    val q = Similarity.ivfTopKFiltered(index, queryVecId = 0L, k = 10,
      pred = org.apache.spark.sql.functions.col("label") === 2, nProbe = 8)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // ONE plan must show both pruning levels: the probe set at the
    // directory index AND the metadata predicate at the parquet scan
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"filtered ANN: no cell partition filter:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(label,2\\).*"),
      s"filtered ANN: label predicate not pushed to the scan:\n$p")
  }

  test("engine maintained-FTS route prunes the index on term_pfx") {
    import graft.entries.{Engine, Fixture, SearchOptions}
    val path = java.nio.file.Files.createTempDirectory("graft_engfts_plan").toString + "/terms"
    Engine.writeFtsIndex(spark, Fixture.df(spark), path)
    val q = Engine.listEntriesFiltered(spark, Fixture.df(spark),
      SearchOptions(q = Some("spark wind")), Some(path))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*term_pfx[^\\]]*\\].*"),
      s"engine FTS route: no term_pfx partition filter:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(term.*"),
      s"engine FTS route: term prefix range not pushed to the scan:\n$p")
  }

  test("warehouse product reads prune partitions AND push the residual range") {
    // The registered product queries themselves (not a synthetic read):
    // the P3b range and A8b timeline must carry a request_year partition
    // filter — the date-B-tree analog — plus the pushed residual range.
    for (name <- Seq("p3b_warehouse_range", "a8b_warehouse_timeline")) {
      val p = plan(name)
      assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*request_year[^\\]]*\\].*"),
        s"$name: no request_year partition filter:\n$p")
    }
    // No closing-bracket anchor: plan toString truncates long filter lists.
    val p3 = plan("p3b_warehouse_range")
    assert(p3.matches("(?s).*PushedFilters: \\[[^\\]]*corrected_request.*"),
      s"p3b: corrected_request range not pushed to the scan:\n$p3")
  }

  test("r12 batch: tiny stat frames broadcast; rollups never sort raw streams") {
    // e13: the O(types) moment frame joins back to daily counts as a
    // broadcast — the raw daily-count side must not shuffle for it.
    assert(plan("e13_rate_anomaly").contains("BroadcastHashJoin"),
      "e13: per-type moments not broadcast")
    // e14: the O(types×3) rank probe broadcasts against the histogram.
    assert(plan("e14_interarrival_pctl").contains("BroadcastHashJoin"),
      "e14: rank probe not broadcast")
    // e12: exactly one raw-stream exchange (the user_id lag window);
    // the prev-normalization must window over the O(types²) counts
    // frame, which AQE coalesces — no second hashpartitioning of
    // events columns.
    val e12 = plan("e12_transition_matrix")
    assert(e12.contains("Window"), "e12: lag window missing")
    // t45: the rank window partitions by lang over the VOCAB frame and
    // the regression is a hash agg — no global (unpartitioned) sort.
    val t45 = plan("t45_zipf_slope")
    assert(!t45.matches("(?s).*Sort \\[c[^\\n]*DESC[^\\n]*\\], true,.*"),
      "t45: global sort of the vocab frame (expected lang-partitioned window)")
    // n23: the energy normalizer is a 1-row broadcast, never a shuffle.
    assert(plan("n23_dim_stats").contains("BroadcastNestedLoopJoin") ||
      plan("n23_dim_stats").contains("BroadcastHashJoin"),
      "n23: total-energy normalizer not broadcast")
  }

  test("r12 batch 4: cube / power-user / compaction / CMS shapes") {
    // a19: CUBE compiles to ONE Expand feeding one partial+final hash
    // agg — a single pass, not a union of per-subtotal scans.
    val a19 = plan("a19_cube")
    assert(a19.contains("Expand"), "a19: no Expand (CUBE not one-pass)")
    assert(!a19.contains("Union"), "a19: CUBE planned as a union of scans")
    // a23: arbitrary GROUPING SETS compiles to the same ONE-Expand
    // shape — never a union of per-set scans.
    val a23 = plan("a23_grouping_sets")
    assert(a23.contains("Expand"), "a23: no Expand (GROUPING SETS not one-pass)")
    assert(!a23.contains("Union"), "a23: GROUPING SETS planned as a union of scans")
    // e15: two hash aggs, no window, no sort — the histogram never
    // rides a global ordering.
    val e15 = plan("e15_power_user_curve")
    assert(e15.contains("HashAggregate") && !e15.contains("Window"),
      "e15: expected pure hash-agg chain")
    // x5: the 1-row total joins via broadcast (never an exchange), and
    // the inventory window is the only single-partition stage.
    val x5 = plan("x5_compaction_plan")
    assert(x5.contains("BroadcastNestedLoopJoin") || x5.contains("BroadcastExchange"),
      "x5: total-size frame not broadcast")
    assert(x5.contains("Window"), "x5: inventory cumsum window missing")
    // t46: the top-12 probe is TakeOrderedAndProject (bounded heap, no
    // global sort) and the 4x1024 sketch broadcasts to the probe join.
    val t46 = plan("t46_cms_counts")
    assert(t46.contains("TakeOrderedAndProject"),
      "t46: heavy-token probe sorts globally")
    assert(t46.contains("BroadcastHashJoin"), "t46: sketch not broadcast")
    // t47: the per-source share window runs over the (source, lang)
    // PAIR frame (post-agg), and the rollup is a hash agg — the raw
    // corpus never enters a window or a sort.
    val t47 = plan("t47_source_lang_entropy")
    assert(t47.contains("Window") && t47.contains("HashAggregate"),
      "t47: expected pair-frame window + hash rollup")
    // s13: both partials read through the broadcast watermark (never a
    // shuffled theta-join of the stream against the 1-row frame).
    val s13 = plan("s13_incremental_rollup")
    assert(s13.contains("BroadcastNestedLoopJoin"),
      "s13: watermark not broadcast")
    // t48: the top-100 vocab probe is a bounded TakeOrderedAndProject
    // and fans out to the (source × V) grid via broadcast — the corpus
    // token frame never re-shuffles against the grid.
    val t48 = plan("t48_kl_source_drift")
    assert(t48.contains("TakeOrderedAndProject"), "t48: vocab sorts globally")
    assert(t48.contains("BroadcastNestedLoopJoin") ||
      t48.contains("BroadcastHashJoin"), "t48: vocab grid not broadcast")
    // e18: every window/sort is user_id-partitioned — the streak scan
    // must never funnel through a single partition.
    val e18 = plan("e18_user_streaks")
    assert(e18.contains("Window") && !e18.contains("SinglePartition"),
      "e18: expected user-partitioned islands, no single-partition stage")
    // x6: the diff is a genuine full-outer join of the two digest
    // frames (added AND removed rows must both survive).
    assert(plan("x6_snapshot_diff").contains("FullOuter"),
      "x6: diff join is not full-outer")
    // n26: the occupancy total is a 1-row broadcast over the stored
    // artifact read.
    assert(plan("n26_ivf_rebalance_plan").contains("Broadcast"),
      "n26: occupancy total not broadcast")
    // n27: the O(model) centroid table broadcasts against the
    // (cell, dim)-agg of the assigned frame — never the reverse.
    val n27 = plan("n27_centroid_drift")
    assert(n27.contains("BroadcastHashJoin"), "n27: centroids not broadcast")
    // e19: pure hash-agg chain + broadcast fleet total; per-user flags
    // must not sort or window anything.
    val e19 = plan("e19_bot_flags")
    assert(!e19.contains("Window") && e19.contains("Broadcast"),
      "e19: expected windowless agg chain with broadcast total")
    // x7: the fixed 20-bin grid and the per-source totals both ride
    // broadcasts; the only joins over document-scale data are the two
    // snapshot count-aggs.
    assert(plan("x7_release_drift").contains("BroadcastHashJoin"),
      "x7: grid/totals not broadcast")
    // t50: the tier ranking must ride the histogram discipline — the
    // offsets broadcast onto the corpus-side frame. (The 1-row token
    // total still single-partitions, as in t17 — the window-partitioning
    // invariant is pinned in the global-window walker test below.)
    assert(plan("t50_ccnet_buckets").contains("BroadcastHashJoin"),
      "t50: histogram offsets not broadcast")
    // e20: the three quartile rankings ride distributedNtile — offsets
    // and totals broadcast onto the O(users) frame, no shuffled join.
    val e20 = plan("e20_rfm_segments")
    assert(e20.contains("BroadcastHashJoin") && !e20.contains("SortMergeJoin"),
      "e20: ntile offsets not broadcast")
    // t51: the top-100 vocab probe stays a bounded TakeOrdered and its
    // membership join broadcasts onto the (lang, tok) rollup.
    val t51 = plan("t51_vocab_coverage")
    assert(t51.contains("TakeOrderedAndProject") && t51.contains("Broadcast"),
      "t51: vocab probe not bounded/broadcast")
    // a20: the mode election windows over the grouped rollup, and the
    // per-status totals broadcast back — the fact table never windows.
    val a20 = plan("a20_group_mode")
    assert(a20.contains("Window") && a20.contains("BroadcastHashJoin"),
      "a20: election/totals shape drifted")
    // g4: noised release is agg + map-side hash arithmetic — no joins
    // at all.
    val g4 = plan("g4_dp_release")
    assert(!g4.contains("Join"), "g4: unexpected join in noised release")
    // t52: the O(clusters) size rollup broadcasts back onto the corpus
    // frame (the d15 discipline).
    assert(plan("t52_effective_tokens").contains("BroadcastHashJoin"),
      "t52: cluster sizes not broadcast")
    // e21: the baseline joins the daily rollup to itself — no window,
    // no touch of the raw stream beyond the one rollup agg.
    assert(!plan("e21_forecast_baseline").contains("Window"),
      "e21: unexpected window in forecast baseline")
    // n29: occupancy off the written code table, per-subspace totals
    // broadcast.
    assert(plan("n29_pq_code_balance").contains("BroadcastHashJoin"),
      "n29: subspace totals not broadcast")
    // e22: pure agg chain + broadcast per-type totals — windowless.
    val e22 = plan("e22_weekday_profile")
    assert(!e22.contains("Window") && e22.contains("Broadcast"),
      "e22: expected windowless agg with broadcast totals")
    // a21: the co-movement self-join runs on the rollup; no raw-stream
    // window, no cartesian.
    val a21 = plan("a21_daily_correlation")
    assert(!a21.contains("Window") && !a21.contains("Cartesian"),
      "a21: correlation shape drifted")
    // e23: the top-200 frame arrives bounded before the 200-row rank
    // window.
    assert(plan("e23_user_zipf").contains("TakeOrderedAndProject"),
      "e23: top-200 not a bounded TakeOrdered")
    // g5: cumulative window over the O(years) rollup; total broadcasts.
    assert(plan("g5_ttl_expiry_plan").contains("Broadcast"),
      "g5: total not broadcast")
  }

  test("r13 batch: new-query plan shapes (spans, ranking eval, curation funnel)") {
    // d20: ownership election must PARTIAL-aggregate (map-side combine
    // collapses a hot boilerplate gram to ~one row per mapper) and
    // join back on gh — the skew-safe formulation; the companion
    // "never a Window over gh" pin lives in its own test below.
    val d20 = plan("d20_max_dup_spans")
    assert(d20.contains("partial_min(doc_id"),
      s"d20: gram ownership must partial-aggregate min(doc_id):\n$d20")
    // d21: the stored-index probe is a LEFT SEMI on the gram hash —
    // the batch never materializes corpus rows, only existence.
    assert(plan("d21_spans_against_index").contains("LeftSemi"),
      "d21: index probe should be a left-semi join")
    // n31: the bounded ranked pool and the O(k) weight table broadcast
    // against the corpus-sized label frame — label side never shuffles
    // into a sort-merge join. (The gate wrapper collects its 8-row
    // output, so audit the OPERATOR's plan, not the harness's.)
    val emb31 = Tables.embeddings(spark, sf)
    val ix31 = operators.Similarity.buildIvfIndex(emb31, nCells = 16)
    val n31 = operators.Similarity.retrievalRankingEval(
        ix31, emb31, queryIds = Seq(0L, 1L), k = 10)
      .queryExecution.executedPlan.toString
    ix31.unpersist()
    assert(n31.contains("Broadcast") && !n31.contains("SortMergeJoin"),
      s"n31: expected broadcast-only joins:\n$n31")
    // x9: the 1-row funnel frame broadcasts back onto the per-shard
    // manifest; the dedup election window is keyed (partitioned).
    val x9 = plan("x9_curation_manifest")
    assert(x9.contains("Broadcast"), s"x9: funnel counts not broadcast:\n$x9")
    // i1: pure mapPartitions pipeline — no exchange at all (scores are
    // per-row; any shuffle would be overhead).
    val i1 = plan("i1_batched_inference")
    assert(!i1.contains("Exchange"), s"i1: unexpected exchange:\n$i1")
    // t55: single-scan agg chain — counters are regexp length deltas,
    // no join anywhere, no window.
    val t55 = plan("t55_encoding_qc")
    assert(!t55.contains("Join") && !t55.contains("Window"),
      s"t55: expected join-free single-scan agg:\n$t55")
    // t56: same join-free single-scan shape as its QC sibling.
    val t56 = plan("t56_encoding_repair")
    assert(!t56.contains("Join") && !t56.contains("Window"),
      s"t56: expected join-free single-scan agg:\n$t56")
    // n32: the O(dims) stats frame broadcasts back onto the exploded
    // fact side — never a sort-merge exchange of the corpus.
    val n32 = plan("n32_scalar_quant")
    assert(n32.contains("BroadcastHashJoin") && !n32.contains("SortMergeJoin"),
      s"n32: expected broadcast stats join:\n$n32")
    // i2: ONE cache join feeding ONE mapPartitions pass (hits pass
    // through, misses batch) — the join must not duplicate into
    // separate hit/miss subplans.
    val i2 = plan("i2_cached_inference")
    assert(i2.contains("MapPartitions"),
      s"i2: missing the batched scoring pass:\n$i2")
    assert(i2.sliding("MapPartitions".length).count(_ == "MapPartitions") <= 2,
      s"i2: scoring pass duplicated:\n$i2")
    // n34: every per-budget retrieval broadcasts its m-query side; the
    // corpus is scanned, never shuffled into a sort-merge join.
    val n34 = plan("n34_matryoshka_recall")
    assert(n34.contains("Broadcast"), s"n34: query side not broadcast:\n$n34")
    // n35: both the shortlist gather and the query side broadcast —
    // the corpus is probed map-side in both stages, never shuffled
    // into a sort-merge join.
    val n35 = plan("n35_matryoshka_topk")
    assert(n35.contains("Broadcast") && !n35.contains("SortMergeJoin"),
      s"n35: expected broadcast-only store gather:\n$n35")
    // d23/d24: candidate generation is a key-equality join on the
    // blocking key — a nested-loop fallback here would be the n²
    // all-pairs scan the module forbids.
    for (n <- Seq("d23_record_linkage", "d24_containment")) {
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$n: blocking join degenerated to a nested loop:\n$p")
    }
    // d23: the best-match rank runs per left record, never globally.
    val d23 = plan("d23_record_linkage")
    assert("(?s).*Window \\[[^\\]]*\\], \\[doc_a[^\\]]*\\].*".r
      .findFirstIn(d23).isDefined,
      s"d23: best-match window not partitioned by doc_a:\n$d23")
    // t57: the LM total is a 1-row broadcast; the per-doc bottom-k
    // window partitions by doc_id (doc-length-bounded, never global).
    val t57 = plan("t57_mink_prob")
    assert(t57.contains("Broadcast"), s"t57: LM total not broadcast:\n$t57")
    assert("(?s).*Window \\[[^\\]]*\\], \\[doc_id[^\\]]*\\].*".r
      .findFirstIn(t57).isDefined,
      s"t57: bottom-k window not partitioned by doc_id:\n$t57")
    // a22: one rollup + one group agg — join-free by construction.
    val a22 = plan("a22_trend_regression")
    assert(!a22.contains("Join"),
      s"a22: expected join-free double aggregation:\n$a22")
  }

  test("d21: the gram-index probe prunes bucket partitions at the file index") {
    import operators.Dedup
    val path = util.TmpRoot("gramplan") + "/grams"
    Dedup.writeGramIndex(Tables.documents(spark, sf), minLen = 10, path)
    val stored = Dedup.readGramIndex(spark, path)
    val p = Dedup.dupSpansAgainstIndex(stored,
        Dedup.spanBatchOf(Tables.documents(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d21: bucket probe not pruning partitions:\n$p")
  }

  test("d32: the attributed gram probe prunes bucket partitions too") {
    import operators.Dedup
    val path = util.TmpRoot("gramflowplan") + "/grams"
    Dedup.writeGramIndex(Tables.documents(spark, sf), minLen = 10, path)
    val stored = Dedup.readGramIndex(spark, path)
    val p = Dedup.dupSpansAgainstIndexAttributed(stored,
        Dedup.spanBatchOf(Tables.documents(spark, sf)))
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d32: attributed bucket probe not pruning partitions:\n$p")
  }

  test("d25: the linkage-index probe prunes bucket partitions at the file index") {
    import operators.Dedup
    val path = util.TmpRoot("linkplan") + "/linkage"
    Dedup.writeLinkageIndex(Tables.documents(spark, sf), path)
    val stored = Dedup.readLinkageIndex(spark, path)
    val p = Dedup.linkAgainstIndex(stored,
        Dedup.linkBatchOf(Tables.documents(spark, sf)), maxDist = 20)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket.*"),
      s"d25: bucket probe not pruning partitions:\n$p")
  }

  test("gram ownership never runs a Window over the gram key") {
    // d11/d20/d20b/d22 elect the first-occurrence owner per gram. A
    // Window.partitionBy(gh) cannot partial-aggregate: every occurrence
    // of a hot gram (duplicated boilerplate — this operator's own
    // target) would sort on ONE task. The skew-safe form is
    // groupBy(gh).agg(min) + join-back (map-side partial min collapses
    // hot keys; the join is AQE-skew-splittable). Pin it: no logical
    // Window in these plans may partition on gh — only the bounded
    // per-doc islands windows (partitioned on doc_id) are allowed.
    for (name <- Seq("d11_dup_span_removal", "d20_max_dup_spans",
        "d20b_max_dup_spans_l30", "d22_span_attribution")) {
      val wins = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
      val overGram = wins.filter(_.partitionSpec.exists(
        _.references.exists(_.name == "gh")))
      assert(overGram.isEmpty,
        s"$name: gram-key Window (skew-fragile): ${overGram.mkString(";")}")
      spark.catalog.clearCache()
    }
  }

  test("corpus-sized graph outputs are executor-materialized, never a driver collect") {
    // n16/n17/n19/n24/d16/d19 return one row per corpus vector/document
    // (or per dup cluster). Their frames must arrive as lineage-cut
    // distributed RDD scans (Exec.materializedCut), NOT LocalRelations —
    // a LocalRelation in the analyzed plan means every row crossed the
    // driver, the pattern that dies first at 100x scale.
    for (name <- Seq("n16_knn_graph", "n17_mutual_knn_clusters",
        "n19_knn_label_propagation", "n24_pagerank_centrality",
        "d16_neardup_clusters", "d19_survivorship",
        "d9_semantic_dedup_apply")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val leaves = df.queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty && !leaves.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"$name: result passed through the driver (LocalRelation leaf)")
      spark.catalog.clearCache()
    }
  }

  test("materializedCut: internal-row cut preserves rows through buffering operators") {
    // Round-20 internals change: the cut wraps queryExecution.toRdd
    // (internal rows, copied per row — toRdd iterators REUSE mutable
    // row buffers) instead of the external-Row decode/encode round
    // trip. The copy contract is what this pins: feed the cut a
    // multi-partition frame with non-primitive columns, then run it
    // through operators that BUFFER rows (sort + aggregation). A
    // missing copy() surfaces as the last row of each batch repeated.
    import org.apache.spark.sql.functions._
    val src = spark.range(0, 1000, 1, 7)
      .select(col("id"), concat(lit("doc-"), col("id")).as("s"),
        (col("id") % 13).as("k"))
    val expect = src.orderBy("id").collect().toSeq
    val cut = graft.util.Exec.materializedCut(src)
    // leaf must be a distributed scan, not a LocalRelation (no driver pass)
    val leaves = cut.queryExecution.analyzed.collectLeaves()
    assert(!leaves.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "cut frame passed through the driver")
    assert(cut.schema == src.schema, "cut changed the schema")
    val got = cut.orderBy("id").collect().toSeq
    assert(got == expect, "cut rows differ after a buffering sort")
    val dist = cut.select(countDistinct("s")).head().getLong(0)
    assert(dist == 1000L, s"cut collapsed distinct values: $dist")
    spark.catalog.clearCache()
  }

  test("passage chunking compiles to a shuffle-free single-pass plan") {
    // t61 is tokenize -> explode(window starts) -> slice+hash: pure
    // map-side work whose output partitioning must follow the scan. Any
    // Exchange in this plan means an accidental shuffle of a frame that
    // is embarrassingly parallel at 100 TB.
    val p = plan("t61_passage_chunks")
    assert(!p.contains("Exchange"), "t61 plan shuffles:\n" + p)
    // executedPlan.toString renders whole-stage codegen spans as "*(n)"
    // operator prefixes, not the node name.
    assert(p.contains("*(1)"), "t61 fell out of whole-stage codegen:\n" + p)
  }

  test("distillation gather: corpus token frame probed by broadcast, never shuffled") {
    // n42/n43's feature stage joins the corpus-sized document token
    // frame against the bounded mined pair list TWICE. Both must be
    // broadcast gathers (pair list builds the hash side); a sort-merge
    // join here would shuffle the whole corpus per export at 100 TB.
    // The registered queries' own plans only show the manifest read
    // (mining runs inside the export write), so pin the stage directly.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mined = Seq((1L, 2L, 0.9, 1.1), (3L, 4L, 0.8, 1.05))
      .toDF("vec_a", "vec_b", "cos", "margin")
    val p = operators.Similarity
      .distillFeatures(Tables.documents(spark, sf), mined)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "gather joins not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "distill gather shuffles the corpus token frame")
  }

  test("d34: the verify gathers are shuffled hash joins, never sort-merge") {
    // The sf10 rehearsal's one super-linear stage was the verify
    // gather's sort-merge join externally sorting the candidate stream
    // with KB-sized token arrays attached (REHEARSAL_sf10.json:
    // 93.2 s SMJ vs 79.8 s hash at 19.3M candidates). The hints in
    // Dedup.verifyJaccard pin the token table as the hash-join BUILD
    // side; this test pins that a Spark upgrade or refactor cannot
    // silently fall back to the sorting plan.
    val p = plan("d34_prefix_jaccard_join")
    assert(p.contains("ShuffledHashJoin"),
      s"d34 verify gathers lost the shuffle_hash shape:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"d34 verify gather degraded to a sort-merge join:\n$p")
    spark.catalog.clearCache()
  }

  test("d34 winners frame reads the ids sidecar, never the token directory") {
    // The O(deliveries) contract of Dedup.prefixWinners (round 19): a
    // revert to aggregating the token directory would hold the bound
    // only by the grace of parquet column pruning — this pins the
    // sidecar as the scanned source whenever it exists.
    import org.apache.spark.sql.functions.col
    val idx = util.TmpRoot("pfxwinplan") + "/idx"
    operators.Dedup.writePrefixIndex(
      Tables.documents(spark, sf).where(col("doc_id") < 40)
        .select(col("doc_id"), col("text")), idx)
    val p = operators.Dedup.prefixWinners(spark, idx)
      .queryExecution.executedPlan.toString
    assert(p.contains("/ids"), s"winners not reading the ids sidecar:\n$p")
    assert(!p.contains("/toks"), s"winners reading the token directory:\n$p")
    spark.catalog.clearCache()
  }

  test("incremental maintainers: LWW layers + candidate-participant prune below the verify gathers (minhash/simhash/vector)") {
    // The round-19 candidate-participant prunes (and this round's LWW
    // stored-read layers) were pinned only by StreamingSpec output
    // equivalence — which stays green if a prune silently stops
    // pruning. Pin the PLAN: each maintainer's per-batch body (the
    // factored *IncrementalBatch functions the foreachBatch closures
    // call) must show (a) the layer-(b) supersession LeftAnti on the
    // stored read, and (b) a LeftSemi under the verify gather's BUILD
    // side — the prune that bounds the per-batch hash build at
    // candidate occupancy instead of the accumulated index.
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).where(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
    val vecs = Tables.embeddings(spark, sf).where(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding"))
    def storedOf(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("batch_id", lit(0L))
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
      ("minhash", {
        val sh = operators.Dedup.signatureFrame(docs)
        operators.Dedup.minhashIncrementalBatch(sh, storedOf(sh), 0.5)
      }, "sha"),
      ("simhash", {
        val sims = operators.Dedup.simhashFrame(docs)
        operators.Dedup.simhashIncrementalBatch(sims, storedOf(sims), 3)
      }, "sim_a"),
      ("vector", {
        val q = vecs.select(col("vec_id"),
          operators.Similarity.quant(col("embedding")).as("v"))
        operators.Similarity.vectorIncrementalBatch(q, storedOf(q), 0.9)
      }, "va"))
    for ((name, df, gatherCol) <- cases) {
      val lp = df.queryExecution.optimizedPlan
      assert(lp.collect { case j: Join if j.joinType == LeftAnti => j }.nonEmpty,
        s"$name: layer-(b) supersession anti-join missing from the batch plan")
      val gathers = lp.collect {
        case j: Join if j.joinType == Inner && j.output.exists(_.name == gatherCol) => j
      }
      assert(gathers.nonEmpty, s"$name: no verify gather join producing $gatherCol")
      assert(gathers.exists(_.right.collect {
          case j: Join if j.joinType == LeftSemi => j }.nonEmpty),
        s"$name: verify gather build side lost the candidate-participant semi-join prune")
      spark.catalog.clearCache()
    }
  }
}
