package graft

import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan guardrails over the whole query inventory: the 100 TB
  * posture is enforced structurally, not by hoping. Every query's executed
  * plan is checked for scale anti-patterns. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // queries where a BroadcastNestedLoopJoin is the intended plan: a tiny
  // broadcast side probed with a non-equi predicate (range membership,
  // query batches). Everything else must hash/sort-merge join.
  private val bnljAllowed = Set(
    "e1_knn_cosine",       // broadcast query batch, cross score
    "e3_pq_ann",           // broadcast per-query LUTs, ADC code scan
    "e2_ivf_ann",          // broadcast centroids + query batch
    "d6_cosine_dedup",     // broadcast centroid assignment before cell-blocked pairs
    "a10_hist_percentiles", // crossJoin of 5 quantile constants with tiny hist
    "w1_pr_curve",          // single global window over small sweep
    "x7_mix_sample",        // crossJoin of the 1-row max(n_docs) aggregate
    "x12_tfidf_topk",       // crossJoin of the 1-row corpus-count aggregate
    "x20_atrest_tfidf",     // same shape: 1-row recorded-n_docs crossJoin
    "rg2_mrd_tf")           // crossJoin of the 1-row denom_ratio aggregate
  // NOTE on the sanctioned global windows (a10, exact w1): they run over
  // tiny AGGREGATES (<= ~10^4 rows), never the fact table; the 100x-rated
  // forms are prCurveScalable / prCurveBucketed (w1_pr_curve_bucketed),
  // which this suite gates below ("scalable rankers stay UDF-free").

  test("no query plans an unbroadcast cartesian product") {
    // the at-rest BUILD pipelines execute as side effects inside their
    // query closures (the returned frame is only the store summary), so
    // their plans are gated here explicitly via AtRest.buildPlans
    val plans: Map[String, String] =
      (SparkEntry.queries.map { case (name, fn) =>
        name -> fn(spark, sfDir)
      } ++ graft.queries.AtRest.buildPlans(spark, sfDir))
        .map { case (name, df) =>
          name -> df.queryExecution.executedPlan.toString
        }
    val cartesian = plans.filter(_._2.contains("CartesianProduct")).keys.toSeq
    assert(cartesian.isEmpty, s"CartesianProduct in: $cartesian")
    val stray = plans.filter { case (name, p) =>
      p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
    }.keys.toSeq
    assert(stray.isEmpty, s"unexpected BroadcastNestedLoopJoin in: $stray")
  }

  test("point-in-region plans as a broadcast HASH join on the point's bin") {
    // j9 used to be the one declared query carrying a BroadcastNestedLoop-
    // Join (O(points × regions) at scale); the binned rewrite must keep it
    // a hash equi-join with the boundary predicate as a residual condition.
    val p = SparkEntry.queries("j9_point_in_region")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), "j9 must not nested-loop")
    assert(p.contains("BroadcastHashJoin"), "j9 pairs on the bin hash key")
  }

  test("two-phase rankers carry no Scala UDF (native graft_bucket + literal offsets)") {
    // prCurveScalable/everyKthScalable used 4 per-row Scala UDFs for the
    // bucket tag and the offset lookups — serialization boundaries in the
    // hottest per-row stage. The native BucketBin expression + element_at
    // literal arrays must keep the whole stage in codegen.
    for (q <- Seq("w1_pr_curve", "m3_pr_noise_floor", "w7_downsample",
                  "o5_stratified_sample")) {
      val p = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("UDF"), s"$q plan still carries a Scala UDF")
    }
  }

  test("w7 ranks via packed-key selection: MapPartitions emission, no window") {
    // round 14: the rank pass is a (cell, packed-long) shuffle + per-cell
    // primitive sort + direct k-th emission — the plan must show the
    // typed MapPartitions stage and no WindowExec (the window survives
    // only as the null-key / oversized-cell fallback, which lineitem's
    // unique non-null keys never take)
    val p = SparkEntry.queries("w7_downsample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("MapPartitions"), "w7 lost the packed selection stage")
    assert(!p.contains("Window"), "w7 regressed to the windowed rank pass")
  }

  test("o5 stratified sample ranks via the partial top-k aggregate, no window sort") {
    // round 13: row_number <= k over a 3-value group key rode
    // WindowGroupLimit, whose Partial mode still SORTS every input
    // partition; the TopKBySim aggregate keeps a bounded heap map-side —
    // the plan must show the partial+final ObjectHashAggregate pair and
    // no window machinery at all
    val p = SparkEntry.queries("o5_stratified_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), "o5 lost the top-k aggregate")
    assert(!p.contains("WindowGroupLimit") && !p.contains("RunningWindowFunction"),
      "o5 regressed to a window rank")
  }

  test("d3/d4/x17/x21 run the band automaton under MapGroups, never a bare repartition") {
    // the r11 scale path: pairs are generated AND scored inside a
    // (bid, key)-grouped streaming iterator; a silent regression to the
    // double-join form (pair rows re-joined against per-doc arrays/
    // signatures) would re-introduce the pairs x payload shuffle term.
    // Round 14: the automaton must sit under MapGroups
    // (flatMapSortedGroups — DECLARED clustering+ordering the engine has
    // to preserve), not a manual repartition+sort+MapPartitions: Catalyst
    // reused that user exchange as an adjacent join's input and AQE's
    // runtime join rewrites voided band co-location — a real 2.96M-vs-
    // 4.47M pair miscount at the 100x replica (BandPairIterator contract).
    // r17: the old assert here was a substring co-occurrence heuristic
    // (`doc_a#` + `sortmergejoin` anywhere in the plan) that fired falsely
    // on r16's merge-hinted INPUT joins — the contract is structural: no
    // Join operator may be KEYED on the pair columns. Pair columns appear
    // legitimately in Project/HashAggregate/Exchange lines; a regression
    // would put them in a `...Join [doc_a#...` line.
    // d3/d4 scan the at-rest pair-score table; their shared automaton runs
    // in that table's build, gated here through AtRest.buildPlans.
    val pairJoin = "(?m)^.*Join.*doc_[ab]#".r
    val pairBuild = "d3_build_pair_scores"
    val plans = Seq(pairBuild ->
        graft.queries.AtRest.buildPlans(spark, sfDir)(pairBuild)) ++
      Seq("x17_incremental_dedup", "x21_atrest_pairs")
        .map(q => q -> SparkEntry.queries(q)(spark, sfDir))
    for ((q, df) <- plans) {
      // execute so AQE finalizes — join-type pins on an initial plan are
      // vacuous (memory 9g); the final plan is where a runtime broadcast
      // demotion/promotion would show
      df.queryExecution.toRdd.count(): Unit
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("MapGroups"), s"$q lost the grouped band automaton")
      pairJoin.findFirstIn(p).foreach { line =>
        fail(s"$q re-joins pair rows — a Join is keyed on doc_a/doc_b: $line")
      }
      // any broadcast join in a band plan must be a SEMI join (x17's
      // batch-proportional touched-bands prefilter) — an INNER
      // BroadcastHashJoin here means Catalyst built a corpus-sized hashed
      // relation on the driver (the r16 D3StoreProbe scale-killer: parquet
      // static stats under-estimate the exploded band stream)
      "(?m)^.*BroadcastHashJoin.*$".r.findAllIn(p).foreach { line =>
        assert(line.contains("LeftSemi"),
          s"$q plans a non-semi broadcast join (corpus-sized build side): $line")
      }
      // r15: the band key is the two source mh longs (bid, k1, k2) —
      // a concat_ws key would put a 25-45B variable-width string back on
      // the d-family's biggest exchange
      assert(!p.contains("concat_ws"),
        s"$q regressed to the string band key")
      // positive pin for the r16 merge hints (d3/d4 only — x17/x21 have
      // no corpus-sized join-back): the two hinted join-backs (bands↔multi
      // on the band key, banded↔shingles on doc_id) must stay shuffle
      // merge joins whatever the signature input's stats source — if
      // either line disappears the hint silently reverted
      if (q == pairBuild) {
        assert("SortMergeJoin \\[bid#".r.findFirstIn(p).isDefined,
          s"$q lost the merge-hinted band-key join-back")
        assert("SortMergeJoin \\[doc_id#".r.findFirstIn(p).isDefined,
          s"$q lost the merge-hinted shingle join-back")
      }
    }
  }

  test("manual-exchange automatons (w2/w3/w7) own their exchange exclusively") {
    // These three keep the repartition+sortWithinPartitions+mapPartitions
    // form because their exchange feeds the map stage DIRECTLY — the r14
    // band-automaton miscount needed a JOIN between the user exchange and
    // the map stage (Catalyst reused the exchange as the join's input and
    // AQE's runtime join rewrites voided key co-location). That safety
    // argument used to live in a comment; this gate makes it structural:
    // the moment a future commit interposes ANY join on these plans — or
    // the planner shares the exchange (ReusedExchange) — the suite fails.
    for (q <- Seq("w2_block_compress", "w2_sessionize",
                  "w3_overlap_suppress", "w7_downsample")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      // EXECUTE first: under AQE the un-executed AdaptiveSparkPlan prints
      // only the initial plan (isFinalPlan=false) — exchange reuse only
      // materializes in the finalized runtime plan, so an unexecuted
      // ReusedExchange assert could never fire (r15 review catch)
      df.queryExecution.toRdd.count(): Unit
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("isFinalPlan=false"),
        s"$q: plan was not finalized — the reuse gate below would be vacuous")
      assert(!p.contains("Join"),
        s"$q: a join entered a manual-exchange automaton plan — the " +
          s"exchange-reuse hazard is live; migrate to flatMapSortedGroups:\n${p.take(1200)}")
      assert(!p.contains("ReusedExchange") && !p.contains("ReusedQueryStage"),
        s"$q: the automaton's exchange is shared with another consumer:\n${p.take(1200)}")
    }
  }

  test("j13 salted skew join shuffles on (key, salt), not broadcast") {
    val p = SparkEntry.queries("j13_skew_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("_salt"), "salt column participates in the join keys")
    assert(p.contains("ShuffledHashJoin"),
      s"salted join must shuffle (broadcast would bypass the salt): $p")
    assert(!p.contains("BroadcastHashJoin"), "no broadcast on the salted path")
  }

  test("interval overlap joins compile to hash joins on (chrom, bin)") {
    val p = SparkEntry.queries("j5_interval_overlap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "binned interval join must be an equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("interval anti-join plans as key-level left_anti, not exceptAll") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = Tables.orders(spark, sfDir)
      .select(lit("1").as("chrom"), col("o_orderkey").as("start"),
        (col("o_orderkey") + 10).as("end"), col("o_totalprice"))
    val b = Seq(("1", 100L, 200L)).toDF("chrom", "bstart", "bend")
    val p = graft.operators.Intervals.antiJoin(a, b, broadcastB = true)
      .queryExecution.executedPlan.toString
    // exceptAll would show as a left-anti join over EVERY column with a
    // row-count aggregate; the key-level form is a single-key anti join
    assert(!p.contains("Except"), "no Except/ExceptAll machinery")
    assert(p.contains("LeftAnti"), "anti join on the content-hash key")
    assert(p.contains("BroadcastHashJoin"), "semi stage broadcasts the b side")
  }

  test("no Filter node inlines the token-hash pipeline (inferred pre-Generate filter)") {
    // plain `explode` over a computed shingle array lets Catalyst infer
    // `size(arr)>0 AND isnotnull(arr)` BELOW the Generate, inlining the md5
    // token-hash transform into an interpreted (no-CSE) filter condition —
    // O(tokens²) hashing per document. The curation queries explode via
    // explode_outer + post-filter precisely to keep hashing out of Filters.
    for (q <- Seq("d8_ngram_hotspots", "x6_decontaminate",
                  "x8_boiler_fraction", "x9_chunk_pack")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val bad = plan.linesIterator
        .filter(l => l.contains("Filter"))
        .filter(l => l.contains("graft_hash32") || l.contains("md5"))
        .toSeq
      assert(bad.isEmpty, s"$q has a Filter inlining the hash pipeline:\n${bad.mkString("\n")}")
    }
  }

  test("x14 is a single map-only codegen stage (native repstats, zero exchanges)") {
    // per-doc repetition stats must never regress to a gram shuffle or an
    // interpreted HOF chain: the plan is scan -> project with ONE
    // graft_repstats call and no Exchange anywhere
    val plan = SparkEntry.queries("x14_repetition")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_repstats"),
      s"x14 must use the native RepetitionStats expression:\n${plan.take(800)}")
    assert(!plan.contains("Exchange"),
      s"x14 must stay map-only (no shuffle):\n${plan.take(800)}")
    assert(!plan.contains("aggregate("),
      s"x14 must not fall back to interpreted HOF folds:\n${plan.take(800)}")
  }

  test("e2/e4 read the at-rest ANN index, not a fresh assignment") {
    // the at-rest index is what keeps assignment/encode from re-running
    // per query — a silent regression back to per-query recompute would
    // pass every oracle, so gate the plan's inputs instead: the index
    // tables are scanned, and the raw embeddings table is not
    val ann = graft.queries.AtRest.resolve(spark, sfDir, "embeddings").ann
    for (q <- Seq("e2_ivf_ann", "e4_ivf_pq")) {
      val files = SparkEntry.queries(q)(spark, sfDir).inputFiles.toSeq
      assert(files.exists(_.contains(s"$ann/")),
        s"$q must scan the at-rest index, not rebuild it: $files")
      assert(!files.exists(_.contains("embeddings.parquet")),
        s"$q re-reads the raw embeddings: $files")
    }
  }

  test("the unpartitioned windows are exactly the pinned set") {
    // a WindowExec with no PARTITION BY runs in ONE task over its whole
    // input; the session mutes Spark's per-run warning about it, so this
    // list is where a new one must be declared (and justified) instead.
    // Each runs over a bounded input: a10's coverage histogram, the
    // <= 1000-row bucket table (w1_pr_curve_bucketed), or the exact P/R
    // arm prCurveAuto takes only below PR_EXACT_MAX rows (w1, m3).
    val pinned = Set("a10_hist_percentiles", "m3_pr_noise_floor", "w1_pr_curve",
      "w1_pr_curve_bucketed")
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = p.collectWithSubqueries {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
    }.flatten
    val found = SparkEntry.queries.collect {
      case (name, fn) if windows(fn(spark, sfDir).queryExecution.executedPlan)
          .exists(_.partitionSpec.isEmpty) => name
    }.toSet
    assert(found == pinned,
      s"new: ${(found -- pinned).toSeq.sorted}; gone: ${(pinned -- found).toSeq.sorted}")
  }

  test("fact-table scans prune columns (no full-width reads)") {
    val q = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
      .filter(org.apache.spark.sql.functions.col("l_quantity") > 45)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("l_orderkey") && !scan.contains("l_comment"),
      "projection must reach the parquet scan")
  }
}
