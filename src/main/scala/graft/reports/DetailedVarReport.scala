package graft.reports

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Detailed variant report (`detailedVarReport.v0.ipynb`): one wide
  * performance table over Region x Variant-category x Stratum, with BOTH
  * the as-called ("static") precision/recall/F1 and the re-optimized
  * ("opt") operating point per cell — the table the notebook renders as
  * its colored matplotlib grids.
  *
  * The pandas original loops ~1500 strata, filtering and SORTING the whole
  * frame per stratum (O(S·n log n), one process). The Spark form tags each
  * row with every stratum it belongs to (a literal-array explode — each
  * row lands in at most |regions|·|varcats|·6 strata), then computes:
  *   - static counts: ONE hash aggregation over the stratum key;
  *   - optimized F1: ONE window pass per stratum key ordered by
  *     tree_score — the cumulative-confusion sweep of W1's P/R curve,
  *     grouped. Total: one Exchange on the stratum key for the agg + one
  *     for the window sort; no per-stratum jobs, no driver loop. At 100 TB
  *     the explode multiplies rows by ~tens — still linear, shuffled once,
  *     and AQE-splittable; the pandas shape simply does not run there.
  *
  * Classification (notebook cell 2): label = 0 iff classify_gt == 'fp';
  * filter forced to 'MISS' for classify_gt == 'fn'; class = TP if label=1
  * and PASS, FN if label=1 non-PASS, TN if label=0 non-PASS, FP otherwise.
  * Static stats (cell 4 `calcPerformanceStatic`): recall = tp/(tp+fn),
  * precision = tp/(tp+fp), max_recall = 1 - #MISS/#pos,
  * f1 = tp/(tp + (fn+fp)/2) — all null when the stratum has no positives.
  * Optimized (cell 4 `calcPerformanceOptimized`): ascending tree_score
  * sweep, fn = running #pos dropped (inclusive), tp = pos - fn,
  * fp = neg - running #neg dropped; feasible rows need tp+fn >= 1,
  * tp+fp >= 1, tree_score >= 0; report the FIRST (lowest-score) row
  * attaining the stratum's max F1.
  *
  * Variant categories replicate the notebook's cell-3 predicates exactly,
  * including its quirks ('hmer 0-1' is hmer_indel_length == 0 AND
  * indel_length <= 1; 'hmer 2-4' starts at hmer > 0, so it actually
  * admits hmer 1; 'non-hmer' requires indel_length > 1).
  *
  * Reference: ugvc/reports/detailedVarReport.v0.ipynb cells 2-7. */
object DetailedVarReport {

  /** The notebook's `varCats` (cell 6). */
  val VariantCategories: Seq[String] = Seq(
    "All", "SNP", "Indel", "non-hmer", "hmer 0-1", "hmer 2-4",
    "hmer 5-8", "hmer 9-10", "hmer 11+")

  private def varCatPredicate(cat: String): Column = cat match {
    case "All"       => lit(true)
    case "SNP"       => !col("indel")
    case "Indel"     => col("indel")
    case "non-hmer"  => col("indel") && col("hmer_indel_length") === 0 &&
      col("indel_length") > 1
    case "hmer 0-1"  => col("indel") && col("hmer_indel_length") === 0 &&
      col("indel_length") <= 1
    case "hmer 2-4"  => col("indel") && col("hmer_indel_length") > 0 &&
      col("hmer_indel_length") <= 4
    case "hmer 5-8"  => col("indel") && col("hmer_indel_length") > 4 &&
      col("hmer_indel_length") <= 8
    case "hmer 9-10" => col("indel") && col("hmer_indel_length") > 8 &&
      col("hmer_indel_length") <= 10
    case "hmer 11+"  => col("indel") && col("hmer_indel_length") > 10
  }

  /** The notebook's per-stratum Category axis (cell 6): All, GC and
    * coverage ranges, and the three boolean region splits. */
  private def categoryTags: Column = {
    def rangeTag(c: Column, lo: Double, hi: Double, label: String): Column =
      when(c >= lo && c < hi, lit(label))
    array(
      lit("All"),
      rangeTag(col("gc_content"), 0, 0.2, "GC 0-20"),
      rangeTag(col("gc_content"), 0.2, 0.8, "GC 20-80"),
      rangeTag(col("gc_content"), 0.8, 1.0, "GC 80-100"),
      rangeTag(col("coverage"), 0, 20, "CVG 0-20"),
      rangeTag(col("coverage"), 20, 40, "CVG 20-40"),
      rangeTag(col("coverage"), 40, 100, "CVG 40-100"),
      when(col("lcr"), lit("LCR")).otherwise(lit("Non-LCR")),
      when(col("mappability"), lit("Mappable")).otherwise(lit("Non-Mappable")),
      when(col("ug_hcr"), lit("UG high confidence"))
        .otherwise(lit("UG low confidence")))
  }

  /** Classified frame (notebook cell 2): adds label / filter-with-MISS /
    * class. Also applies the notebook's load-time coercion (cell 1):
    * `tree_score = np.where(classify_gt=='fn', -1, tree_score)` — FN rows
    * (ground-truth calls the caller missed entirely) carry no meaningful
    * score, so they are pinned to -1, which (a) sorts them to the front of
    * the optimized sweep so every operating point counts them as missed,
    * and (b) keeps them out of the feasibility mask (tree_score >= 0) so
    * an FN row can never be CHOSEN as the operating point. The resulting
    * exact -1.0 ties are harmless: tied rows are all masked out, and the
    * cumulative sums seen by any row at score >= 0 include the whole tie
    * group regardless of intra-tie order. */
  def classify(data: DataFrame): DataFrame =
    data
      .withColumn("tree_score",
        when(col("classify_gt") === "fn", lit(-1.0)).otherwise(col("tree_score")))
      .withColumn("label", when(col("classify_gt") === "fp", 0).otherwise(1))
      .withColumn("filter",
        when(col("classify_gt") === "fn", lit("MISS")).otherwise(col("filter")))
      .withColumn("class",
        when(col("label") === 1 && col("filter") === "PASS", "TP")
          .when(col("label") === 1, "FN")
          .when(col("filter") =!= "PASS", "TN")
          .otherwise("FP"))

  /** The full detailed performance table. `regions` follows the
    * notebook's config list: (label, membership column), e.g.
    * `Seq("Exome" -> col("exome_twist"))`; "All" is always included.
    * Only non-empty strata appear (the pandas loop also emits all-NaN
    * rows for empty combinations — dropped here as noise).
    *
    * PRECONDITION (ADVICE r17): the best-operating-point selection is a
    * `max_by` over (of1, -tree_score), which is only deterministic when
    * `tree_score` is unique per row within a stratum — the jitter contract
    * ReportGrid's synthetic source enforces. A caller feeding data with
    * exact (of1, tree_score) ties gets an arbitrary winner with no runtime
    * signal (the pre-r17 window form was equally tie-order-dependent);
    * jitter ties before calling. */
  def detailedVars(data: DataFrame, regions: Seq[(String, Column)]): DataFrame = {
    // the static aggregate and the optimized sweep are two independent
    // consumers of the tagged rows; without a checkpoint each re-runs the
    // full source scan + classification. The classified frame (pre-
    // explode, so row count = input count, narrow columns) is the cheap
    // thing to keep — the tag explode re-runs from it, map-only. An eager
    // local checkpoint holds no CacheManager entry, and Spark's
    // ContextCleaner frees its blocks once the result is unreachable;
    // MEMORY_AND_DISK spills, not recomputes.
    val classified = classify(data)
      .localCheckpoint(eager = true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val regionTags = array(
      lit("All") +: regions.map { case (label, c) => when(c, lit(label)) }: _*)
    val varTags = array(VariantCategories.map(c =>
      when(varCatPredicate(c), lit(c))): _*)
    // one row per (row, region, varcat, category) membership
    val tagged = classified
      .select(col("label"), col("filter"), col("class"), col("tree_score"),
        col("coverage"), col("gc_content"),
        explode(regionTags).as("region"), varTags.as("_vt"), categoryTags.as("_ct"))
      .filter(col("region").isNotNull)
      .select(col("*"), explode(col("_vt")).as("variant"))
      .filter(col("variant").isNotNull)
      .select(col("label"), col("filter"), col("class"), col("tree_score"),
        col("coverage"), col("gc_content"), col("region"), col("variant"),
        explode(col("_ct")).as("category"))
      .filter(col("category").isNotNull)

    val key = Seq("region", "variant", "category")

    // ---- static stats: one hash aggregation
    val stat = tagged.groupBy(key.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum("label").as("n_pos"),
      sum(when(col("class") === "TP", 1).otherwise(0)).as("tp"),
      sum(when(col("class") === "FP", 1).otherwise(0)).as("fp"),
      sum(when(col("class") === "FN", 1).otherwise(0)).as("fn"),
      sum(when(col("filter") === "MISS", 1).otherwise(0)).as("n_miss"),
      avg("coverage").as("avg_cvg"),
      avg("gc_content").as("avg_gc"))
      .withColumn("n_neg", col("n") - col("n_pos"))
      .withColumn("has_stats", col("n") > 0 && col("n_pos") > 0)
      .withColumn("max_recall",
        when(col("has_stats"), lit(1.0) - col("n_miss") / col("n_pos")))
      .withColumn("recall_stat",
        when(col("has_stats") && col("tp") + col("fn") > 0,
          col("tp") / (col("tp") + col("fn"))))
      .withColumn("precision_stat",
        when(col("has_stats") && col("tp") + col("fp") > 0,
          col("tp") / (col("tp") + col("fp"))))
      .withColumn("f1_stat",
        when(col("has_stats"),
          col("tp") / (col("tp") + lit(0.5) * col("fn") + lit(0.5) * col("fp"))))

    // ---- optimized stats: cumulative confusion sweep per stratum
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("tree_score").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(key.map(col): _*)
    val swept = tagged
      .withColumn("cfn", sum("label").over(w))
      .withColumn("cneg", sum(lit(1) - col("label")).over(w))
      .withColumn("pos", sum("label").over(wAll))
      .withColumn("neg", sum(lit(1) - col("label")).over(wAll))
      .withColumn("otp", col("pos") - col("cfn"))
      .withColumn("ofp", col("neg") - col("cneg"))
      .filter(col("otp") + col("cfn") >= 1 && col("otp") + col("ofp") >= 1 &&
        col("tree_score") >= 0)
      .withColumn("of1",
        col("otp") / (col("otp") + lit(0.5) * col("cfn") + lit(0.5) * col("ofp")))
      .withColumn("orecall", col("otp") / (col("otp") + col("cfn")))
      .withColumn("oprecision", col("otp") / (col("otp") + col("ofp")))
    // first (lowest tree_score) row attaining the stratum max F1 — as a
    // max_by AGGREGATE on the lexicographic key (of1, -tree_score), not a
    // row_number window (r17, optimization guide §2.3 "aggregate before
    // you shuffle"): the window form re-SORTED every swept row per
    // stratum just to keep rank 1, where the aggregate keeps one row per
    // stratum map-side and reuses the sweep's existing hash partitioning
    // (plan: Sort+Window+Filter → HashAggregate, zero new exchanges).
    // Selection is identical: tree_score is per-row unique (the callers'
    // jitter contract), so (of1 DESC, tree_score ASC) is a total order
    // and max_by's winner is exactly the old rank-1 row.
    val opt = swept
      .groupBy(key.map(col): _*)
      .agg(max_by(
        struct(col("orecall"), col("oprecision"), col("of1")),
        struct(col("of1"), (-col("tree_score")).as("_nts"))).as("_best"))
      .select(col("region"), col("variant"), col("category"),
        col("_best.orecall").as("recall_opt"),
        col("_best.oprecision").as("precision_opt"),
        col("_best.of1").as("f1_opt"))

    stat.join(opt, key, "left")
      .select(col("region"), col("variant"), col("category"),
        col("n_pos").as("num_pos"), col("n_neg").as("num_neg"),
        // the notebook reports NaN counts (not zeros) for strata with no
        // positives — mirror that exactly
        when(col("has_stats"), col("tp")).as("tp"),
        when(col("has_stats"), col("fp")).as("fp"),
        when(col("has_stats"), col("fn")).as("fn"),
        col("max_recall"), col("recall_stat"), col("precision_stat"),
        col("f1_stat"), col("recall_opt"), col("precision_opt"), col("f1_opt"),
        col("avg_cvg"), col("avg_gc"))
  }

  def tables(data: DataFrame, regions: Seq[(String, Column)]): Map[String, DataFrame] =
    Map("detailed_vars" -> detailedVars(data, regions))
}
