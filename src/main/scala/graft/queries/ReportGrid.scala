package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.reports.DetailedVarReport

/** Oracle gate for the detailed variant report grid (§3.3,
  * detailedVarReport.v0.ipynb): a concordance-shaped frame is derived
  * DETERMINISTICALLY from `lineitem`, and the full stratified
  * static + re-optimized P/R/F1 computation runs through
  * [[DetailedVarReport.detailedVars]], replayed move-for-move in DuckDB
  * (classification, the three tag explosions, one grouped aggregate, the
  * cumulative-confusion sweep with its feasibility mask, and the
  * first-row-at-max-F1 selection). This promotes the report layer's
  * flagship table from spec-gated to driver-oracle-gated.
  *
  * tree_score gets a per-row unique 1e-12-scale jitter
  * ((l_orderkey*8 + l_linenumber)·1e-12, exact in doubles on both
  * engines): with exact score ties the notebook's per-row sweep is
  * intra-tie-order-dependent, so uniqueness is what makes the grid
  * well-defined (same reasoning as the spec's jitter). The one sanctioned
  * tie is the notebook's own load-time FN coercion (classify handles it;
  * its replica lives in the cls CTE below): all fn rows score exactly
  * -1.0, but every -1.0 row is excluded by the tree_score >= 0 mask, so
  * no emitted operating point depends on intra-tie order.
  * The ~0.25% sample keys on (7·l_orderkey + l_partkey) mod 401 — a
  * prime modulus coprime to every stratum-defining modulus, so the sample
  * constrains NO stratum flag (an l_orderkey % N sample would freeze the
  * exome flag) while keeping the ~20-strata/row tag explosion bounded at
  * any replica scale. */
object ReportGrid {
  type Q = (SparkSession, String) => DataFrame

  private def source(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter((col("l_orderkey") * 7 + col("l_partkey")) % 401 === 0)
      .select(
        when(col("l_linenumber") % 3 === 0, "tp")
          .when(col("l_linenumber") % 3 === 1, "fp")
          .otherwise("fn").as("classify_gt"),
        when(col("l_quantity").cast("long") % 2 === 0, "PASS")
          .otherwise("LOW").as("filter"),
        ((col("l_discount") - 0.02) +
          (col("l_orderkey") * 8 + col("l_linenumber")) * 1e-12).as("tree_score"),
        (col("l_returnflag") === "R").as("indel"),
        (col("l_linenumber") % 4).as("indel_length"),
        (col("l_suppkey") % 13).as("hmer_indel_length"),
        (col("l_discount") * 10).as("gc_content"),
        col("l_quantity").as("coverage"),
        (col("l_partkey") % 2 === 0).as("lcr"),
        (col("l_partkey") % 3 === 0).as("mappability"),
        (col("l_partkey") % 5 === 0).as("ug_hcr"),
        (col("l_orderkey") % 100 === 0).as("exome"))

  // ---- rg2: MRD tumor fraction over frames derived from supplier /
  // lineitem / orders — gates the broadcast locus semi-join, the
  // per-signature rollup, ceil(coverage x denom_ratio) and the 1e-7 floor
  private def mrdSignatures(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(
      concat(lit("c"), (col("s_suppkey") % 5).cast("string")).as("chrom"),
      col("s_suppkey").as("pos"),
      concat(lit("S"), (col("s_suppkey") % 3).cast("string")).as("signature"),
      when(col("s_suppkey") % 3 === 0, "matched").otherwise("control")
        .as("signature_type"),
      (col("s_suppkey") % 70 + 10).as("coverage"))

  private def mrdFeatures(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      concat(lit("c"), (col("l_suppkey") % 5).cast("string")).as("chrom"),
      col("l_suppkey").as("pos"),
      concat(lit("S"), (col("l_suppkey") % 3).cast("string")).as("signature"),
      when(col("l_suppkey") % 3 === 0, "matched").otherwise("control")
        .as("signature_type"),
      col("l_quantity").as("qual"))

  private def mrdLabeled(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      (col("o_orderkey") % 3 === 0).as("label"),
      (col("o_totalprice") % 100).as("qual"))

  // ---- rg3: the joint-calling VariantEval pivot over three long frames
  // aggregated from lineitem (annotation = l_linestatus, novelty =
  // l_returnflag mapped A->all / N->novel / R->known)
  private def jcNovelty =
    when(col("l_returnflag") === "A", "all")
      .when(col("l_returnflag") === "N", "novel").otherwise("known")

  /** ONE aggregate scan carrying all seven metrics, then sliced into the
    * three GATK-shaped input frames — three separate derivations would
    * each rescan lineitem for the same group keys. Checkpointed (6 rows):
    * each slice prunes the aggregate to its own columns, so the three
    * plans differ and Spark cannot share one exchange between them. */
  private def jcAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus").as("JexlExpression"), jcNovelty.as("Novelty"))
      .agg(count(lit(1)).as("nSNPs"),
        sum(col("l_quantity").cast("long")).as("nIndels"),
        avg("l_discount").as("TiTvRatio"),
        avg("l_tax").as("insertion_to_deletion_ratio"),
        min("l_partkey").as("n_singleton_SNPs"),
        max("l_suppkey").as("n_singleton_indels"),
        avg("l_discount").as("variantMultiSnpRatio"),
        avg("l_tax").as("variantMultiIndelRatio"))
      .localCheckpoint()

  private def jcVs(agg: DataFrame): DataFrame =
    agg.select("JexlExpression", "Novelty", "nSNPs", "nIndels", "TiTvRatio")

  private def jcIs(agg: DataFrame): DataFrame =
    agg.select("JexlExpression", "Novelty", "insertion_to_deletion_ratio",
      "n_singleton_SNPs", "n_singleton_indels")

  private def jcMs(agg: DataFrame): DataFrame =
    agg.select("JexlExpression", "Novelty", "variantMultiSnpRatio",
      "variantMultiIndelRatio")

  val queries: Map[String, Q] = Map(
    "rg1_detailed_grid" -> { (s, d) =>
      DetailedVarReport.detailedVars(source(s, d), Seq("Exome" -> col("exome")))
    },
    "rg2_mrd_tf" -> { (s, d) =>
      graft.reports.MrdReport.tumorFraction(
        mrdFeatures(s, d).filter(col("qual") >= 25),
        mrdSignatures(s, d),
        graft.reports.MrdReport.denomRatioFrame(mrdLabeled(s, d), col("qual") >= 25))
    },
    "rg3_jc_stats" -> { (s, d) =>
      val agg = jcAgg(s, d)
      graft.reports.JointCallingReport.variantStatistics(
        jcIs(agg), jcVs(agg), jcMs(agg))
    })

  val oracles: Map[String, String] = Map(
    "rg2_mrd_tf" ->
      """WITH sig AS (
           SELECT 'c' || CAST(s_suppkey % 5 AS VARCHAR) AS chrom,
                  s_suppkey AS pos,
                  'S' || CAST(s_suppkey % 3 AS VARCHAR) AS signature,
                  CASE WHEN s_suppkey % 3 = 0 THEN 'matched' ELSE 'control' END AS signature_type,
                  s_suppkey % 70 + 10 AS coverage
           FROM supplier),
         feat AS (
           SELECT 'c' || CAST(l_suppkey % 5 AS VARCHAR) AS chrom,
                  l_suppkey AS pos,
                  'S' || CAST(l_suppkey % 3 AS VARCHAR) AS signature,
                  CASE WHEN l_suppkey % 3 = 0 THEN 'matched' ELSE 'control' END AS signature_type
           FROM lineitem WHERE l_quantity >= 25),
         dn AS (
           SELECT AVG(CASE WHEN (o_totalprice % 100) >= 25 THEN 1.0 ELSE 0.0 END) AS r
           FROM orders WHERE o_orderkey % 3 = 0),
         panel AS (
           SELECT signature_type, signature,
                  CAST(SUM(coverage) AS BIGINT) AS coverage
           FROM sig GROUP BY 1, 2),
         loci AS (SELECT DISTINCT chrom, pos FROM sig),
         sup AS (
           SELECT f.signature_type, f.signature, count(*) AS supporting_reads
           FROM feat f JOIN loci USING (chrom, pos) GROUP BY 1, 2),
         tf0 AS (
           SELECT p.signature_type, p.signature,
                  COALESCE(s.supporting_reads, 0) AS supporting_reads,
                  p.coverage,
                  CAST(ceil(p.coverage * dn.r) AS BIGINT) AS corrected_coverage
           FROM panel p LEFT JOIN sup s USING (signature_type, signature)
           CROSS JOIN dn)
         SELECT signature_type, signature, supporting_reads, coverage,
                corrected_coverage,
                CASE WHEN (CASE WHEN corrected_coverage > 0
                           THEN supporting_reads * 1.0 / corrected_coverage
                           ELSE 0.0 END) = 0.0 THEN 0.0000001
                     ELSE supporting_reads * 1.0 / corrected_coverage END AS tf
         FROM tf0""",
    "rg3_jc_stats" ->
      """WITH nv AS (
           SELECT l_linestatus AS annotation,
                  CASE WHEN l_returnflag = 'A' THEN 'all'
                       WHEN l_returnflag = 'N' THEN 'novel'
                       ELSE 'known' END AS novelty,
                  l_quantity, l_discount, l_tax, l_partkey, l_suppkey
           FROM lineitem),
         vs AS (
           SELECT annotation, novelty, count(*) AS n_snps,
                  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS n_indels,
                  AVG(l_discount) AS titv_ratio
           FROM nv GROUP BY 1, 2),
         isx AS (
           SELECT annotation, novelty,
                  AVG(l_tax) AS insertion_deletion_ratio,
                  MIN(l_partkey) AS n_singleton_snps,
                  MAX(l_suppkey) AS n_singleton_indels
           FROM nv GROUP BY 1, 2),
         ms AS (
           SELECT annotation, novelty,
                  AVG(l_discount) AS multiallelic_snp_ratio,
                  AVG(l_tax) AS multiallelic_indel_ratio
           FROM nv GROUP BY 1, 2),
         db AS (
           SELECT annotation,
             MAX(CASE WHEN novelty = 'known' THEN n_snps END) * 1.0 /
               NULLIF(MAX(CASE WHEN novelty = 'all' THEN n_snps END), 0) AS dbr_s,
             MAX(CASE WHEN novelty = 'known' THEN n_indels END) * 1.0 /
               NULLIF(MAX(CASE WHEN novelty = 'all' THEN n_indels END), 0) AS dbr_i
           FROM vs GROUP BY 1)
         SELECT vs.annotation, vs.novelty, vs.n_snps, vs.n_indels,
                vs.titv_ratio, isx.insertion_deletion_ratio,
                CASE WHEN vs.novelty = 'all' THEN db.dbr_s END AS dbsnp_snps_ratio,
                CASE WHEN vs.novelty = 'all' THEN db.dbr_i END AS dbsnp_indels_ratio,
                ms.multiallelic_snp_ratio, ms.multiallelic_indel_ratio,
                isx.n_singleton_snps, isx.n_singleton_indels
         FROM vs
         LEFT JOIN isx USING (annotation, novelty)
         LEFT JOIN ms USING (annotation, novelty)
         LEFT JOIN db USING (annotation)""",
    "rg1_detailed_grid" ->
      """WITH base AS (
           SELECT
             CASE WHEN l_linenumber % 3 = 0 THEN 'tp'
                  WHEN l_linenumber % 3 = 1 THEN 'fp' ELSE 'fn' END AS classify_gt,
             CASE WHEN CAST(l_quantity AS BIGINT) % 2 = 0 THEN 'PASS' ELSE 'LOW' END AS filt0,
             (l_discount - 0.02) + (l_orderkey*8 + l_linenumber)*0.000000000001 AS tree_score,
             (l_returnflag = 'R') AS indel,
             l_linenumber % 4 AS indel_length,
             l_suppkey % 13 AS hmer_indel_length,
             l_discount * 10 AS gc_content,
             l_quantity AS coverage,
             (l_partkey % 2 = 0) AS lcr,
             (l_partkey % 3 = 0) AS mappability,
             (l_partkey % 5 = 0) AS ug_hcr,
             (l_orderkey % 100 = 0) AS exome
           FROM lineitem WHERE (l_orderkey*7 + l_partkey) % 401 = 0),
         cls AS (
           SELECT * REPLACE (CASE WHEN classify_gt = 'fn' THEN -1.0
                             ELSE tree_score END AS tree_score),
             CASE WHEN classify_gt = 'fp' THEN 0 ELSE 1 END AS label,
             CASE WHEN classify_gt = 'fn' THEN 'MISS' ELSE filt0 END AS filt
           FROM base),
         cls2 AS (
           SELECT *,
             CASE WHEN label = 1 AND filt = 'PASS' THEN 'TP'
                  WHEN label = 1 THEN 'FN'
                  WHEN filt <> 'PASS' THEN 'TN' ELSE 'FP' END AS cls
           FROM cls),
         tr AS (SELECT cls2.*, unnest(list_filter(
                  ['All', CASE WHEN exome THEN 'Exome' END],
                  x -> x IS NOT NULL)) AS region FROM cls2),
         tv AS (SELECT tr.*, unnest(list_filter([
                  'All',
                  CASE WHEN NOT indel THEN 'SNP' END,
                  CASE WHEN indel THEN 'Indel' END,
                  CASE WHEN indel AND hmer_indel_length = 0 AND indel_length > 1 THEN 'non-hmer' END,
                  CASE WHEN indel AND hmer_indel_length = 0 AND indel_length <= 1 THEN 'hmer 0-1' END,
                  CASE WHEN indel AND hmer_indel_length > 0 AND hmer_indel_length <= 4 THEN 'hmer 2-4' END,
                  CASE WHEN indel AND hmer_indel_length > 4 AND hmer_indel_length <= 8 THEN 'hmer 5-8' END,
                  CASE WHEN indel AND hmer_indel_length > 8 AND hmer_indel_length <= 10 THEN 'hmer 9-10' END,
                  CASE WHEN indel AND hmer_indel_length > 10 THEN 'hmer 11+' END
                ], x -> x IS NOT NULL)) AS variant FROM tr),
         tc AS (SELECT tv.*, unnest(list_filter([
                  'All',
                  CASE WHEN gc_content >= 0 AND gc_content < 0.2 THEN 'GC 0-20' END,
                  CASE WHEN gc_content >= 0.2 AND gc_content < 0.8 THEN 'GC 20-80' END,
                  CASE WHEN gc_content >= 0.8 AND gc_content < 1.0 THEN 'GC 80-100' END,
                  CASE WHEN coverage >= 0 AND coverage < 20 THEN 'CVG 0-20' END,
                  CASE WHEN coverage >= 20 AND coverage < 40 THEN 'CVG 20-40' END,
                  CASE WHEN coverage >= 40 AND coverage < 100 THEN 'CVG 40-100' END,
                  CASE WHEN lcr THEN 'LCR' ELSE 'Non-LCR' END,
                  CASE WHEN mappability THEN 'Mappable' ELSE 'Non-Mappable' END,
                  CASE WHEN ug_hcr THEN 'UG high confidence' ELSE 'UG low confidence' END
                ], x -> x IS NOT NULL)) AS category FROM tv),
         stat AS (
           SELECT region, variant, category,
             count(*) AS n,
             CAST(SUM(label) AS BIGINT) AS num_pos,
             CAST(count(*) - SUM(label) AS BIGINT) AS num_neg,
             CAST(SUM(CASE WHEN cls = 'TP' THEN 1 ELSE 0 END) AS BIGINT) AS tp0,
             CAST(SUM(CASE WHEN cls = 'FP' THEN 1 ELSE 0 END) AS BIGINT) AS fp0,
             CAST(SUM(CASE WHEN cls = 'FN' THEN 1 ELSE 0 END) AS BIGINT) AS fn0,
             CAST(SUM(CASE WHEN filt = 'MISS' THEN 1 ELSE 0 END) AS BIGINT) AS miss,
             AVG(coverage) AS avg_cvg,
             AVG(gc_content) AS avg_gc
           FROM tc GROUP BY 1, 2, 3),
         swept AS (
           SELECT region, variant, category, tree_score,
             SUM(label) OVER (PARTITION BY region, variant, category
               ORDER BY tree_score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfn,
             SUM(1 - label) OVER (PARTITION BY region, variant, category
               ORDER BY tree_score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cneg,
             SUM(label) OVER (PARTITION BY region, variant, category) AS pos,
             SUM(1 - label) OVER (PARTITION BY region, variant, category) AS neg
           FROM tc),
         scored AS (
           SELECT region, variant, category, tree_score,
             (pos - cfn) / ((pos - cfn) + 0.5*cfn + 0.5*(neg - cneg)) AS of1,
             (pos - cfn) * 1.0 / ((pos - cfn) + cfn) AS orecall,
             (pos - cfn) * 1.0 / ((pos - cfn) + (neg - cneg)) AS oprecision
           FROM swept
           WHERE (pos - cfn) + cfn >= 1 AND (pos - cfn) + (neg - cneg) >= 1
             AND tree_score >= 0),
         opt AS (
           SELECT region, variant, category,
             orecall AS recall_opt, oprecision AS precision_opt, of1 AS f1_opt
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY region, variant, category
                   ORDER BY of1 DESC, tree_score ASC) AS rk FROM scored)
           WHERE rk = 1)
         SELECT s.region, s.variant, s.category, s.num_pos, s.num_neg,
           CASE WHEN s.num_pos > 0 THEN s.tp0 END AS tp,
           CASE WHEN s.num_pos > 0 THEN s.fp0 END AS fp,
           CASE WHEN s.num_pos > 0 THEN s.fn0 END AS fn,
           CASE WHEN s.num_pos > 0 THEN 1.0 - s.miss * 1.0 / s.num_pos END AS max_recall,
           CASE WHEN s.num_pos > 0 AND s.tp0 + s.fn0 > 0
                THEN s.tp0 * 1.0 / (s.tp0 + s.fn0) END AS recall_stat,
           CASE WHEN s.num_pos > 0 AND s.tp0 + s.fp0 > 0
                THEN s.tp0 * 1.0 / (s.tp0 + s.fp0) END AS precision_stat,
           CASE WHEN s.num_pos > 0
                THEN s.tp0 / (s.tp0 + 0.5*s.fn0 + 0.5*s.fp0) END AS f1_stat,
           o.recall_opt, o.precision_opt, o.f1_opt,
           s.avg_cvg, s.avg_gc
         FROM stat s LEFT JOIN opt o USING (region, variant, category)""")
}
