package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar Column expressions mirroring the reference's scalar-function surface
  * (SURVEY.md §2.8). Everything here compiles to built-in Catalyst expressions
  * (codegen'd, no UDFs), so it stays inside whole-stage codegen at any scale.
  *
  * Reference semantics:
  *  - phred/unphred: ugvc/utils/math_utils.py:31-101
  *  - safe_divide:   ugvc/utils/math_utils.py:9-28
  *  - precision/recall/F1 scalars: ugvc/utils/stats_utils.py:76-138
  *    (precision is defined as `1 - fp/(fp+tp)` with a configurable default
  *     when the denominator is zero)
  *  - revcomp [absent; inferred]: used at ugvc/pipelines/run_no_gt_report.py:37
  *  - motif construction: ugvc/pipelines/run_no_gt_report.py:143
  *  - labeled binning (pd.cut): ugvc/pipelines/sv_stats_collect.py:12-13,38-44
  */
object Genomics {

  /** phred(p) = -10 * log10(p) */
  def phred(p: Column): Column = lit(-10.0) * log10(p)

  /** unphred(q) = 10 ^ (-q / 10) */
  def unphred(q: Column): Column = pow(lit(10.0), -q / 10.0)

  /** Phred string codec (F1 string variants, ugvc/utils/math_utils.py:31-101;
    * golden: phred_str([0.1, 0.01, 0.001]) == "+5?"): each probability maps
    * to chr(int(-10*log10(p)) + 33) — the reference TRUNCATES the quality
    * (`chr(int(x) + 33)`, math_utils.py:64), it does not round. */
  def phredStr(probs: Seq[Double]): String =
    probs.map(p => ((-10.0 * math.log10(p)).toInt + 33).toChar).mkString
  def unphredStr(s: String): Seq[Double] =
    s.map(c => math.pow(10.0, -(c.toInt - 33) / 10.0))
  val phredStrUdf: Column => Column = {
    val f = udf((probs: Seq[Double]) => if (probs == null) null else phredStr(probs))
    c => f(c)
  }

  /** n / d, or `default` when d == 0. */
  def safeDivide(n: Column, d: Column, default: Column): Column =
    when(d === 0, default).otherwise(n / d)

  /** Precision as the reference defines it: 1 - fp/(fp+tp); `default` at 0 denom. */
  def precisionScore(tp: Column, fp: Column, default: Column = lit(1.0)): Column =
    when(fp + tp === 0, default).otherwise(lit(1.0) - fp / (fp + tp))

  /** Recall = tp/(tp+fn); `default` at 0 denom — the reference defaults to
    * 1 (get_recall, ugvc/utils/stats_utils.py:97-117: an empty stratum has
    * perfect recall, not zero). */
  def recallScore(tp: Column, fn: Column, default: Column = lit(1.0)): Column =
    when(tp + fn === 0, default).otherwise(tp / (tp + fn))

  /** F1 = 2*p*r/(p+r); 0 when p+r == 0. */
  def f1Score(p: Column, r: Column): Column =
    when(p + r === 0, lit(0.0)).otherwise(lit(2.0) * p * r / (p + r))

  /** Reverse complement of a DNA string (IUPAC ACGT upper/lower). */
  def revcomp(s: Column): Column =
    translate(reverse(s), "ACGTacgt", "TGCAtgca")

  /** 3-mer motif: last base of the left flank + ref + first base of the right flank. */
  def motif(leftFlank: Column, ref: Column, rightFlank: Column): Column =
    concat(substring(leftFlank, -1, 1), ref, substring(rightFlank, 1, 1))

  /** pd.cut-style labeled binning: half-open [lo, hi) buckets with string labels.
    * `edges` has labels.size + 1 entries; values outside fall to null.
    * Compiles to a when-chain (single codegen'd CASE expression).
    */
  def labeledBins(c: Column, edges: Seq[Double], labels: Seq[String]): Column = {
    require(edges.size == labels.size + 1, "edges must be labels.size + 1")
    labels.zipWithIndex.foldLeft(lit(null: String).cast("string")) {
      case (acc, (label, i)) =>
        when(c >= edges(i) && c < edges(i + 1), lit(label)).otherwise(acc)
    }
  }

  /** Genotype classifiers (F13): gt is array<int> with nullable elements. */
  def isHom(gt: Column): Column = element_at(gt, 1) === element_at(gt, 2)
  def isCalled(gt: Column): Column = element_at(gt, 1).isNotNull

  /** F13 — genotype-pair error classification
    * (get_error_type, ugvc/reports/report_data_loader.py:106-126): compare
    * the ground-truth genotype SET {g1,g2} with the call SET {c1,c2}
    * (Python set semantics: (0,1) ≡ (1,0), (1,1) ≡ {1}; None is a member).
    * Nulls are encoded as -1 so the set becomes a sorted-distinct int array;
    * the when-chain preserves the reference's check order. Pure Catalyst
    * array expressions — codegen'd, no UDF. */
  def errorType(g1: Column, g2: Column, c1: Column, c2: Column): Column = {
    // The allele SET {a,b} as a bitmask: bit (allele+1), null → bit 0.
    // Set equality == mask equality, subset == mask inclusion, and the
    // singleton checks are single-bit masks — pure integer arithmetic in
    // whole-stage codegen. The previous form built
    // array_sort(array_distinct(array(...))) per WHEN branch: ~9
    // interpreted lambda-comparator sorts PER ROW (HOFs never codegen),
    // which made f13 the one bench query whose cost tracked how many
    // OTHER queries had already run in the JVM (megamorphic interpreter
    // call sites: 7 s early in a session, ~40 s after the full inventory).
    // Contract: alleles are small ints in [0, 30] or null (genotypes are
    // 0..3) — shift amounts must stay inside an int.
    def gmask(a: Column, b: Column): Column = {
      // scala-API shiftleft wants a literal shift; the SQL expression
      // takes a column — call it directly
      def bit(c: Column) =
        call_function("shiftleft", lit(1), coalesce(c, lit(-1)) + 1)
      bit(a).bitwiseOR(bit(b))
    }
    val gm = gmask(g1, g2)
    val cm = gmask(c1, c2)
    val noneBit = lit(1)       // {null}  -> 1 << 0
    val zeroBit = lit(2)       // {0}     -> 1 << 1
    when(gm === cm, lit("NO_ERROR"))
      .when(gm === zeroBit || gm === noneBit, lit("NOISE"))
      .when(cm === zeroBit || cm === noneBit, lit("NO_VARIANT"))
      .when(gm.bitwiseAND(bitwise_not(cm)) === 0, lit("HOM_TO_HET")) // gtr ⊆ call
      .when(cm.bitwiseAND(bitwise_not(gm)) === 0, lit("HET_TO_HOM")) // call ⊆ gtr
      .otherwise(lit("WRONG_ALLELE"))
  }

  /** clip(x, lo, hi) */
  def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** Variant-shape derivations for the concordance schema
    * (ugvc/reports/report_data_loader.py:20-34 derived flags; SURVEY §1.1):
    * indel iff ref/alt lengths differ; insertion when alt longer;
    * indel_length = |len(alt) - len(ref)|. */
  def isIndel(ref: Column, alt: Column): Column = length(ref) =!= length(alt)
  def indelClassify(ref: Column, alt: Column): Column =
    when(length(ref) < length(alt), lit("ins"))
      .when(length(ref) > length(alt), lit("del"))
  def indelLength(ref: Column, alt: Column): Column =
    abs(length(alt) - length(ref))

  /** GC fraction of a sequence (gc_content column). */
  def gcContent(seq: Column): Column =
    (length(seq) - length(translate(seq, "GCgc", ""))).cast("double") / length(seq)

  /** F15 — length of the homopolymer run of `base` centered at/adjacent to
    * the locus in a reference-context string (scan +-k around the middle;
    * generic run-length helper — the faithful bridging-SNV classifier with
    * the tandem-repeat guard is [[bridgingHmer]]/[[isHomopolymerSnp]]
    * below). Pure function + UDF. */
  def hmerLengthAt(context: String, base: Char): Int = {
    if (context == null || context.isEmpty) return 0
    val mid = context.length / 2
    var lo = mid
    while (lo > 0 && context(lo - 1) == base) lo -= 1
    var hi = mid
    while (hi < context.length && context(hi) == base) hi += 1
    hi - lo
  }
  val hmerLengthUdf: (Column, Column) => Column = {
    val f = udf((ctx: String, b: String) =>
      if (ctx == null || b == null || b.isEmpty) 0 else hmerLengthAt(ctx, b.head))
    (c, b) => f(c, b)
  }

  /** F15 (faithful) — bridging-SNV homopolymer scan
    * (is_homopolymer_snp, ugvc/pipelines/vcfbed/calibrate_bridging_snvs.py:9-66):
    * `context` is the (2k+1)-base reference window centered on the variant
    * (context(k) is the REF base); count the run of `altBase` immediately
    * up/downstream of the variant, record the first non-matching flank
    * base on each side, and flag the TANDEM-REPEAT pattern — both flanks
    * equal the REF base and the two runs have equal length (R A..A [R→A]
    * A..A R), which the reference excludes (:51-55).
    * Returns (hmerSize = 1+up+down, upLen, downLen, isTandemRepeat). */
  def bridgingHmer(context: String, refBase: Char, altBase: Char,
                   k: Int): (Int, Int, Int, Boolean) = {
    var down = 0
    var after = ""
    var i = k + 1
    while (i < context.length && after.isEmpty) {
      if (context(i) == altBase) { down += 1; i += 1 }
      else after = context(i).toString
    }
    var up = 0
    var before = ""
    var j = k - 1
    while (j >= 0 && before.isEmpty) {
      if (context(j) == altBase) { up += 1; j -= 1 }
      else before = context(j).toString
    }
    // "" == "" && "" == ref is false for any real ref base, exactly like
    // the reference's empty-string sentinels (:33-34)
    val tandem = before == after && before == refBase.toString && up == down
    (1 + up + down, up, down, tandem)
  }

  /** The un-filter predicate (:14-63 gate, scan part): a non-PASS SNV with
    * qual >= minQual whose alt allele bridges a >= k homopolymer that is
    * NOT a tandem repeat and sits >= minDistFromEdge from both run edges. */
  def isHomopolymerSnp(context: String, refBase: Char, altBase: Char,
                       qual: Double, isPass: Boolean, k: Int,
                       minQual: Double, minDistFromEdge: Int): Boolean = {
    if (isPass || qual < minQual) return false
    val (size, up, down, tandem) = bridgingHmer(context, refBase, altBase, k)
    size >= k && !tandem && math.min(up, down) >= minDistFromEdge
  }

  /** Column binding: returns (hmer_size, up, down, is_tandem, qualifies). */
  def bridgingHmerUdf(k: Int, minQual: Double, minDistFromEdge: Int)
  : (Column, Column, Column, Column) => Column = {
    val f = udf((ctx: String, alt: String, qual: Double, isPass: Boolean) =>
      if (ctx == null || ctx.length < 2 * k + 1 || alt == null || alt.isEmpty) null
      else {
        val refBase = ctx(k)
        val (size, up, down, tandem) = bridgingHmer(ctx, refBase, alt.head, k)
        val qualifies = !isPass && qual >= minQual && size >= k && !tandem &&
          math.min(up, down) >= minDistFromEdge
        (size, up, down, tandem, qualifies)
      })
    (c, a, q, p) => f(c, a, q, p)
  }

  /** F16 — flow-space key: run-length encode a base sequence in flow order
    * (TGCA cycled); generate_key_from_sequence [absent; inferred — call site
    * ugvc/scripts/collect_hpol_table.py:98-114]. Returns the per-flow
    * incorporation counts. */
  def flowKey(seq: String, flowOrder: String = "TGCA"): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    var flow = 0
    while (i < seq.length) {
      if (seq(i) == flowOrder(flow % flowOrder.length)) {
        var run = 0
        while (i < seq.length && seq(i) == flowOrder(flow % flowOrder.length)) {
          run += 1; i += 1
        }
        out += run
      } else out += 0
      flow += 1
    }
    out.toSeq
  }
  val flowKeyUdf: Column => Column = {
    val f = udf((s: String) => if (s == null) null else flowKey(s))
    c => f(c)
  }
}
