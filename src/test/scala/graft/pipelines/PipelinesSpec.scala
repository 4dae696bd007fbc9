package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("CoverageAnalysis: pyramid levels agree and drop ragged windows") {
    // 250 bp of chrom A at coverage=position/10; 100-windows: 2 full, 1 ragged
    val depth = (0L until 250L).map(p => ("A", p, p + 1, (p / 10).toDouble))
      .toDF("chrom", "start", "end", "coverage")
    val pyr = CoverageAnalysis.pyramid(depth, Seq(10L, 100L))
    val l10 = pyr(10L).orderBy("start").collect()
    assert(l10.length == 25)
    assert(l10.head.getAs[Double]("coverage") == 0.0)
    val l100 = pyr(100L).orderBy("start").collect()
    assert(l100.length == 2) // 200..250 ragged, dropped
    // window mean of means equals mean over raw range (associative sum/count)
    val direct = depth.filter(col("start") < 100).agg(avg("coverage")).head.getDouble(0)
    assert(math.abs(l100.head.getAs[Double]("coverage") - direct) < 1e-12)
  }

  test("CoverageAnalysis: percentiles from histogram") {
    val hist = Seq((1, 10L), (2, 40L), (3, 40L), (4, 10L)).toDF("coverage", "count")
    val out = CoverageAnalysis.percentiles(hist).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out(50) == 2 && out(5) == 1 && out(95) == 4)
  }

  test("CoverageAnalysis: histogramIn counts the depth rows inside the regions") {
    // coverage = position % 7 on two contigs; regions overlap each other,
    // cross 50 bp bins and miss a contig
    val depth = (for (c <- Seq("A", "B"); p <- 0L until 300L)
      yield (c, p, p + 1, (p % 7).toDouble)).toDF("chrom", "start", "end", "coverage")
    val regions = Seq(("A", 10L, 60L), ("A", 40L, 140L), ("A", 290L, 400L), ("C", 0L, 50L))
    val hist = CoverageAnalysis.histogramIn(depth, regions.toDF("chrom", "bstart", "bend"), binSize = 50L)
    val inside = regions.map { case (c, b, e) =>
      col("chrom") === c && col("start") < e && col("end") > b
    }.reduce(_ || _)
    val want = depth.filter(inside).groupBy(col("coverage").cast("int").as("coverage"))
      .agg(count(lit(1)).as("count"))
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(hist) == counts(want))
    assert(counts(hist).values.sum == 140L)
  }

  test("Concordance: stratified accuracy metrics in one shuffle") {
    val df = Seq(
      // (indel, hmer_len, tp, fp, fn)
      (false, 0L, true, false, false),
      (false, 0L, false, true, false),
      (true, 2L, true, false, false),
      (true, 6L, false, false, true)
    ).toDF("indel", "hmer_indel_length", "tp", "fp", "fn")
    val m = Concordance.accuracyMetrics(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m("ALL") == ((2L, 1L, 1L)))
    assert(m("SNP") == ((1L, 1L, 0L)))
    assert(m("INDEL") == ((1L, 0L, 1L)))
    assert(m("HMER_INDEL_1_4") == ((1L, 0L, 0L)))
    assert(m("HMER_INDEL_5_PLUS") == ((0L, 0L, 1L)))
  }

  test("Concordance: curve noise floor suppresses sparse thresholds") {
    val rows = (1 to 50).map(i => (i.toDouble, i % 3 != 0, i % 3 == 0, i.toLong))
    val df = rows.toDF("score", "tp", "fp", "row_key")
    val curve = Concordance.recallPrecisionCurve(df, minCalls = 20).collect()
    assert(curve.nonEmpty && curve.forall(_.getAs[Long]("n_calls") >= 20))
  }

  test("Concordance: pipeline curve is row-identical to the sequential sweep") {
    // multi-stratum shape: heavy score ties (41 distinct values over 400
    // rows) force tied rows through the quantile-bucket boundary logic
    val rows = (1 to 400).map { i =>
      ((i % 41) / 10.0, i % 3 != 0, i % 3 == 0, i.toLong)
    }
    val df = rows.toDF("score", "tp", "fp", "row_key")
    val viaPipeline = Concordance.recallPrecisionCurve(df, minCalls = 5)
      .orderBy("rank").collect().toSeq
    val sequential = graft.operators.Ordered.prCurve(
        df.filter(col("tp") || col("fp")),
        col("score"), col("tp"), col("fp"), col("row_key"))
      .withColumn("n_calls", col("ctp") + col("cfp"))
      .filter(col("n_calls") >= 5)
      .select("rank", "score", "precision", "recall", "n_calls")
      .orderBy("rank").collect().toSeq
    assert(viaPipeline == sequential)
  }

  test("GvcfHcr: extent filter + threshold + merge (gvcf_bed.py:9-69)") {
    val gvcf = Seq(
      ("1", 1L, 10L, 50),   // kept, spans to 10
      ("1", 5L, 6L, 50),    // start < extent 10 → dropped
      ("1", 10L, 20L, 50),  // kept, adjacent → merges with block 1
      ("1", 30L, 40L, 10),  // low GQ → dropped
      ("1", 50L, 60L, 50)   // kept, separate island
    ).toDF("chrom", "pos", "end", "gq")
    val out = GvcfHcr.highConfidenceRegions(gvcf, 20).orderBy("start").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 20L), (49L, 60L)))
  }

  test("SvStats: crosstab with fixed domain and rollup concordance") {
    val sv = Seq(
      ("DEL", -80L, "PASS"), ("DEL", -500L, "PASS"), ("INS", 150L, "PASS"),
      ("INS", 2000000L, "PASS"), ("DEL", -60L, "LowQual")
    ).toDF("svtype", "svlen", "filter")
    val ct = SvStats.typeLengthCrosstab(sv).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ct("DEL").getAs[Long]("50-100") == 1L)
    assert(ct("DEL").getAs[Long]("0.5-1k") == 1L)
    assert(ct("INS").getAs[Long]("100-300") == 1L)
    assert(ct("INS").getAs[Long](">1M") == 1L)

    val labeled = Seq(("DEL", "TP"), ("DEL", "FP"), ("INS", "TP"), ("INS", "FN"))
      .toDF("svtype", "label")
    val cs = SvStats.concordanceStats(labeled).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(cs("ALL") == ((2L, 1L, 1L)) && cs("DEL") == ((1L, 1L, 0L)))
  }

  test("DenovoRefinement: pair qual is min of parents, missing parent = 0") {
    val child = Seq(("1", 100L, "A"), ("1", 200L, "B")).toDF("chrom", "pos", "allele")
    val mother = Seq(("1", 100L, 50.0)).toDF("chrom", "pos", "qual")
    val father = Seq(("1", 100L, 30.0), ("1", 200L, 40.0)).toDF("chrom", "pos", "qual")
    val out = DenovoRefinement.refine(child, mother, father).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out(100L) == 30.0) // min(50, 30)
    assert(out(200L) == 0.0)  // mother missing → 0
  }

  test("DenovoRefinement monotonicity: degrading a parent never raises pair_qual") {
    val child = Seq(("1", 100L, "A")).toDF("chrom", "pos", "allele")
    val mother = Seq(("1", 100L, 50.0)).toDF("chrom", "pos", "qual")
    val fatherHi = Seq(("1", 100L, 60.0)).toDF("chrom", "pos", "qual")
    val fatherLo = Seq(("1", 100L, 5.0)).toDF("chrom", "pos", "qual")
    val hi = DenovoRefinement.refine(child, mother, fatherHi).head.getDouble(2)
    val lo = DenovoRefinement.refine(child, mother, fatherLo).head.getDouble(2)
    assert(lo <= hi)
  }

  test("SvStats golden frame from the reference mock VCF (test_sv_stats_collect.py:17-111)") {
    // SVLEN/SVTYPE extracted exactly as the mock does (F17 regex on INFO)
    val info = Seq(
      ("PASS", "SVLEN=-500;SVTYPE=DEL"), ("PASS", "SVLEN=300;SVTYPE=INS"),
      ("PASS", "SVLEN=-1000;SVTYPE=DEL"), ("PASS", "SVLEN=700;SVTYPE=INS"),
      (".", "SVLEN=2000;SVTYPE=DUP")
    ).toDF("filter", "info")
    val sv = info
      .withColumn("svlen", regexp_extract(col("info"), "SVLEN=(-?\\d+)", 1).cast("long"))
      .withColumn("svtype", regexp_extract(col("info"), "SVTYPE=([A-Z]+)", 1))
    val types = SvStats.typeCounts(sv).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types == Map("DEL" -> 2L, "INS" -> 2L, "DUP" -> 1L))
    val lengths = SvStats.lengthCounts(sv).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map(
      "50-100" -> 0L, "100-300" -> 0L, "300-500" -> 1L, "0.5-1k" -> 2L,
      "1k-2k" -> 1L, "2k-3k" -> 1L, "3k-5k" -> 0L, "5k-10k" -> 0L,
      "10k-100k" -> 0L, "100k-1M" -> 0L, ">1M" -> 0L)
    assert(lengths == expected)
    val byType = SvStats.typeLengthCrosstab(sv).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(byType("DEL").getAs[Long]("0.5-1k") == 1L)
    assert(byType("DEL").getAs[Long]("1k-2k") == 1L)
    assert(byType("INS").getAs[Long]("300-500") == 1L)
    assert(byType("INS").getAs[Long]("0.5-1k") == 1L)
    assert(byType("DUP").getAs[Long]("2k-3k") == 1L)
  }

  test("concordance_with_gt golden (test_sv_stats_collect.py:149-163)") {
    val base = Seq("TP", "TP", "FN", "FN").toDF("label")
    val calls = Seq("TP", "TP", "FP", "FP").toDF("label")
    val r = SvStats.concordanceWithGt(base, calls).head
    assert(r.getAs[Long]("TP_base") == 2L && r.getAs[Long]("TP_calls") == 2L)
    assert(r.getAs[Long]("FN") == 2L && r.getAs[Long]("FP") == 2L)
    assert(r.getAs[Double]("Precision") == 0.5 && r.getAs[Double]("Recall") == 0.5)
    assert(r.getAs[Double]("F1") == 0.5)
  }
}
