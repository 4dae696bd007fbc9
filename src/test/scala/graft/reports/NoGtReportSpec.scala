package graft.reports

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NoGtReportSpec extends SparkSpec {
  import spark.implicits._

  private def variants = Seq(
    // (ref, alt, left, right, af, gt, hmer)
    ("A", "T", "GGA", "CCC", 0.5, Seq(0, 1), 0L),   // snv
    ("C", "G", "TTT", "AAA", 0.99, Seq(1, 1), 0L),  // snv hom
    ("A", "AT", "GGG", "CCC", 0.3, Seq(0, 1), 2L),  // ins het
    ("ATT", "A", "GGG", "CCC", 1.0, Seq(1, 1), 3L)  // del hom
  ).toDF("ref", "alt", "left_motif", "right_motif", "af", "gt", "hmer_indel_length")

  test("report tables compose: spectrum over SNVs only, AF bins, indel 2-D") {
    val t = NoGtReport.tables(variants)
    // motif spectrum: 96-class dense domain, 2 SNVs counted
    assert(t("motif_spectrum").count() == 96)
    assert(t("motif_spectrum").agg(sum("n")).head.getLong(0) == 2L)
    // AF histogram: dense 100-bin domain per type; af=1.0 clamps into bin 99
    val af = t("af_histogram").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(af.size == 200) // two observed types x 100 bins
    assert(af(("snp", 50L)) == 1L && af(("snp", 99L)) == 1L)
    assert(af(("h-indel", 30L)) == 1L && af(("h-indel", 99L)) == 1L)
    assert(af(("snp", 10L)) == 0L)
    // indel 2-D histogram
    val ih = t("indel_histogram").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(ih(("ins", "het", 2L)) == 1L && ih(("del", "hom", 3L)) == 1L)
  }

  test("ingestVariantEval registers each VariantEval table as an eval_<table> view") {
    val report = java.nio.file.Files.createTempDirectory("graftnogt").resolve("eval.txt")
    java.nio.file.Files.writeString(report, Seq(
      "#:GATKReport.v1.1:2",
      "#:GATKTable:CompOverlap:The overlap between eval and comp sites",
      "CompOverlap  CompFeatureInput  nEvalVariants",
      "CompOverlap  dbsnp             1000",
      "CompOverlap  none              1200",
      "",
      "#:GATKTable:CountVariants:Counts different classes of variants",
      "CountVariants  nSNPs  nIndels",
      "CountVariants  800    200").mkString("\n"))
    val tables = NoGtReport.ingestVariantEval(spark, report.toString)
    assert(tables.keySet == Set("CompOverlap", "CountVariants"))
    val snps = spark.sql("SELECT CAST(nSNPs AS INT) + CAST(nIndels AS INT) FROM eval_CountVariants")
    assert(snps.collect().map(_.getInt(0)).toSeq == Seq(1000))
    val overlap = spark.sql(
      "SELECT CompFeatureInput, nEvalVariants FROM eval_CompOverlap ORDER BY CompFeatureInput")
    assert(overlap.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("dbsnp", "1000"), ("none", "1200")))
  }

  test("allele_freq_hist golden (test_run_no_gt_report.py:15-30)") {
    val df = Seq(
      (0.1, "snp"), (0.2, "snp"), (0.3, "h-indel"),
      (0.4, "non-h-indel"), (0.5, "non-h-indel")
    ).toDF("af", "variant_type")
    val hist = NoGtReport.afHistogram(df).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hist.keys.map(_._1).toSet == Set("snp", "h-indel", "non-h-indel"))
    assert(hist.count(_._1._1 == "snp") == 100)      // len(result["snp"]) == 100
    assert(hist(("snp", 10L)) == 1L)                 // iloc[10] == 1
    assert(hist(("snp", 20L)) == 1L)                 // iloc[20] == 1
    assert(hist.count { case ((t, _), n) => t == "snp" && n == 0L } == 98)
  }
}
