package graft.sources

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import java.nio.file.Files

/** Which pushed predicates the vcf scan decides and which Spark still
  * re-applies: region predicates on (chrom, pos) plan as a bare scan —
  * and so stop compiling code per lookup — while `qual`, typed INFO and
  * FORMAT predicates keep their post-scan `Filter`. */
class VcfPushdownSpec extends SparkSpec {

  private val header = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer>",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")

  private lazy val path: String = {
    val body = for (c <- 1 to 3; i <- 1 to 200) yield {
      val qual = if (i % 50 == 0) "NaN" else if (i % 7 == 0) "." else s"${i % 90}.5"
      s"chr$c\t${i * 10}\t.\tA\tT\t$qual\tPASS\tDP=${i % 40}\tGT:GQ:DP\t0/1:${i % 99}:${i % 40}"
    }
    val d = Files.createTempDirectory("graftpush")
    val p = d.resolve("p.vcf")
    Files.writeString(p, (header ++ body).mkString("\n"))
    p.toString
  }

  private def v2: DataFrame =
    spark.read.format("vcf").option("info_fields", "DP:long").load(path)

  private def filters(df: DataFrame): Seq[FilterExec] =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f }

  // compared as text: a NaN qual must equal itself
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("region predicates are decided by the scan: no Filter node over the vcf scan") {
    val q = v2.filter(col("chrom") === "chr2" && col("pos").between(100L, 400L))
    val plan = q.queryExecution.executedPlan
    assert(plan.collect { case s: BatchScanExec => s }.size == 1, plan.toString)
    assert(filters(q).isEmpty, s"chrom/pos predicate must not be re-applied:\n$plan")
    assert(q.count() == 31L)
    // In / IsNotNull / strict bounds / Or of region predicates: also exact
    val q2 = v2.filter(col("chrom").isin("chr1", "chr3") &&
      (col("pos") > 1500L || col("pos") < 30L) && col("pos").isNotNull)
    assert(filters(q2).isEmpty, q2.queryExecution.executedPlan.toString)
    assert(q2.count() == 2L * (50 + 2))
  }

  test("qual, typed INFO and FORMAT predicates keep their Filter node") {
    for (c <- Seq(col("qual") > 20.0, col("info_dp") >= 10L, col("gq") >= 30,
                  col("chrom") === "chr1" && col("qual") > 20.0,
                  col("pos") > 100L || col("gq") >= 30)) {
      val q = v2.filter(c)
      assert(filters(q).nonEmpty, s"$c must be re-applied:\n${q.queryExecution.executedPlan}")
      assert(rows(q) == rows(Vcf.read(spark, path).withColumn("info_dp", Vcf.infoLong("DP"))
        .filter(c)), s"$c")
    }
  }

  test("a NaN qual matches like the expression path (NaN = NaN, NaN above all)") {
    for (c <- Seq(col("qual") === Double.NaN, col("qual") > 80.0,
                  col("qual") >= Double.NaN, col("qual").isin(Double.NaN, 1.5))) {
      val got = rows(spark.read.format("vcf").load(path).filter(c))
      val want = rows(Vcf.read(spark, path).filter(c))
      assert(got == want, s"$c")
    }
    assert(spark.read.format("vcf").load(path).filter(col("qual") === Double.NaN)
      .count() == 12L)
  }

  test("exactness covers only region predicates with their own comparand types") {
    import VcfFilterEval.exact
    assert(exact(EqualTo("chrom", "chr1")) && exact(In("chrom", Array[Any]("a", null))))
    assert(exact(And(GreaterThanOrEqual("pos", 5L), LessThan("pos", 9L))))
    assert(exact(Or(EqualTo("pos", 5L), In("pos", Array[Any](7L, null)))))
    assert(exact(IsNotNull("pos")) && exact(IsNotNull("chrom")))
    assert(!exact(GreaterThan("qual", 5.0)) && !exact(EqualTo("filter", "PASS")))
    assert(!exact(GreaterThanOrEqual("gq", 20)) && !exact(EqualTo("pos", "5")))
    assert(!exact(Or(EqualTo("chrom", "chr1"), GreaterThan("qual", 5.0))))
    assert(!exact(Not(EqualTo("chrom", "chr1"))))
  }

  test("region lookups with new bounds compile no new code after the first") {
    def lookup(c: String, lo: Long, hi: Long): Long =
      v2.filter(col("chrom") === c && col("pos").between(lo, hi)).collect().length.toLong
    assert(lookup("chr1", 10L, 100L) == 10L) // warm
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = Seq(("chr2", 50L, 90L), ("chr3", 1000L, 1200L), ("chr1", 1990L, 5000L),
      ("chr2", 7L, 11L), ("chr3", 300L, 200L)).map { case (c, lo, hi) => lookup(c, lo, hi) }
    assert(got == Seq(5L, 21L, 2L, 1L, 0L))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "a region lookup with new literals compiled new code")
  }
}
