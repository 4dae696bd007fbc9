package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** Which files a VCF load reads: recursive directories, sidecars skipped,
  * and a path that matches nothing. */
class VcfDataFilesSpec extends SparkSpec {

  private def header = Seq("##fileformat=VCFv4.2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
  private def body(chrom: String, n: Int) =
    (1 to n).map(i => s"$chrom\t$i\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i")

  test("nested directories are read recursively, not silently skipped") {
    val d = Files.createTempDirectory("graftvcfnest")
    val sub = d.resolve("chrom=1"); Files.createDirectories(sub)
    Files.writeString(sub.resolve("part.vcf"), (header ++ body("chr1", 50)).mkString("\n"))
    val deep = d.resolve("deep").resolve("deeper"); Files.createDirectories(deep)
    Files.writeString(deep.resolve("p2.vcf"), (header ++ body("chr2", 30)).mkString("\n"))
    // hidden dirs/files stay excluded at every level
    val hid = d.resolve("_tmp"); Files.createDirectories(hid)
    Files.writeString(hid.resolve("x.vcf"), (header ++ body("chr3", 99)).mkString("\n"))
    val df = spark.read.format("vcf").load(d.toString)
    assert(df.count() == 80)
    assert(df.select("chrom").distinct().collect().map(_.getString(0)).toSet ==
      Set("chr1", "chr2"))
  }

  test(".gidx sidecars are not read as data in directory loads") {
    val d = Files.createTempDirectory("graftvcfgidx")
    Files.writeString(d.resolve("t.vcf"), (header ++ body("chr1", 60)).mkString("\n"))
    // the JSON sidecar earlier builds wrote beside each part
    Files.writeString(d.resolve("t.vcf.gidx"),
      """{"file_len":1,"file_mtime":1,"splits":[{"start":0,"end":1,"chroms":{"chr1":[1,60]}}]}""")
    assert(spark.read.format("vcf").load(d.toString).count() == 60L)
    assert(Vcf.read(spark, d.toString).count() == 60L)
  }

  test("a path that matches nothing fails, naming the path; an empty directory reads empty") {
    val d = Files.createTempDirectory("graftvcfmissing")
    Files.writeString(d.resolve("t.vcf"), (header ++ body("chr1", 10)).mkString("\n"))
    for (missing <- Seq(d.resolve("absent.vcf").toString, d.resolve("*.vcf.gz").toString)) {
      val e = intercept[Throwable](spark.read.format("vcf").load(missing).count())
      val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString
      assert(msg.contains(missing), msg)
      assert(intercept[java.io.FileNotFoundException](Vcf.read(spark, missing))
        .getMessage.contains(missing))
    }
    val empty = Files.createTempDirectory("graftvcfempty")
    assert(spark.read.format("vcf").load(empty.toString).count() == 0L)
  }
}
