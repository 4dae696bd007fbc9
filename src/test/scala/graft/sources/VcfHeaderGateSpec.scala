package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Planning-time header-compatibility gate for multi-file VCF scans
  * (VcfV2.planInputPartitions) and the index-sidecar exclusion from
  * data-file walks (Vcf.isIndexSidecar) — the round-9 interop surface.
  *
  * The gate exists because the read schema and sample panel are inferred
  * from the FIRST file of a directory: a foreign directory mixing sample
  * panels or INFO declarations must fail at planning with the offending
  * path, not silently read the wrong sample (reference behavior: pysam
  * opens each file's own header — ugvc/joint/denovo_refinement.py:30-35).
  */
class VcfHeaderGateSpec extends SparkSpec {

  private def vcfLines(samples: Seq[String], dpType: String,
                       chrom: String, n: Int): Seq[String] =
    Seq("##fileformat=VCFv4.2",
      s"""##INFO=<ID=DP,Number=1,Type=$dpType,Description="Depth">""",
      ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +: samples)
        .mkString("\t")) ++
      (1 to n).map { i =>
        (Seq(chrom, s"$i", ".", "A", "T", "50", "PASS", s"DP=$i", "GT:DP") ++
          samples.map(_ => s"0/1:$i")).mkString("\t")
      }

  private def writeDir(files: (String, Seq[String])*): Path = {
    val d = Files.createTempDirectory("grafthdr")
    files.foreach { case (name, lines) =>
      Files.write(d.resolve(name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    d
  }

  /** The gate fires inside Spark's planning; the require message may
    * arrive wrapped — search the whole cause chain. */
  private def allMessages(t: Throwable): String = {
    val b = new StringBuilder
    var c: Throwable = t
    while (c != null) { b.append(Option(c.getMessage).getOrElse("")); c = c.getCause }
    b.toString
  }

  test("a directory mixing sample panels fails at planning, naming the offending file") {
    val d = writeDir(
      "a.vcf" -> vcfLines(Seq("S1", "S2"), "Integer", "chr1", 50),
      "b.vcf" -> vcfLines(Seq("S1", "SX"), "Integer", "chr2", 50))
    val msg = allMessages(intercept[Throwable] {
      spark.read.format("vcf").load(d.toString).count()
    })
    assert(msg.contains("sample columns"), s"wrong failure: $msg")
    assert(msg.contains("a.vcf") && msg.contains("b.vcf"),
      s"gate must name both the reference and the offending file: $msg")
  }

  test("a directory mixing INFO declarations fails only when that key is typed") {
    val d = writeDir(
      "a.vcf" -> vcfLines(Seq("S1"), "Integer", "chr1", 50),
      "b.vcf" -> vcfLines(Seq("S1"), "Float", "chr2", 50))
    // untyped read: INFO stays a raw map, the declaration mismatch is
    // harmless and must NOT fail
    assert(spark.read.format("vcf").load(d.toString).count() === 100L)
    // typed info_fields on the conflicting key: fail, naming key and files
    val msg = allMessages(intercept[Throwable] {
      spark.read.format("vcf").option("info_fields", "DP:long")
        .load(d.toString).count()
    })
    assert(msg.contains("INFO DP"), s"wrong failure: $msg")
    assert(msg.contains("Integer") && msg.contains("Float"), s"wrong failure: $msg")
    // typing a DIFFERENT (consistently-declared or absent) key: fine
    assert(spark.read.format("vcf").option("info_fields", "AC:long")
      .load(d.toString).count() === 100L)
  }

  test("a homogeneous directory passes the gate") {
    val ok = writeDir(
      "a.vcf" -> vcfLines(Seq("S1", "S2"), "Integer", "chr1", 50),
      "b.vcf" -> vcfLines(Seq("S1", "S2"), "Integer", "chr2", 50))
    assert(spark.read.format("vcf").load(ok.toString).count() === 100L)
  }

  test("the gate reads BGZF-compressed headers too (mixed plain/bgzf directory)") {
    // a foreign dir mixing a plain-text part with a bgzf part whose panel
    // differs: the gate must decompress the bgzf header (O(header) blocks
    // only) and still name the offending file
    val d = writeDir("a.vcf" -> vcfLines(Seq("S1"), "Integer", "chr1", 30))
    val os = Files.newOutputStream(d.resolve("b.vcf.gz"))
    Bgzf.write(vcfLines(Seq("SX"), "Integer", "chr2", 30).iterator, os, 512)
    os.close()
    val msg = allMessages(intercept[Throwable] {
      spark.read.format("vcf").load(d.toString).count()
    })
    assert(msg.contains("sample columns") && msg.contains("b.vcf.gz"),
      s"gate must decompress and name the bgzf file: $msg")
    // homogeneous mixed-compression dir passes and reads both parts
    val ok = writeDir("a.vcf" -> vcfLines(Seq("S1"), "Integer", "chr1", 30))
    val os2 = Files.newOutputStream(ok.resolve("b.vcf.gz"))
    Bgzf.write(vcfLines(Seq("S1"), "Integer", "chr2", 30).iterator, os2, 512)
    os2.close()
    assert(spark.read.format("vcf").load(ok.toString).count() === 60L)
  }

  test(".tbi/.csi sidecars beside parts are never parsed as data (both read paths)") {
    val d = writeDir("part-0.vcf" -> vcfLines(Seq("S1"), "Integer", "chr1", 120))
    // realistic binary sidecars: actual BGZF-framed index bytes whose
    // names shadow the data file — a naive directory text scan would
    // yield garbage rows from them
    val b = new Tabix.Builder
    b.add(Tabix.Feature("chr1", 0, 120, 0L, 1L << 16))
    val conf = spark.sessionState.newHadoopConf()
    Tabix.write(conf, d.resolve("part-0.vcf").toString, b)
    Tabix.writeCsi(conf, d.resolve("part-0.vcf").toString, b)
    assert(Files.exists(d.resolve("part-0.vcf.tbi")))
    assert(Files.exists(d.resolve("part-0.vcf.csi")))
    // expression path (Vcf.read → textLines directory expansion)
    val expr = Vcf.read(spark, d.toString)
    assert(expr.count() === 120L)
    assert(expr.agg(sum("pos")).head.getLong(0) === (1 to 120).map(_.toLong).sum)
    // DataSourceV2 path (VcfScan.planInputPartitions walk)
    val v2 = spark.read.format("vcf").load(d.toString)
    assert(v2.count() === 120L)
    assert(v2.agg(sum("pos")).head.getLong(0) === (1 to 120).map(_.toLong).sum)
    // and the sidecars don't break the header walk either (headerLines
    // resolves a directory to its first VISIBLE data file)
    assert(Vcf.sampleNames(spark, d.toString) === Seq("S1"))
  }
}
