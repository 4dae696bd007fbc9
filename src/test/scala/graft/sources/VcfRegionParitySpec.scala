package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Region lookups through the vcf scan on a multi-part BGZF + `.tbi`
  * output (region predicates decided by the scan; with `split_bytes`
  * 1024, splits pruned through the cached tabix index; by default, the
  * chunks read on the driver) against the expression path, plus the two
  * planning caches' freshness: the index cache after an overwrite, the
  * header cache under a header mismatch. */
class VcfRegionParitySpec extends SparkSpec {

  private val header = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer>",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
  private val contigs = Seq("chr1", "chr2", "chr3")
  private val contigLen = 20000L

  private def site(rnd: scala.util.Random, c: String, pos: String, i: Int): String =
    s"$c\t$pos\t.\tA\tT\t${rnd.nextInt(99)}\tPASS\tDP=$i\tGT:DP\t0/1:${i % 50}"

  /** Plain-text VCF of `n` seeded random sites. */
  private def source(seed: Int, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    val body = (1 to n).map { i =>
      site(rnd, contigs(rnd.nextInt(contigs.size)), s"${1 + rnd.nextInt(contigLen.toInt)}", i)
    }
    val p = Files.createTempDirectory("graftparsrc").resolve("s.vcf")
    Files.writeString(p, (header ++ body).mkString("\n"))
    p.toString
  }

  /** One more bgzf + tbi part in `out`, sorted, with every 7th line's POS
    * unparseable ("x1", "", "1e3", and "." — the write path's form for a
    * null pos): null on both read paths. Such lines are not indexed. */
  private def malformedPart(out: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val bad = Seq("x1", "", "1e3", ".")
    val lines = header ++ contigs.flatMap { c =>
      (1 to 200).map(_ => 1 + rnd.nextInt(contigLen.toInt)).sorted.zipWithIndex.map {
        case (pos, i) => site(rnd, c, if (i % 7 == 3) bad(i % 4) else pos.toString, i)
      }
    }
    val p = java.nio.file.Paths.get(out, "part-extra.vcf.gz")
    val os = Files.newOutputStream(p)
    try Bgzf.write(lines.iterator, os, 512) finally os.close()
    Tabix.buildForVcf(spark.sessionState.newHadoopConf(), p.toString)
  }

  /** Sorted, multi-part bgzf + tbi output of `src`, written through the
    * vcf write path with small blocks so each part spans many splits. */
  private def writeIndexed(src: String, out: String): Unit =
    spark.read.format("vcf").load(src)
      .repartitionByRange(3, col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos")
      .write.format("vcf").mode("overwrite")
      .option("compression", "bgzf").option("bgzf_block_bytes", "512")
      .option("index", "tbi").save(out)

  private def v2(out: String): DataFrame =
    spark.read.format("vcf").option("split_bytes", "1024").load(out)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def randomRegion(rnd: scala.util.Random): Column = {
    val c = contigs(rnd.nextInt(contigs.size))
    val lo = rnd.nextInt((contigLen + 2000).toInt).toLong // some past the contig end
    val hi = rnd.nextInt(5) match {
      case 0 => lo - 1 - rnd.nextInt(500) // inverted
      case 1 => lo // one locus, usually empty
      case _ => lo + rnd.nextInt(3000)
    }
    rnd.nextInt(10) match {
      case 0 => col("chrom") === c && col("pos").isin(lit(lo), lit(null), lit(hi))
      case 1 => col("chrom").isin(lit(c), lit(null)) && col("pos") > lo && col("pos") < hi
      case 2 => col("chrom") === "chrX" && col("pos").between(lo, hi) // absent contig
      case _ => col("chrom") === c && col("pos").between(lo, hi)
    }
  }

  test("~200 random regions on a multi-part bgzf + tbi output equal the expression path") {
    val out = Files.createTempDirectory("graftpar").resolve("out").toString
    writeIndexed(source(seed = 5, n = 3000), out)
    malformedPart(out, seed = 9)
    val names = new java.io.File(out).list().toSeq
    val parts = names.filter(_.endsWith(".vcf.gz"))
    assert(parts.size > 2 && parts.forall(p => names.contains(p + ".tbi")), names)
    val expr = Vcf.read(spark, out).cache()
    try {
      assert(expr.count() == 3600L && expr.filter(col("pos").isNull).count() == 3L * 29)
      val rnd = new scala.util.Random(17)
      var nonEmpty = 0
      var onDriver = 0
      (1 to 200).foreach { i =>
        val c = randomRegion(rnd)
        val want = rows(expr.filter(c))
        val got = rows(v2(out).filter(c))
        assert(got == want, s"region $i: $c")
        if (got.nonEmpty) nonEmpty += 1
        // default split_bytes: under-cap regions take the driver-local arm
        val local = spark.read.format("vcf").load(out).filter(c)
        assert(rows(local) == want, s"region $i, default split_bytes: $c")
        if (local.queryExecution.executedPlan.collect {
          case l: org.apache.spark.sql.execution.LocalTableScanExec => l
        }.nonEmpty) onDriver += 1
      }
      assert(nonEmpty > 50, s"only $nonEmpty of 200 regions matched rows")
      assert(onDriver > 150, s"only $onDriver of 200 regions were read on the driver")
    } finally expr.unpersist()
  }

  test("a chrom-only region reaches lines whose POS does not parse (tbi build and write)") {
    val rnd = new scala.util.Random(3)
    // chr2's unparseable lines fill many splits that hold no other chr2 line
    val lines = header ++ (1 to 50).map(i => site(rnd, "chr1", s"${i * 10}", i)) ++
      (1 to 5).map(i => site(rnd, "chr2", s"${i * 10}", i)) ++
      (1 to 300).map(i => site(rnd, "chr2", "x1", i)) ++
      (1 to 400).map(i => site(rnd, "chr3", s"${i * 10}", i))
    val d = Files.createTempDirectory("graftparnp")
    val built = d.resolve("b.vcf.gz")
    val os = Files.newOutputStream(built)
    try Bgzf.write(lines.iterator, os, 512) finally os.close()
    Tabix.buildForVcf(spark.sessionState.newHadoopConf(), built.toString)
    val written = d.resolve("w").toString
    spark.read.format("vcf").load(built.toString).coalesce(1)
      .write.format("vcf").mode("overwrite")
      .option("compression", "bgzf").option("bgzf_block_bytes", "512")
      .option("index", "tbi").save(written)
    for (path <- Seq(built.toString, written)) {
      val q = v2(path).filter(col("chrom") === "chr2")
      assert(q.rdd.getNumPartitions < v2(path).rdd.getNumPartitions, s"$path: no pruning")
      assert(q.count() == 305L, path)
      assert(v2(path).filter(col("chrom") === "chr2" && col("pos") <= 20L).count() == 2L)
    }
  }

  test("overwriting the output in the same session: the next lookup sees the new rows") {
    val out = Files.createTempDirectory("graftparow").resolve("out").toString
    val region = col("chrom") === "chr2" && col("pos").between(2000L, 9000L)
    writeIndexed(source(seed = 6, n = 1500), out)
    val first = rows(v2(out).filter(region))
    writeIndexed(source(seed = 7, n = 2500), out)
    val second = rows(v2(out).filter(region))
    assert(first != second)
    assert(second == rows(Vcf.read(spark, out).filter(region)))
  }

  test("rewriting one bgzf file and its .tbi in place: the index cache follows the sidecar") {
    val d = Files.createTempDirectory("graftparip")
    val p = d.resolve("t.vcf.gz")
    def rewrite(step: Int): Unit = {
      val os = Files.newOutputStream(p)
      try Bgzf.write((header ++ (1 to 2000).map(i =>
        s"chr1\t${i * step}\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i")).iterator, os, 512)
      finally os.close()
      Tabix.buildForVcf(spark.sessionState.newHadoopConf(), p.toString)
    }
    def lookup = v2(p.toString).filter(col("chrom") === "chr1" && col("pos").between(3000L, 3999L))
    rewrite(step = 3)
    assert(lookup.count() == 334L)
    rewrite(step = 5)
    assert(lookup.count() == 200L)
  }

  private def allMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" ")

  test("a header mismatch still throws on a second planning with every header cached") {
    val d = Files.createTempDirectory("graftparhdr")
    def write(name: String, sample: String): Path = {
      val lines = header.init :+ header.last.replace("S1", sample)
      Files.writeString(d.resolve(name), (lines :+
        "chr1\t10\t.\tA\tT\t50\tPASS\tDP=1\tGT:DP\t0/1:3").mkString("\n"))
    }
    write("a.vcf", "S1"); write("b.vcf", "S2")
    def plan(): String = allMessages(intercept[Throwable] {
      spark.read.format("vcf").load(d.toString).count()
    })
    assert(plan().contains("sample columns"))
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(d.toString).getFileSystem(conf)
    fs.listStatus(new org.apache.hadoop.fs.Path(d.toString)).foreach { s =>
      assert(Vcf.headerMetaIfCached(s).isDefined, s"${s.getPath} not cached")
    }
    val again = plan()
    assert(again.contains("sample columns") && again.contains("b.vcf"), again)
  }
}
