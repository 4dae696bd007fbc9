package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class VcfBedSpec extends SparkSpec {

  private val vcfLines = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer>",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
    "chr1\t100\trs1\tA\tT\t50.5\tPASS\tDP=30;AF=0.5\tGT:AD:DP:GQ:PL\t0/1:10,20:30:99:50,0,80",
    "chr1\t200\t.\tG\tC,T\t.\t.\tDP=10\tGT:DP\t1|2:10",
    "chr2\t5\t.\tT\tA\t10\tLowQual\tEND=8\tGT:DP\t./.:7")

  private lazy val vcfDir = {
    val d = Files.createTempDirectory("graftvcf")
    Files.writeString(d.resolve("t.vcf"), vcfLines.mkString("\n"))
    d.resolve("t.vcf").toString
  }

  test("VCF read: positions, alleles, INFO map, typed sample fields") {
    val df = Vcf.read(spark, vcfDir).orderBy("chrom", "pos")
    val rows = df.collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getAs[String]("chrom") == "chr1" && r0.getAs[Long]("pos") == 100L)
    assert(r0.getSeq[String](r0.fieldIndex("alleles")).toSeq == Seq("A", "T"))
    assert(r0.getAs[Double]("qual") == 50.5)
    assert(r0.getAs[Map[String, String]]("info") == Map("DP" -> "30", "AF" -> "0.5"))
    assert(r0.getSeq[Integer](r0.fieldIndex("gt")).toSeq == Seq(0, 1))
    assert(r0.getSeq[Integer](r0.fieldIndex("ad")).toSeq == Seq(10, 20))
    assert(r0.getSeq[Integer](r0.fieldIndex("pl")).toSeq == Seq(50, 0, 80))
    assert(r0.getAs[Int]("dp") == 30 && r0.getAs[Int]("gq") == 99)
    // phased multi-allelic genotype normalizes to the same array form
    assert(rows(1).getSeq[Integer](rows(1).fieldIndex("gt")).toSeq == Seq(1, 2))
    assert(rows(1).getSeq[String](rows(1).fieldIndex("alleles")).toSeq == Seq("G", "C", "T"))
    assert(rows(1).isNullAt(rows(1).fieldIndex("qual")))
    // no-call genotype has null elements
    assert(rows(2).getSeq[Integer](rows(2).fieldIndex("gt")).toSeq == Seq(null, null))
    // typed INFO accessors evaluate against the map column
    val ends = Vcf.read(spark, vcfDir).select(Vcf.infoLong("END")).collect().map(_.get(0))
    assert(ends.count(_ != null) == 1 && ends.contains(8L))
  }

  test("ragged sample columns: trailing FORMAT fields may be dropped (VCF spec)") {
    val d = Files.createTempDirectory("graftvcf_ragged")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
      // S1 carries only GT out of GT:AD:DP, S2 the full set
      "chr1\t100\t.\tA\tT\t50\tPASS\tDP=9\tGT:AD:DP\t0/1\t1/1:3,4:7")
    Files.writeString(d.resolve("r.vcf"), lines.mkString("\n"))
    val p = d.resolve("r.vcf").toString
    val s1 = Vcf.read(spark, p, sampleIndex = 0).head
    assert(s1.getSeq[Integer](s1.fieldIndex("gt")).toSeq == Seq(0, 1))
    assert(s1.isNullAt(s1.fieldIndex("ad")) && s1.isNullAt(s1.fieldIndex("dp")))
    val s2 = Vcf.read(spark, p, sampleIndex = 1).head
    assert(s2.getSeq[Integer](s2.fieldIndex("gt")).toSeq == Seq(1, 1))
    assert(s2.getSeq[Integer](s2.fieldIndex("ad")).toSeq == Seq(3, 4))
    assert(s2.getAs[Int]("dp") == 7)
    // the one-scan multi-sample path handles the same raggedness
    val both = Vcf.explodeSamples(Vcf.readAllSamples(spark, p))
      .orderBy("sample_idx").collect()
    assert(both(0).isNullAt(both(0).fieldIndex("dp")))
    assert(both(1).getAs[Int]("dp") == 7)
  }

  test("multi-sample VCF: sample discovery and per-sample reads") {
    val d = Files.createTempDirectory("graftvcf2")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tMOTHER\tFATHER",
      "chr1\t100\t.\tA\tT\t50\tPASS\tDP=30\tGT:GQ\t0/1:88\t1/1:42")
    Files.writeString(d.resolve("trio.vcf"), lines.mkString("\n"))
    val p = d.resolve("trio.vcf").toString
    assert(Vcf.sampleNames(spark, p) == Seq("MOTHER", "FATHER"))
    val mother = Vcf.read(spark, p, sampleIndex = 0).head
    val father = Vcf.read(spark, p, sampleIndex = 1).head
    assert(mother.getSeq[Integer](mother.fieldIndex("gt")).toSeq == Seq(0, 1))
    assert(mother.getAs[Int]("gq") == 88)
    assert(father.getSeq[Integer](father.fieldIndex("gt")).toSeq == Seq(1, 1))
    assert(father.getAs[Int]("gq") == 42)
  }

  test("readAllSamples + explodeSamples: one scan, one row per (record, sample)") {
    val d = Files.createTempDirectory("graftvcf3")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tMOTHER\tFATHER\tCHILD",
      "chr1\t100\t.\tA\tT\t50\tPASS\tDP=30\tGT:GQ\t0/1:88\t1/1:42\t./.:7",
      "chr1\t200\t.\tG\tC\t9\t.\tDP=5\tGT:GQ\t0/0:10\t0/1:20\t1/1:30")
    Files.writeString(d.resolve("trio.vcf"), lines.mkString("\n"))
    val p = d.resolve("trio.vcf").toString
    val wide = Vcf.readAllSamples(spark, p)
    assert(wide.count() == 2)
    assert(wide.select(size(col("samples"))).collect().forall(_.getInt(0) == 3))
    val long = Vcf.explodeSamples(wide).orderBy("pos", "sample_idx").collect()
    assert(long.length == 6)
    val r0 = long(0) // (pos 100, MOTHER)
    assert(r0.getAs[Int]("sample_idx") == 0 && r0.getAs[Int]("gq") == 88)
    assert(r0.getSeq[Integer](r0.fieldIndex("gt")).toSeq == Seq(0, 1))
    val r2 = long(2) // (pos 100, CHILD): no-call
    assert(r2.getSeq[Integer](r2.fieldIndex("gt")).toSeq == Seq(null, null))
    // long-form GQs line up with sample order within each record
    assert(long.map(_.getAs[Int]("gq")).toSeq == Seq(88, 42, 7, 10, 20, 30))

    // panel-width scaling guard: no Filter node may inline the line split —
    // an inferred pre-Generate filter (or a collapsed projection) that
    // re-derives `split(value)` inside an interpreted lambda re-splits the
    // line once per SAMPLE: O(width²) per record on a wide panel (measured
    // 0.2-0.35 s/LINE at 1000 samples before materializing _f/_keys and
    // switching to posexplode_outer)
    for (frame <- Seq(wide, Vcf.explodeSamples(wide))) {
      val plan = frame.queryExecution.optimizedPlan.toString
      val bad = plan.linesIterator
        .filter(l => l.contains("Filter") && l.contains("split(value"))
        .toSeq
      assert(bad.isEmpty, s"filter inlines the line split:\n${bad.mkString("\n")}")
      // the line must be split ONCE (the materialized _f projection) — a
      // collapsed projection that re-inlines it into the per-sample lambda
      // shows up as many occurrences
      val n = "split\\(value".r.findAllIn(plan).length
      assert(n <= 2, s"line split inlined $n times")
    }
  }

  test("withInfoFields projects custom INFO fields to typed lower-cased columns (sv_stats_collect.py:34-36)") {
    val d = Files.createTempDirectory("graftvcf4")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "chr1\t100\t.\tA\t<DEL>\t50\tPASS\tSVLEN=-120;SVTYPE=DEL;IMPRECISE\tGT\t0/1",
      "chr1\t500\t.\tG\t<INS>\t60\tPASS\tSVLEN=45;SVTYPE=INS\tGT\t0/1")
    Files.writeString(d.resolve("sv.vcf"), lines.mkString("\n"))
    val df = Vcf.withInfoFields(
      Vcf.read(spark, d.resolve("sv.vcf").toString),
      Map("SVLEN" -> "long", "SVTYPE" -> "string", "IMPRECISE" -> "flag"))
      .orderBy("pos").collect()
    assert(df(0).getAs[Long]("svlen") == -120L)
    assert(df(0).getAs[String]("svtype") == "DEL")
    assert(df(0).getAs[Boolean]("imprecise"))
    assert(df(1).getAs[Long]("svlen") == 45L && !df(1).getAs[Boolean]("imprecise"))
  }

  test("infoSchema infers the typed projection from ##INFO header lines") {
    val d = Files.createTempDirectory("graftvcf5")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=SVLEN,Number=1,Type=Integer,Description=\"sv length\">",
      "##INFO=<ID=AF,Number=1,Type=Float>",
      "##INFO=<ID=SVTYPE,Number=1,Type=String>",
      "##INFO=<ID=IMPRECISE,Number=0,Type=Flag>",
      "##INFO=<ID=AC,Number=A,Type=Integer>",  // per-allele -> stays string
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "chr1\t100\t.\tA\t<DEL>\t50\tPASS\tSVLEN=-120;AF=0.25;SVTYPE=DEL;IMPRECISE;AC=3,4\tGT\t0/1")
    Files.writeString(d.resolve("h.vcf"), lines.mkString("\n"))
    val p = d.resolve("h.vcf").toString
    assert(Vcf.infoSchema(spark, p) == Map(
      "SVLEN" -> "long", "AF" -> "double", "SVTYPE" -> "string",
      "IMPRECISE" -> "flag", "AC" -> "string"))
    val r = Vcf.readTyped(spark, p).head
    assert(r.getAs[Long]("svlen") == -120L)
    assert(r.getAs[Double]("af") == 0.25)
    assert(r.getAs[Boolean]("imprecise"))
    assert(r.getAs[String]("ac") == "3,4")
  }

  test("gzipped VCF reads transparently through the codec layer (bgzip is gzip-compatible)") {
    val d = Files.createTempDirectory("graftvcfgz")
    val gz = d.resolve("t.vcf.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write(vcfLines.mkString("\n").getBytes("UTF-8"))
    out.close()
    val df = Vcf.read(spark, gz.toString).orderBy("chrom", "pos")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("chrom") == "chr1" && rows(0).getAs[Long]("pos") == 100L)
    assert(rows(0).getAs[Int]("gq") == 99)
    // caveat worth knowing: .gz is a non-splittable codec — one task per
    // file; at scale feed many files (per-contig bgzip parts) or convert
    // to parquet once
  }

  test("vcf DataSourceV2: row-identical to the expression path") {
    val v1 = Vcf.read(spark, vcfDir)
    val v2 = spark.read.format("vcf").load(vcfDir)
    assert(v2.schema.map(f => (f.name, f.dataType)) ==
      v1.schema.map(f => (f.name, f.dataType)))
    val a = v1.orderBy("chrom", "pos").collect().map(_.toSeq)
    val b = v2.orderBy("chrom", "pos").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("vcf DataSourceV2: region predicate is pushed to the scan (bcftools -r parity)") {
    val q = spark.read.format("vcf").load(vcfDir)
      .filter(col("chrom") === "chr1" && col("pos") > 150L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), "vcf scan surfaces pushed filters")
    assert(plan.contains("chrom") && plan.contains("pos"),
      s"region predicates reach the scan: $plan")
    val expect = Vcf.read(spark, vcfDir)
      .filter(col("chrom") === "chr1" && col("pos") > 150L)
      .collect().map(_.toSeq)
    assert(q.collect().map(_.toSeq).toSeq == expect.toSeq)
  }

  test("vcf DataSourceV2: column pruning reaches the scan") {
    val q = spark.read.format("vcf").load(vcfDir).select("chrom", "pos")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: chrom,pos"), s"pruned scan schema: $plan")
    assert(q.orderBy("chrom", "pos").collect().map(_.toSeq).toSeq ==
      Seq(Seq("chr1", 100L), Seq("chr1", 200L), Seq("chr2", 5L)))
  }

  test("vcf DataSourceV2: byte-range splits tile a plain-text file exactly once") {
    val d = Files.createTempDirectory("graftvcfsplit")
    val header = vcfLines.take(3)
    val body = (1 to 500).map { i =>
      s"chr${1 + i % 3}\t${i * 10}\t.\tA\tT\t$i\tPASS\tDP=$i\tGT:DP\t0/1:$i"
    }
    Files.writeString(d.resolve("big.vcf"), (header ++ body).mkString("\n"))
    val p = d.resolve("big.vcf").toString
    val v2 = spark.read.format("vcf").option("split_bytes", "2048").load(p)
    assert(v2.rdd.getNumPartitions > 1, "small split_bytes yields multiple tasks")
    val got = v2.agg(count(lit(1)), sum("pos"), sum("dp")).head
    assert(got.getLong(0) == 500L)
    assert(got.getLong(1) == (1 to 500).map(_ * 10L).sum)
    assert(got.getLong(2) == (1 to 500).map(_.toLong).sum)
    // pushed region query agrees with the expression path on the split read
    val v2r = v2.filter(col("pos") > 2000L && col("pos") <= 3000L)
    val v1r = Vcf.read(spark, p).filter(col("pos") > 2000L && col("pos") <= 3000L)
    assert(v2r.orderBy("chrom", "pos").collect().map(_.toSeq).toSeq ==
      v1r.orderBy("chrom", "pos").collect().map(_.toSeq).toSeq)
  }

  test("vcf DataSourceV2: samples=all matches readAllSamples and composes with explodeSamples") {
    val d = Files.createTempDirectory("graftvcfv2panel")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3",
      "chr1\t100\t.\tA\tT\t50\tPASS\tDP=9\tGT:AD:DP\t0/1:1,2:11\t1/1\t./.:3,4:33",
      "chr1\t200\t.\tG\tC\t60\tPASS\tDP=8\tGT:DP\t0/0:1\t0/1:2\t1/1:3")
    Files.writeString(d.resolve("p.vcf"), lines.mkString("\n"))
    val p = d.resolve("p.vcf").toString
    val wide1 = Vcf.readAllSamples(spark, p)
    val wide2 = spark.read.format("vcf").option("samples", "all").load(p)
    assert(wide2.schema.map(f => (f.name, f.dataType)) ==
      wide1.schema.map(f => (f.name, f.dataType)))
    val a = wide1.orderBy("pos").collect().map(_.toSeq)
    val b = wide2.orderBy("pos").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // the long form works identically downstream of either scan
    val long1 = Vcf.explodeSamples(wide1).orderBy("pos", "sample_idx")
      .select("pos", "sample_idx", "gt", "dp").collect().map(_.toSeq)
    val long2 = Vcf.explodeSamples(wide2).orderBy("pos", "sample_idx")
      .select("pos", "sample_idx", "gt", "dp").collect().map(_.toSeq)
    assert(long1.toSeq == long2.toSeq && long1.length == 6)
  }

  test("vcf DataSourceV2: FILTER/QUAL predicates push to the scan (bcftools -f/-i parity)") {
    val q = spark.read.format("vcf").load(vcfDir)
      .filter(col("filter") === "PASS" && col("qual") > 20.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("filter") &&
      plan.contains("qual"), s"FILTER/QUAL reach the scan: $plan")
    val expect = Vcf.read(spark, vcfDir)
      .filter(col("filter") === "PASS" && col("qual") > 20.0)
      .collect().map(_.toSeq)
    assert(q.collect().map(_.toSeq).toSeq == expect.toSeq)
    assert(expect.length == 1) // only the chr1:100 row is PASS with qual 50.5
    // '.' qual never satisfies a pushed comparison, same as the engine filter
    assert(spark.read.format("vcf").load(vcfDir).filter(col("qual") <= 1e9).count() ==
      Vcf.read(spark, vcfDir).filter(col("qual") <= 1e9).count())
  }

  test("vcf DataSourceV2: FORMAT-field predicates (gq/dp) push to the scan") {
    val d = Files.createTempDirectory("graftvcfgq")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "chr1\t100\t.\tA\tT\t50\tPASS\tDP=30\tGT:GQ:DP\t0/1:99:30",
      "chr1\t200\t.\tG\tC\t40\tPASS\tDP=10\tGT:GQ:DP\t0/1:15:10",
      "chr1\t300\t.\tT\tA\t30\tPASS\tDP=5\tGT:DP\t0/1:5",          // no GQ key
      "chr1\t400\t.\tC\tG\t20\tPASS\tDP=7\tGT:GQ\t0/1:.",          // unparseable GQ
      "chr1\t500\t.\tA\tG\t10\tPASS\tDP=2\tGT:GQ:DP\t0/1:55:2")
    Files.writeString(d.resolve("g.vcf"), lines.mkString("\n"))
    val p = d.resolve("g.vcf").toString

    // the reference's FORMAT/GQ[0]>20 pre-filter
    // (correct_genotypes_by_imputation.py:141-148)
    val q = spark.read.format("vcf").load(p).filter(col("gq") > 20)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("gq"),
      s"gq must reach the scan: $plan")
    def expect(c: org.apache.spark.sql.Column) =
      Vcf.read(spark, p).filter(c).collect().map(_.toSeq).toSeq
    assert(q.collect().map(_.toSeq).toSeq == expect(col("gq") > 20))
    assert(q.count() == 2) // null/absent GQ never matches, like the engine filter

    // combined prefix + sample predicates stage correctly
    val both = spark.read.format("vcf").load(p)
      .filter(col("pos") <= 400 && col("dp") >= 10)
    assert(both.collect().map(_.toSeq).toSeq ==
      expect(col("pos") <= 400 && col("dp") >= 10))
    assert(both.count() == 2)
    // IsNotNull + In shapes
    assert(spark.read.format("vcf").load(p).filter(col("gq").isNotNull).count() == 3)
    assert(spark.read.format("vcf").load(p).filter(col("dp").isin(30, 2)).count() == 2)
  }

  /** The line-shape fuzz: ragged FORMAT columns, missing trailing fields,
    * '.' markers, '=' inside INFO values, flag-only INFO entries,
    * phased/haploid/no-call genotypes. `single` is the 400-line
    * single-sample body, drawn first from `rnd`; each of `fmts` is a
    * FORMAT and a generator of its sample values, drawing from `rnd`. */
  private final class Fuzz(val rnd: scala.util.Random) {
    private def maybe(s: => String): String = if (rnd.nextBoolean()) s else "."
    private val infos = Seq("DP=30;AF=0.5", "X=a=b;FLAG;DP=7", "FLAG", ".", "K=;DP=1", "AF=0.1,0.2")
    val fmts = Seq(
      ("GT:AD:DP:GQ:PL", () => s"${Seq("0/1","1|1","0","./.", "1")(rnd.nextInt(5))}:${rnd.nextInt(30)},${rnd.nextInt(30)}:${rnd.nextInt(90)}:${rnd.nextInt(99)}:50,0,${rnd.nextInt(90)}"),
      ("GT:DP", () => s"${Seq("0/0","1/2","."," 1/1".trim)(rnd.nextInt(4))}:${rnd.nextInt(50)}"),
      ("GT:AD:DP", () => Seq("0/1", "1/1:3,4", "0/1:5,6:9")(rnd.nextInt(3))), // ragged
      ("DP:GQ", () => s"${rnd.nextInt(60)}:${rnd.nextInt(99)}"))              // no GT
    val single: Seq[String] = (1 to 400).map { i =>
      val (fmt, gen) = fmts(rnd.nextInt(fmts.length))
      Seq(s"chr${1 + i % 4}", s"${i * 13}", maybe(s"rs$i"), Seq("A","CT","G")(rnd.nextInt(3)),
        Seq("T", "C,G", "<DEL>", ".")(rnd.nextInt(4)), maybe(s"${rnd.nextInt(99)}.5"),
        maybe("PASS"), infos(rnd.nextInt(infos.length)), fmt, gen()).mkString("\t")
    }
  }

  /** `n` lines cut short of a sample column, each the first 1-9 fields of
    * one of `full` under its own chrom: truncated (a line of fewer than 8
    * fields), sites-only (8) and FORMAT-only (9). */
  private def shortLines(full: Seq[String], n: Int, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val f = full(rnd.nextInt(full.length)).split("\t")
      (s"chrS$i" +: f.slice(1, 1 + rnd.nextInt(9))).mkString("\t")
    }
  }

  private val fuzzHeader = Seq("##fileformat=VCFv4.2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")

  /** The single-sample fuzz file: [[Fuzz.single]] and 60 short lines. */
  private lazy val fuzzFile: String = {
    val f = new Fuzz(new scala.util.Random(1234))
    val d = Files.createTempDirectory("graftvcffuzz")
    Files.writeString(d.resolve("f.vcf"),
      (fuzzHeader ++ f.single ++ shortLines(f.single, 60, 4321)).mkString("\n"))
    d.resolve("f.vcf").toString
  }

  test("vcf DataSourceV2: randomized line-shape equivalence with the expression path") {
    // the V2 record hand-replays Vcf.fromLines' expression semantics; this
    // property hunts divergence on the fuzz shapes, whole and cut short
    val p = fuzzFile
    val a = Vcf.read(spark, p).orderBy("chrom", "pos").collect().map(_.toSeq)
    val b = spark.read.format("vcf").option("split_bytes", "4096").load(p)
      .orderBy("chrom", "pos").collect().map(_.toSeq)
    assert(a.length == 460 && b.length == 460)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i diverged:\n  expr: $x\n  v2:   $y")
    }

    // same hunt for the wide panel shape: random per-sample raggedness
    val fuzz = new Fuzz(new scala.util.Random(1234))
    val full = (1 to 200).map { i =>
      val (fmt, gen) = fuzz.fmts(fuzz.rnd.nextInt(2)) // GT-bearing formats
      Seq(s"chr${1 + i % 3}", s"${i * 7}", ".", "A", "T", "50", "PASS",
        "DP=5", fmt, gen(), gen(), gen()).mkString("\t")
    }
    val panel = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3") ++
      full ++ shortLines(full, 30, 8765)
    val pp = Files.createTempDirectory("graftvcffuzz").resolve("panel.vcf")
    Files.writeString(pp, panel.mkString("\n"))
    val wa = Vcf.readAllSamples(spark, pp.toString).orderBy("chrom", "pos")
      .collect().map(_.toSeq)
    val wb = spark.read.format("vcf").option("samples", "all")
      .option("split_bytes", "2048").load(pp.toString).orderBy("chrom", "pos")
      .collect().map(_.toSeq)
    assert(wa.length == 230 && wa.toSeq == wb.toSeq)
  }

  test("vcf DataSourceV2: randomized pushed filter trees keep the expression path's rows") {
    // random And/Or trees over every pushable column, typed INFO included,
    // with null, NaN, -0.0, Int and Long comparands: whatever the scan
    // keeps or decides, the rows are those of Vcf.read(...).filter(p)
    val infoFields = Map("DP" -> "long", "AF" -> "double", "FLAG" -> "flag")
    val v2 = spark.read.format("vcf").option("info_fields", "DP:long,AF:double,FLAG:flag")
      .load(fuzzFile)
    val expr = Vcf.withInfoFields(Vcf.read(spark, fuzzFile).withColumnRenamed("dp", "fmt_dp"),
      infoFields).withColumnRenamed("dp", "info_dp").withColumnRenamed("af", "info_af")
      .withColumnRenamed("flag", "info_flag").withColumnRenamed("fmt_dp", "dp").cache()
    assert(expr.columns.toSeq == v2.columns.toSeq)
    val rnd = new scala.util.Random(20261020)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def leaf(): org.apache.spark.sql.Column = {
      val (c, vs) = pick[(String, Seq[Any])](
        "chrom" -> Seq("chr1", "chr2", "chr4", "chrS7", ""),
        "pos" -> Seq(0L, 13L, 2600L, 2601L, Long.MaxValue, 13, 2600),
        "qual" -> Seq(Double.NaN, -0.0, 0.0, 12.5, 50.5, Double.PositiveInfinity),
        "filter" -> Seq("PASS", ".", ""),
        "gq" -> Seq(0, 20, 50, 98, 20L),
        "dp" -> Seq(0, 10, 30, 49, 10L),
        "info_dp" -> Seq(1L, 7L, 30L, 7, 30),
        "info_af" -> Seq(Double.NaN, -0.0, 0.1, 0.5),
        "info_flag" -> Seq(true, false))
      val x = col(c)
      def v: Any = pick(vs: _*)
      rnd.nextInt(9) match {
        case 0 => x === v
        case 1 => x > v
        case 2 => x >= v
        case 3 => x < v
        case 4 => x <= v
        case 5 => x.isin(v, v)
        case 6 => x.isin(v, null)
        case 7 => x.isNotNull
        case _ => x === lit(null)
      }
    }
    def tree(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else if (rnd.nextBoolean()) tree(depth - 1) && tree(depth - 1)
      else tree(depth - 1) || tree(depth - 1)
    // rows as text, sorted: NaN must equal itself
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def pushed(df: org.apache.spark.sql.DataFrame): String =
      "PushedFilters: \\[(.*?)\\], ReadSchema".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString).map(_.group(1)).getOrElse("")
    // the first 20 trees' PushedFilters, as the scan planned them before
    // its evaluator was rewritten over VcfRecord
    val recorded = Seq(
      "IsNotNull(info_dp), EqualTo(info_dp,1)",
      "Or(Or(Or(EqualTo(chrom,chr1),GreaterThan(info_dp,7)),IsNotNull(info_dp)),EqualTo(info_af,0.5))",
      "IsNotNull(info_af), IsNotNull(chrom), In(filter, [,PASS]), IsNotNull(pos), GreaterThanOrEqual(info_af,-0.0), LessThanOrEqual(pos,0), GreaterThan(info_af,0.1)",
      "",
      "",
      "IsNotNull(info_dp), LessThanOrEqual(info_dp,30)",
      "Or(Or(Or(LessThanOrEqual(info_flag,false),GreaterThanOrEqual(gq,98)),In(info_dp, [30,7])),Or(IsNotNull(chrom),LessThan(pos,13)))",
      "IsNotNull(pos), GreaterThan(pos,9223372036854775807)",
      "Or(LessThanOrEqual(pos,0),And(Or(EqualTo(filter,PASS),EqualTo(qual,12.5)),Or(GreaterThanOrEqual(info_dp,7),EqualTo(pos,9223372036854775807))))",
      "Or(EqualTo(info_dp,30),Or(LessThan(pos,2600),In(chrom, [,chr1])))",
      "",
      "",
      "Or(And(And(LessThanOrEqual(qual,-0.0),GreaterThan(pos,13)),And(IsNotNull(info_flag),EqualTo(gq,20))),GreaterThan(gq,50))",
      "IsNotNull(info_flag), IsNotNull(chrom), GreaterThan(qual,Infinity), IsNotNull(pos), IsNotNull(qual)",
      "IsNotNull(info_dp), GreaterThan(info_dp,7)",
      "",
      "IsNotNull(filter)",
      "In(gq, [20,null])",
      "Or(GreaterThan(gq,20),Or(And(LessThanOrEqual(info_flag,true),In(gq, [20,98])),Or(GreaterThan(info_flag,true),LessThanOrEqual(dp,49))))",
      "Or(LessThan(gq,0),And(And(LessThanOrEqual(info_dp,30),EqualTo(info_flag,true)),GreaterThan(info_af,NaN)))")
    try (0 until 200).foreach { i =>
      val p = tree(3)
      val q = v2.filter(p)
      assert(rows(q) == rows(expr.filter(p)), s"tree $i: $p")
      if (i < recorded.length) assert(pushed(q) == recorded(i), s"tree $i: $p")
    } finally expr.unpersist()
  }

  test("vcf DataSourceV2: LIMIT stops readers early (stream closed) and count() scans an empty projection") {
    // limit: the PartitionReader is closed before exhaustion — the
    // AutoCloseable line iterators must release their FS streams
    val two = spark.read.format("vcf").load(vcfDir).limit(2).collect()
    assert(two.length == 2)
    // empty required schema (count-only) still iterates rows
    assert(spark.read.format("vcf").load(vcfDir).count() == 3L)
  }

  test("vcf DataSourceV2: sample_index option and directory loads match the expression path") {
    val d = Files.createTempDirectory("graftvcfv2dir")
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
      "chr1\t100\t.\tA\tT\t50\tPASS\tDP=9\tGT:DP\t0/1:11\t1/1:22",
      "chr1\t200\t.\tG\tC\t60\tPASS\tDP=8\tGT:DP\t0/0:33\t0/1:44")
    Files.writeString(d.resolve("a.vcf"), lines.mkString("\n"))
    Files.writeString(d.resolve("b.vcf"), lines.mkString("\n")
      .replace("chr1", "chr2"))
    // second sample via option
    val s2 = spark.read.format("vcf").option("sample_index", "1")
      .load(d.resolve("a.vcf").toString)
    assert(s2.orderBy("pos").collect().map(_.getAs[Int]("dp")).toSeq == Seq(22, 44))
    // directory load picks up both files
    val all = spark.read.format("vcf").load(d.toString)
    assert(all.count() == 4)
    assert(all.select("chrom").distinct().collect().map(_.getString(0)).toSet ==
      Set("chr1", "chr2"))
  }

  test("vcf DataSourceV2: BGZF files split; plain gzip falls back to one whole-file task") {
    val d = Files.createTempDirectory("graftvcfv2gz")
    val header = vcfLines.take(3)
    val body = (1 to 300).map { i =>
      s"chr1\t$i\t.\tG\tC\t50\tPASS\tDP=$i\tGT\t0/1"
    }
    val bg = d.resolve("b.vcf.gz")
    val os = Files.newOutputStream(bg)
    Bgzf.write((header ++ body).iterator, os, blockBytes = 1024)
    os.close()
    val v2 = spark.read.format("vcf").option("split_bytes", "1024").load(bg.toString)
    assert(v2.rdd.getNumPartitions > 1, "bgzf read splits by compressed offset")
    assert(v2.count() == 300L)
    assert(v2.agg(sum("pos")).head.getLong(0) == (1 to 300).map(_.toLong).sum)

    val gz = d.resolve("p.vcf.gz")
    val go = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    go.write((header ++ body).mkString("\n").getBytes("UTF-8")); go.close()
    val v2g = spark.read.format("vcf").option("split_bytes", "1024").load(gz.toString)
    assert(v2g.rdd.getNumPartitions == 1, "plain gzip is not splittable")
    assert(v2g.count() == 300L)
  }

  test("vcf DataSourceV2: null comparand in a pushed In/EqualTo is a non-match, not an NPE") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In}
    val head = new VcfRecord().reset("chr1\t100\t.\tA\tT\t50")
    def keeps(f: org.apache.spark.sql.sources.Filter) =
      VcfFilterEval.eval(VcfFilterEval.bind(f, head), head)
    // Spark translates col("pos").isin(100L, null) into a sources.In whose
    // values array contains null — SQL three-valued logic says a null
    // comparand never matches, so the scan must drop, not NPE.
    assert(keeps(In("pos", Array[Any](100L, null))))
    assert(!keeps(In("pos", Array[Any](null))))
    assert(!keeps(In("qual", Array[Any](null, 49.0))))
    assert(!keeps(EqualTo("pos", null)))
    assert(!keeps(GreaterThan("qual", null)))
    // a string comparand is bound to the UTF8String the chrom column is
    assert(keeps(EqualTo("chrom", "chr1")))
    assert(!keeps(EqualTo("chrom", "chr10")))
    // end-to-end through the pushdown machinery
    val v2 = spark.read.format("vcf").load(vcfDir)
    assert(v2.filter(col("pos").isin(lit(100L), lit(null))).count() == 1L)
  }

  test("duplicate INFO/FORMAT keys throw on both parse paths (mapKeyDedupPolicy parity)") {
    val d = Files.createTempDirectory("graftvcf_dup")
    def write(name: String, line: String): String = {
      val lines = Seq("##fileformat=VCFv4.2",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1", line)
      Files.writeString(d.resolve(name), lines.mkString("\n"))
      d.resolve(name).toString
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val dupInfo = write("i.vcf", "chr1\t100\t.\tA\tT\t50\tPASS\tDP=1;DP=2\tGT\t0/1")
    val dupFmt = write("f.vcf", "chr1\t100\t.\tA\tT\t50\tPASS\tDP=1\tGT:DP:DP\t0/1:3:4")
    def bothThrow(path: String, q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      // expression path: str_to_map / map_from_arrays under the default
      // spark.sql.mapKeyDedupPolicy=EXCEPTION
      val eExpr = intercept[Throwable] {
        q(Vcf.read(spark, path)).collect()
      }
      assert(messages(eExpr).toLowerCase.contains("duplicate map key"), messages(eExpr))
      // v2 path must not silently last-wins where the expression path throws
      val eV2 = intercept[Throwable] {
        q(spark.read.format("vcf").load(path)).collect()
      }
      assert(messages(eV2).toLowerCase.contains("duplicate map key"), messages(eV2))
    }
    for (path <- Seq(dupInfo, dupFmt)) bothThrow(path, _.select("info", "sample"))
    // whatever the projection or pushed filter reads of FORMAT
    for (c <- Seq("gt", "ad", "pl", "dp", "gq")) bothThrow(dupFmt, _.select(c))
    bothThrow(dupFmt, _.filter(col("gq") > 0).select("chrom"))
  }

  test("vcf read options out of range fail naming the option and its value") {
    def message(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    for ((o, v) <- Seq("split_bytes" -> "-1", "split_bytes" -> "0",
                       "sample_index" -> "-1", "sample_index" -> "x")) {
      val m = message(spark.read.format("vcf").option(o, v).load(vcfDir).collect())
      assert(m.contains(o) && m.contains(v), m)
    }
    for (m <- Seq(message(Vcf.read(spark, vcfDir, -1)),
                  message(Vcf.readStream(spark, new java.io.File(vcfDir).getParent, -1))))
      assert(m.contains("sampleIndex") && m.contains("-1"), m)
    assert(spark.read.format("vcf").option("split_bytes", "64").option("sample_index", "0")
      .load(vcfDir).count() == 3L)
  }

  test("BED read/write round-trip with half-open intervals") {
    val d = Files.createTempDirectory("graftbed")
    Files.writeString(d.resolve("t.bed"), "chr1\t0\t100\nchr1\t150\t300\nchr2\t10\t20\n")
    val df = Bed.read(spark, d.resolve("t.bed").toString)
    assert(df.count() == 3)
    assert(df.filter(col("chrom") === "chr1").agg(sum(col("end") - col("start")))
      .head.getLong(0) == 250L)
    val out = d.resolve("out").toString
    Bed.write(df, out)
    val back = Bed.read(spark, out)
    assert(back.select("chrom", "start", "end").collect().map(_.toSeq).toSet ==
      df.select("chrom", "start", "end").collect().map(_.toSeq).toSet)
  }

  test("header inference is O(header): stops at the first data line") {
    val d = Files.createTempDirectory("grafthdrbound")
    val hdr = Seq("##fileformat=VCFv4.2",
      "##INFO=<ID=AN,Number=1,Type=Integer,Description=\"a\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSampleX")
    // bgzf file whose first block holds header + one data line, followed by
    // a megabyte of garbage that is NOT valid gzip: a reader that touches
    // anything past the header's block would throw. Bounded inference
    // must succeed regardless.
    val p = d.resolve("h.vcf.gz")
    val os = Files.newOutputStream(p)
    Bgzf.write((hdr :+ "chr1\t1\t.\tA\tT\t50\tPASS\tAN=2\tGT\t0/1").iterator, os,
      blockBytes = 60000)
    os.write(Array.fill[Byte](1 << 20)(0x5a)) // garbage tail
    os.close()
    assert(Vcf.headerLines(spark, p.toString) == hdr)
    assert(Vcf.sampleNames(spark, p.toString) == Seq("SampleX"))
    assert(Vcf.infoSchema(spark, p.toString) == Map("AN" -> "long"))
    // plain-text + directory resolution still work
    val sub = d.resolve("dir"); Files.createDirectories(sub)
    Files.writeString(sub.resolve("a.vcf"),
      (hdr :+ "chr1\t5\t.\tG\tC\t9\tPASS\tAN=4\tGT\t0/1").mkString("\n"))
    assert(Vcf.headerLines(spark, sub.toString) == hdr)
  }

  test("Picard .interval_list reads natively: @-headers skipped, 1-based closed → half-open") {
    val d = Files.createTempDirectory("graftilist")
    // golden fixture in Picard's own layout (SAM-style header + 1-based
    // closed intervals with strand and name)
    Files.writeString(d.resolve("t.interval_list"), Seq(
      "@HD\tVN:1.6\tSO:coordinate",
      "@SQ\tSN:chr1\tLN:248956422",
      "@SQ\tSN:chr2\tLN:242193529",
      "chr1\t1\t100\t+\ttarget_a",
      "chr1\t151\t300\t-\ttarget_b",
      "chr2\t11\t20\t+\ttarget_c").mkString("\n"))
    val il = Bed.readIntervalList(spark, d.resolve("t.interval_list").toString)
    // the BED-converted equivalent (what `picard IntervalListToBed` emits):
    // starts shift down one, ends stay — frames must agree exactly
    Files.writeString(d.resolve("t.bed"),
      "chr1\t0\t100\ttarget_a\nchr1\t150\t300\ttarget_b\nchr2\t10\t20\ttarget_c\n")
    val bed = Bed.read(spark, d.resolve("t.bed").toString)
    assert(il.select("chrom", "start", "end").orderBy("chrom", "start")
      .collect().map(_.toSeq).toSeq ==
      bed.select("chrom", "start", "end").orderBy("chrom", "start")
        .collect().map(_.toSeq).toSeq)
    // strand/name survive (the columns IntervalListToBed folds away)
    assert(il.orderBy("chrom", "start").select("strand", "name")
      .collect().map(_.toSeq).toSeq ==
      Seq(Seq("+", "target_a"), Seq("-", "target_b"), Seq("+", "target_c")))
    // half-open arithmetic: widths match the closed-interval row counts
    assert(il.agg(sum(col("end") - col("start"))).head.getLong(0) == 260L)
  }
}
