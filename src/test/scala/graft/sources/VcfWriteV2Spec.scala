package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** `df.write.format("vcf")` round trips: write → read must be
  * frame-identical for plain text and bgzf output, single-sample and wide
  * panel shapes. */
class VcfWriteV2Spec extends SparkSpec {

  private val lines = Seq(
    "##fileformat=VCFv4.2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
    "chr1\t100\trs1\tA\tT\t50.5\tPASS\tDP=30;AF=0.5\tGT:AD:DP:GQ:PL\t0/1:10,20:30:99:50,0,80",
    "chr1\t200\t.\tG\tC,T\t.\t.\tDP=10\tGT:DP\t1|2:10",
    "chr2\t5\t.\tT\tA\t10\tLowQual\tEND=8\tGT:DP\t./.:7")

  private def srcPath(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    Files.writeString(d.resolve("t.vcf"), lines.mkString("\n"))
    d.resolve("t.vcf").toString
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("chrom", "pos").collect().toSeq
      .map(_.toSeq.map { case m: Map[_, _] => m.toSeq.sortBy(_._1.toString); case x => x })

  test("write → read round trip is frame-identical (plain text)") {
    val src = spark.read.format("vcf").load(srcPath("graftvcfw1"))
    val out = Files.createTempDirectory("graftvcfw1o").resolve("out").toString
    src.write.format("vcf").mode("overwrite").save(out)
    val back = spark.read.format("vcf").load(out)
    assert(back.schema == src.schema)
    assert(sortedRows(back) == sortedRows(src))
  }

  test("write → read round trip through bgzf compression") {
    val src = spark.read.format("vcf").load(srcPath("graftvcfw2"))
    val out = Files.createTempDirectory("graftvcfw2o").resolve("out").toString
    src.write.format("vcf").mode("overwrite")
      .option("compression", "bgzf").option("bgzf_block_bytes", "512").save(out)
    // output files are genuine chained BGZF members (bgzip-compatible)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.toString).filter(_.endsWith(".vcf.gz"))
    assert(parts.nonEmpty)
    parts.foreach(p => assert(Bgzf.isBgzf(conf, p), s"$p must be BGZF"))
    val back = spark.read.format("vcf").load(out)
    assert(sortedRows(back) == sortedRows(spark.read.format("vcf").load(srcPath("graftvcfw2b"))))
  }

  test("bad compression / bgzf_block_bytes fail naming the option and its value") {
    val src = spark.read.format("vcf").load(srcPath("graftvcfw9"))
    def write(k: String, v: String): Unit = {
      val out = Files.createTempDirectory("graftvcfw9o").resolve("out").toString
      src.write.format("vcf").mode("overwrite")
        .option("compression", "bgzf").option(k, v).save(out)
    }
    for ((k, v) <- Seq("compression" -> "gzip", "compression" -> "bgzf2",
        "bgzf_block_bytes" -> "abc", "bgzf_block_bytes" -> "15",
        "bgzf_block_bytes" -> "64513")) {
      val e = intercept[Exception](write(k, v))
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i.getMessage }
      assert(msg.exists(m => m.contains(k) && m.contains(s"'$v'")), s"$k=$v: $e")
    }
    // the bounds themselves are accepted
    write("bgzf_block_bytes", "16")
    write("bgzf_block_bytes", "64512")
  }

  test("wide panel (samples=all) round trips sample columns") {
    val d = Files.createTempDirectory("graftvcfw3")
    val wide = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tA\tB\tC",
      "chr1\t100\t.\tA\tT\t50\tPASS\tDP=9\tGT:DP\t0/1:3\t1/1:7\t0/0:2",
      "chr1\t200\t.\tG\tC\t40\tPASS\tDP=4\tGT:DP\t0/0:1\t0/1:5\t1/1:6")
    Files.writeString(d.resolve("w.vcf"), wide.mkString("\n"))
    val src = spark.read.format("vcf").option("samples", "all")
      .load(d.resolve("w.vcf").toString)
    val out = d.resolve("out").toString
    src.write.format("vcf").mode("overwrite")
      .option("sample_names", "A,B,C").save(out)
    val back = spark.read.format("vcf").option("samples", "all").load(out)
    assert(sortedRows(back) == sortedRows(src))
    // header carries the provided sample names
    val hdr = fsReadFirstLines(out)
    assert(hdr.exists(_.endsWith("FORMAT\tA\tB\tC")))
  }

  test("overwrite truncates previous output; append-shape partitioned write scales out") {
    val src = spark.read.format("vcf").load(srcPath("graftvcfw4"))
    val out = Files.createTempDirectory("graftvcfw4o").resolve("out").toString
    src.write.format("vcf").mode("overwrite").save(out)
    src.repartition(3).write.format("vcf").mode("overwrite").save(out)
    val back = spark.read.format("vcf").load(out)
    assert(back.count() == 3, "overwrite must not accumulate old part files")
    // multiple tasks → multiple part files, each header-bearing
    val headers = fsReadFirstLines(out)
    assert(headers.count(_ == "##fileformat=VCFv4.2") >= 1)
  }

  test("projection of the read schema writes cleanly with '.' degradation") {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      org.apache.spark.sql.Row("chrX", 42L, Seq("A", "G"))).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("chrom", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("alleles",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))))
    val df = spark.createDataFrame(rows, schema)
    val out = Files.createTempDirectory("graftvcfw5").resolve("out").toString
    df.write.format("vcf").mode("overwrite").save(out)
    val back = spark.read.format("vcf").load(out)
    val r = back.head
    assert(r.getAs[String]("chrom") == "chrX" && r.getAs[Long]("pos") == 42L)
    assert(r.getSeq[String](r.fieldIndex("alleles")) == Seq("A", "G"))
    assert(r.isNullAt(r.fieldIndex("qual")))
  }

  test("randomized write → read round trip over fuzzed line shapes") {
    // same shape generator family as the read-path fuzz: '.' markers,
    // ragged FORMAT, flag-only INFO, '=' inside INFO values, symbolic ALT
    val rnd = new scala.util.Random(4321)
    def maybe(s: => String): String = if (rnd.nextBoolean()) s else "."
    val infos = Seq("DP=30;AF=0.5", "X=a=b;FLAG;DP=7", "FLAG", ".", "K=;DP=1")
    val fmts = Seq(
      ("GT:AD:DP:GQ:PL", () => s"${Seq("0/1", "1|1", "./.")(rnd.nextInt(3))}:1,2:${rnd.nextInt(90)}:${rnd.nextInt(99)}:50,0,9"),
      ("GT:DP", () => s"0/${rnd.nextInt(2)}:${rnd.nextInt(50)}"),
      ("GT:AD:DP", () => Seq("0/1", "1/1:3,4", "0/1:5,6:9")(rnd.nextInt(3))))
    val src = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1") ++
      (1 to 300).map { i =>
        val (fmt, gen) = fmts(rnd.nextInt(fmts.length))
        Seq(s"chr${1 + i % 3}", s"${i * 11}", maybe(s"rs$i"),
          Seq("A", "CT")(rnd.nextInt(2)),
          Seq("T", "C,G", "<DEL>", ".")(rnd.nextInt(4)), maybe(s"${rnd.nextInt(99)}.5"),
          maybe("PASS"), infos(rnd.nextInt(infos.length)), fmt, gen()).mkString("\t")
      }
    val d = Files.createTempDirectory("graftvcfwfuzz")
    Files.writeString(d.resolve("f.vcf"), src.mkString("\n"))
    val first = spark.read.format("vcf").load(d.resolve("f.vcf").toString)
    val out = d.resolve("out").toString
    first.write.format("vcf").mode("overwrite")
      .option("compression", "bgzf").save(out)
    val second = spark.read.format("vcf").load(out)
    val a = sortedRows(first)
    val b = sortedRows(second)
    assert(a.length == 300 && b.length == 300)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i diverged after write:\n  before: $x\n  after:  $y")
    }
  }

  test("header sample count comes from the schema, not the first row") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // first row has a NULL sample: the header must still declare one
    // sample column (schema has `sample`), and the null row must pad to a
    // rectangular FORMAT '.' + '.' line, not an 8-column line
    val schema = StructType(Seq(
      StructField("chrom", StringType), StructField("pos", LongType),
      StructField("sample", MapType(StringType, StringType, valueContainsNull = false))))
    val rows = Seq(
      org.apache.spark.sql.Row("chr1", 5L, null),
      org.apache.spark.sql.Row("chr1", 9L, Map("GT" -> "0/1", "DP" -> "7"))).asJava
    val out = Files.createTempDirectory("graftvcfhdr").resolve("out").toString
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.format("vcf").mode("overwrite").save(out)
    val lines = fsReadFirstLines(out, take = 10)
    val hdr = lines.find(_.startsWith("#CHROM")).get
    assert(hdr.split("\t").length == 10, s"header must declare FORMAT+1 sample: $hdr")
    val data = lines.filterNot(_.startsWith("#"))
    assert(data.forall(_.split("\t", -1).length == 10),
      s"every data line must be rectangular: $data")
  }

  test("wide panel: null first sample and late-only FORMAT keys survive") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("chrom", StringType), StructField("pos", LongType),
      StructField("samples", ArrayType(
        MapType(StringType, StringType, valueContainsNull = false)))))
    val rows = Seq(
      // null FIRST element (used to NPE); GQ appears only in sample 2
      // (used to be silently dropped)
      org.apache.spark.sql.Row("chr1", 5L,
        Seq(null, Map("GT" -> "0/1", "GQ" -> "99"))),
      // all elements null: FORMAT '.' + '.' columns, no NPE
      org.apache.spark.sql.Row("chr1", 9L, Seq(null, null))).asJava
    val out = Files.createTempDirectory("graftvcfwide").resolve("out").toString
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.format("vcf").mode("overwrite").option("sample_names", "A,B").save(out)
    val lines = fsReadFirstLines(out, take = 10)
    assert(lines.exists(_.endsWith("FORMAT\tA\tB")))
    val l5 = lines.find(_.startsWith("chr1\t5")).get.split("\t", -1)
    assert(l5(8) == "GT:GQ" && l5(9) == ".:." && l5(10) == "0/1:99", l5.mkString("|"))
    val l9 = lines.find(_.startsWith("chr1\t9")).get.split("\t", -1)
    assert(l9.length == 11 && l9(8) == "." && l9(9) == "." && l9(10) == ".",
      l9.mkString("|"))
    // and the file still reads back through the wide parser
    val back = spark.read.format("vcf").option("samples", "all").load(out)
    assert(back.count() == 2)
  }

  private def fsReadFirstLines(dir: String, take: Int = 3): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq.filter(_.isFile).flatMap { s =>
      val name = s.getPath.getName
      if (name.startsWith("_")) Seq.empty
      else if (name.endsWith(".gz")) Seq.empty
      else {
        val in = fs.open(s.getPath)
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.getLines().take(take).toList finally src.close()
      }
    }
  }
}
