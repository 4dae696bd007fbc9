package graft.sources

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions.col
import java.io.FileOutputStream
import java.nio.file.Files

class BgzfSpec extends SparkSpec {

  private val conf = new Configuration()

  private def writeFile(lines: Seq[String], blockBytes: Int): String = {
    val f = Files.createTempDirectory("graft_bgzf").resolve("t.gz").toFile
    val out = new FileOutputStream(f)
    try Bgzf.write(lines.iterator, out, blockBytes) finally out.close()
    f.getAbsolutePath
  }

  /** `lines` written as by [[writeFile]], with each line's virtual
    * offsets [vBeg, vEnd) as the writer computes them: the sink's
    * [[Bgzf.LineSink.virtualOffset]] before the line and before the next. */
  private def writeWithOffsets(lines: Seq[String],
                               blockBytes: Int): (String, IndexedSeq[(Long, Long)]) = {
    val f = Files.createTempDirectory("graft_bgzf").resolve("t.gz").toFile
    val out = new FileOutputStream(f)
    val sink = new Bgzf.LineSink(out, blockBytes)
    val begs =
      try lines.toIndexedSeq.map { l => val v = sink.virtualOffset; sink.writeLine(l); v } :+
        sink.virtualOffset
      finally { sink.close(); out.close() }
    (f.getAbsolutePath, begs.zip(begs.tail))
  }

  private def blockStarts(path: String): Seq[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val b = Seq.newBuilder[Long]
      var off = 0L
      while (off < len) {
        val next = Bgzf.findBlockStart(in, off, len)
        if (next < len) b += next
        off = math.max(next + 1, off + 1)
      }
      b.result()
    } finally in.close()
  }

  /** Every line of `path` read as consecutive `splitBytes` ranges, each
    * through its own [[Bgzf.splitLines]]. */
  private def splitRead(path: String, splitBytes: Long): Seq[Seq[String]] = {
    val len = Files.size(java.nio.file.Paths.get(path))
    (0L until len by splitBytes).map { s =>
      val it = Bgzf.splitLines(conf, path, s, math.min(s + splitBytes, len))
      try it.toList finally it.close()
    }
  }

  private val rnd = new scala.util.Random(11)
  private val lines: Seq[String] = (0 until 3000).map { i =>
    val len = rnd.nextInt(120)
    s"line$i " + ("x" * len)
  }

  test("multi-block roundtrip with many small splits is exact and parallel") {
    val path = writeFile(lines, blockBytes = 512)
    assert(blockStarts(path).length > 100, "corpus must span many blocks")
    val parts = splitRead(path, splitBytes = 2048)
    assert(parts.count(_.nonEmpty) > 10, "the read must genuinely split")
    assert(parts.flatten == lines)
  }

  test("handcrafted split boundaries: exact block starts, mid-block, inside-block") {
    val path = writeFile(lines, blockBytes = 512)
    val starts = blockStarts(path)
    val fileLen = {
      val p = new Path(path)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }
    // boundaries: exactly on block starts, mid-block, and clustered so some
    // ranges contain no block start at all
    val cuts = (Seq(0L) ++ starts.slice(3, 6) ++ starts.slice(10, 12).map(_ + 7) ++
      Seq(starts(20) + 1, starts(20) + 2, starts(20) + 3) ++ Seq(fileLen)).distinct.sorted
    val ranges = cuts.zip(cuts.tail)
    val got = ranges.flatMap { case (s, e) =>
      Bgzf.splitLines(conf, path, s, e).toSeq
    }
    assert(got == lines)
  }

  test("a line spanning many blocks and whole split ranges is emitted exactly once") {
    val giant = "G" * 300000 // ~600 blocks at 512B — swallows whole splits
    val corpus = lines.take(50) ++ Seq(giant) ++ lines.slice(50, 100)
    val path = writeFile(corpus, blockBytes = 512)
    assert(splitRead(path, splitBytes = 1024).flatten == corpus)
  }

  test("readBgzf parses a bgzip VCF identically to the plain-text read, split >1") {
    val header = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
    val body = (1 to 4000).map { i =>
      s"chr${i % 5}\t${i * 10}\t.\tA\tT\t${i % 90}.5\tPASS\tDP=${i % 60}\tGT:DP\t0/1:${i % 40}"
    }
    val dir = Files.createTempDirectory("graft_bgzf_vcf")
    val plain = dir.resolve("t.vcf")
    Files.writeString(plain, (header ++ body).mkString("\n"))
    val gz = dir.resolve("t.vcf.gz").toFile
    val out = new FileOutputStream(gz)
    try Bgzf.write((header ++ body).iterator, out, blockBytes = 1024) finally out.close()

    val viaScan = spark.read.format("vcf").option("split_bytes", "4096")
      .load(gz.getAbsolutePath)
    assert(viaScan.rdd.getNumPartitions > 1)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("chrom", "pos").collect().map(_.toString).toSeq
    val a = rows(viaScan)
    assert(a == rows(Vcf.read(spark, gz.getAbsolutePath)))
    // bgzip's other extension decodes through the same codec
    val bgz = Files.copy(gz.toPath, dir.resolve("t.vcf.bgz"))
    assert(a == rows(Vcf.read(spark, bgz.toString)))
    assert(a == rows(Vcf.read(spark, plain.toString)) && a.length == 4000)
  }

  test("chunkLines reads exactly each chunk's lines at block boundaries") {
    def read(path: String, cs: (Long, Long)*): Seq[String] = {
      val it = Bgzf.chunkLines(conf, path, cs)
      try it.toList finally it.close()
    }
    // 127 characters + '\n' per line: every 512-byte block starts a line
    val aligned = (0 until 40).map(i => f"a$i%05d" + "y" * 121)
    val (ap, ao) = writeWithOffsets(aligned, blockBytes = 512)
    def achunk(a: Int, b: Int) = (ao(a)._1, ao(b)._2)
    assert(ao(8)._1 == (ao(8)._1 >>> 16 << 16) && ao(8)._1 > 0, "line 8 starts block 2")
    // in-block offset 0 of a later block
    assert(read(ap, achunk(8, 9)) == aligned.slice(8, 10))
    // a chunk ending at its block's end
    assert(read(ap, achunk(5, 7)) == aligned.slice(5, 8))
    // a block start is checked against the previous block's last byte
    val (bp, bo) = writeWithOffsets(lines, blockBytes = 512)
    val midLine = bo.indexWhere(o => (o._1 >>> 16) != (o._2 >>> 16) && (o._2 & 0xffff) > 0)
    val blk = bo(midLine)._2 >>> 16 << 16
    val e = intercept[IllegalArgumentException](read(bp, (blk, bo(midLine + 1)._2)))
    assert(e.getMessage.contains("does not start a line") && e.getMessage.contains(bp))
    // a chunk spanning blocks, with lines straddling them
    def bchunk(a: Int, b: Int) = (bo(a)._1, bo(b)._2)
    assert(bo.slice(10, 61).map(_._1 >>> 16).distinct.size > 3)
    assert(read(bp, bchunk(10, 60)) == lines.slice(10, 61))
    // two chunks in one block, and a third one later
    val i = (0 until 100).find(k => (bo(k + 3)._1 >>> 16) == (bo(k)._1 >>> 16)).get
    assert(read(bp, bchunk(i, i), bchunk(i + 2, i + 3), bchunk(900, 901)) ==
      Seq(lines(i), lines(i + 2), lines(i + 3), lines(900), lines(901)))
  }

  /** Every reader returns `corpus` from `path`, written with the writer
    * offsets `offs`: split reads over several tilings, one chunk over the
    * whole file, one chunk per 7th line, and the offset walk, whose line
    * starts must equal the writer's. */
  private def assertEveryReader(path: String, offs: IndexedSeq[(Long, Long)],
                                corpus: Seq[String]): Unit = {
    def all[A](it: Iterator[A] with AutoCloseable): List[A] = try it.toList finally it.close()
    val walk = all(Bgzf.splitLinesWithOffsets(conf, path))
    assert(walk.map(_._1) == corpus)
    assert(walk.map(_._2) == offs.map(_._1))
    for (splitBytes <- Seq(64L, 256L, 1024L, Long.MaxValue))
      assert(splitRead(path, splitBytes).flatten == corpus, s"split_bytes $splitBytes")
    assert(all(Bgzf.chunkLines(conf, path, Seq((offs.head._1, offs.last._2)))) == corpus)
    val sevenths = offs.indices.by(7)
    assert(all(Bgzf.chunkLines(conf, path, sevenths.map(offs))) == sevenths.map(corpus))
  }

  test("every reader decodes a UTF-8 character that a block edge splits") {
    val chars = Seq("é", "€", "𝄞")
    val r = new scala.util.Random(7)
    val corpus = ("a" * 99 + "éz") +: (0 until 300).map { i =>
      s"u$i " + Seq.fill(r.nextInt(40))(chars(r.nextInt(chars.size))).mkString("x")
    }
    val bytes = corpus.flatMap(l => (l + "\n").getBytes("UTF-8"))
    for (blockBytes <- Seq(100, 101, 102, 103)) {
      // blocks cut the byte stream every blockBytes bytes; some cut falls
      // inside a character (line 0's é at the first cut, by construction)
      val cuts = blockBytes until bytes.length by blockBytes
      assert(cuts.count(k => (bytes(k) & 0xc0) == 0x80) > 10)
      val (path, offs) = writeWithOffsets(corpus, blockBytes)
      assertEveryReader(path, offs, corpus)
    }
  }

  test("every reader drops the '\\r' of a CRLF line, also across a block edge") {
    // line 0's '\r' ends the first 100-byte block, its '\n' starts the next
    val corpus = ("b" * 99) +: lines.take(300) :+ ""
    val (path, offs) = writeWithOffsets(corpus.map(_ + "\r"), blockBytes = 100)
    assertEveryReader(path, offs, corpus)
  }

  private val vcfHeader = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##INFO=<ID=NOTE,Number=1,Type=String,Description=\"note\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Both arms of the vcf source over the bgzip VCF `gz` (given a .tbi)
    * equal `want`: the whole file as many small splits, and a region
    * lookup read on the driver. */
  private def assertBothArms(gz: String, want: org.apache.spark.sql.DataFrame): Unit = {
    Tabix.buildForVcf(spark.sessionState.newHadoopConf(), gz)
    val scan = spark.read.format("vcf").option("split_bytes", "512").load(gz)
    assert(scan.rdd.getNumPartitions > 1)
    assert(rows(scan) == rows(want))
    val region = col("chrom") === "chr1" && col("pos").between(100L, 1500L)
    val lookup = spark.read.format("vcf").load(gz).filter(region)
    assert(lookup.queryExecution.executedPlan.collect { case s: LocalTableScanExec => s }.size == 1)
    val got = rows(lookup)
    assert(got.nonEmpty && got == rows(want.filter(region)))
  }

  test("a bgzip VCF whose INFO strings cross block edges reads like Vcf.read on both arms") {
    val body = for (c <- Seq("chr1", "chr2"); i <- 1 to 200)
      yield s"$c\t${i * 10}\t.\tA\tT\t50\tPASS\tDP=$i;NOTE=${"é" * (i % 37)}\tGT:DP\t0/1:$i"
    val all = vcfHeader ++ body
    val bytes = all.flatMap(l => (l + "\n").getBytes("UTF-8"))
    assert((101 until bytes.length by 101).exists(k => (bytes(k) & 0xc0) == 0x80),
      "a block edge splits an INFO character")
    val gz = Files.createTempDirectory("graft_bgzf_utf8").resolve("t.vcf.gz").toFile
    val out = new FileOutputStream(gz)
    try Bgzf.write(all.iterator, out, blockBytes = 101) finally out.close()
    assertBothArms(gz.getAbsolutePath, Vcf.read(spark, gz.getAbsolutePath))
  }

  test("a bgzip CRLF VCF reads like Vcf.read and the plain-text scan on both arms") {
    val body = for (c <- Seq("chr1", "chr2"); i <- 1 to 200)
      yield s"$c\t${i * 10}\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i"
    // with a sample column, and sites only (INFO is then the last column)
    for (cols <- Seq(10, 8)) {
      val lines = (vcfHeader.init :+ vcfHeader.last.split("\t").take(cols).mkString("\t")) ++
        body.map(_.split("\t").take(cols).mkString("\t"))
      val dir = Files.createTempDirectory("graft_bgzf_crlf")
      val plain = dir.resolve("t.vcf")
      Files.writeString(plain, lines.mkString("", "\r\n", "\r\n"))
      val gz = dir.resolve("t.vcf.gz").toFile
      val out = new FileOutputStream(gz)
      try Bgzf.write(lines.iterator.map(_ + "\r"), out, blockBytes = 512) finally out.close()
      val text = spark.read.format("vcf").option("split_bytes", "512").load(plain.toString)
      assert(text.rdd.getNumPartitions > 1)
      assertBothArms(gz.getAbsolutePath, text)
      assert(rows(text) == rows(Vcf.read(spark, plain.toString)))
      assertBothArms(gz.getAbsolutePath, Vcf.read(spark, gz.getAbsolutePath))
    }
  }

  test("Vcf.read of a sites-only VCF, plain and bgzip, equals the vcf source") {
    val lines = (vcfHeader.init :+ vcfHeader.last.split("\t").take(8).mkString("\t")) ++
      (1 to 300).map(i => s"chr1\t${i * 10}\t.\tA\tT,G\t50\tPASS\tDP=$i;AF=0.5")
    val dir = Files.createTempDirectory("graft_sites_only")
    val plain = dir.resolve("t.vcf")
    Files.writeString(plain, lines.mkString("", "\n", "\n"))
    val gz = dir.resolve("t.vcf.gz").toFile
    val out = new FileOutputStream(gz)
    try Bgzf.write(lines.iterator, out, blockBytes = 512) finally out.close()
    for (path <- Seq(plain.toString, gz.getAbsolutePath)) withClue(s"$path: ") {
      val got = Vcf.read(spark, path)
      assert(got.filter(col("sample").isNotNull).isEmpty)
      assert(rows(got) == rows(spark.read.format("vcf").load(path)))
      assert(got.count() == 300)
    }
  }

  test("isBgzf sniffs bgzip files and rejects plain text") {
    val path = writeFile(lines.take(10), blockBytes = 512)
    assert(Bgzf.isBgzf(conf, path))
    val txt = Files.createTempDirectory("graft_bgzf_txt").resolve("t.txt")
    Files.writeString(txt, lines.take(100).mkString("\n"))
    assert(!Bgzf.isBgzf(conf, txt.toString))
  }
}
