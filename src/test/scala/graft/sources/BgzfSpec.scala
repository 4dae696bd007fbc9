package graft.sources

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
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
    val ap = writeFile(aligned, blockBytes = 512)
    val ao = Bgzf.splitLinesWithOffsets(conf, ap).toIndexedSeq
    def achunk(a: Int, b: Int) = (ao(a)._2, ao(b)._3)
    assert(ao(8)._2 == (ao(8)._2 >>> 16 << 16) && ao(8)._2 > 0, "line 8 starts block 2")
    // in-block offset 0 of a later block
    assert(read(ap, achunk(8, 9)) == aligned.slice(8, 10))
    // a chunk ending at its block's end
    assert(read(ap, achunk(5, 7)) == aligned.slice(5, 8))
    // a block start is checked against the previous block's last byte
    val bp = writeFile(lines, blockBytes = 512)
    val bo = Bgzf.splitLinesWithOffsets(conf, bp).toIndexedSeq
    val midLine = bo.indexWhere(o => (o._2 >>> 16) != (o._3 >>> 16) && (o._3 & 0xffff) > 0)
    val blk = bo(midLine)._3 >>> 16 << 16
    val e = intercept[IllegalArgumentException](read(bp, (blk, bo(midLine + 1)._3)))
    assert(e.getMessage.contains("does not start a line") && e.getMessage.contains(bp))
    // a chunk spanning blocks, with lines straddling them
    def bchunk(a: Int, b: Int) = (bo(a)._2, bo(b)._3)
    assert(bo.slice(10, 61).map(_._2 >>> 16).distinct.size > 3)
    assert(read(bp, bchunk(10, 60)) == lines.slice(10, 61))
    // two chunks in one block, and a third one later
    val i = (0 until 100).find(k => (bo(k + 3)._2 >>> 16) == (bo(k)._2 >>> 16)).get
    assert(read(bp, bchunk(i, i), bchunk(i + 2, i + 3), bchunk(900, 901)) ==
      Seq(lines(i), lines(i + 2), lines(i + 3), lines(900), lines(901)))
  }

  test("isBgzf sniffs bgzip files and rejects plain text") {
    val path = writeFile(lines.take(10), blockBytes = 512)
    assert(Bgzf.isBgzf(conf, path))
    val txt = Files.createTempDirectory("graft_bgzf_txt").resolve("t.txt")
    Files.writeString(txt, lines.take(100).mkString("\n"))
    assert(!Bgzf.isBgzf(conf, txt.toString))
  }
}
