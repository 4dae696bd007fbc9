package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The vcf source with its driver-read limit at 0: every region lookup
  * takes the distributed arm. */
class CapZeroVcfDataSource extends VcfDataSource {
  override private[sources] def localCap: Long = 0L
}

/** Region lookups whose tabix chunks are under the cap are read on the
  * driver: they plan a `LocalTableScanExec` and run no Spark job, with the
  * rows of the expression path. Every other scan plans the distributed
  * `BatchScan` as before. */
class VcfLocalScanSpec extends SparkSpec {

  private val header = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer>",
    "##INFO=<ID=END,Number=1,Type=Integer>",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")

  private def site(c: String, pos: String, i: Int): String =
    s"$c\t$pos\t.\tA\tT\t${i % 90}\tPASS\tDP=$i\tGT:DP\t0/1:${i % 50}"

  private val body: Seq[String] = for (c <- Seq("chr1", "chr2"); i <- 1 to 1500)
    yield site(c, s"${i * 10}", i)

  private def dir(): Path = Files.createTempDirectory("graftlocal")

  /** `lines` as the BGZF file `d`/t.vcf.gz, with the given sidecars. */
  private def bgzf(d: Path, lines: Seq[String], index: String*): String = {
    val p = d.resolve("t.vcf.gz")
    val os = Files.newOutputStream(p)
    try Bgzf.write(lines.iterator, os, 4096) finally os.close()
    index.foreach(Tabix.buildForVcf(spark.sessionState.newHadoopConf(), p.toString, _))
    p.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def local(df: DataFrame): Boolean =
    plan(df).collect { case s: LocalTableScanExec => s }.size == 1 &&
      plan(df).collect { case s: BatchScanExec => s }.isEmpty
  private def distributed(df: DataFrame): Boolean =
    plan(df).collect { case s: BatchScanExec => s }.size == 1

  /** `body`'s value and the Spark jobs started while it ran. A sentinel
    * job run afterwards marks the end: one listener queue delivers events
    * in order, so once the sentinel's start arrives every earlier job's
    * has too. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.sentinel") != null)) done.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val v = body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      (v, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The lookup is local, runs no job, and equals the expression path. */
  private def assertLocal(path: String, region: Column): Seq[String] = {
    val q = spark.read.format("vcf").load(path).filter(region)
    assert(local(q), s"$region:\n${plan(q)}")
    val (got, jobs) = jobsDuring(rows(spark.read.format("vcf").load(path).filter(region)))
    assert(jobs == 0, s"$region ran $jobs jobs")
    assert(got == rows(Vcf.read(spark, path).filter(region)), s"$region")
    got
  }

  test("an under-cap lookup plans a LocalTableScan, runs no job and equals the expression path") {
    for (kind <- Seq("tbi", "csi")) {
      val p = bgzf(dir(), header ++ body, kind)
      assert(assertLocal(p, col("chrom") === "chr2" && col("pos").between(5000L, 5400L))
        .size == 41, kind)
      assertLocal(p, col("chrom").isin("chr1", "chr2") && col("pos") === 7770L)
      // pruned columns and a re-applied pushed filter ride along
      val q = spark.read.format("vcf").load(p)
        .filter(col("chrom") === "chr1" && col("pos") <= 300L && col("gq") > 10).select("pos", "gt")
      assert(plan(q).collect { case s: LocalTableScanExec => s }.size == 1, plan(q).toString)
      assert(rows(q) == rows(Vcf.read(spark, p)
        .filter(col("chrom") === "chr1" && col("pos") <= 300L && col("gq") > 10).select("pos", "gt")))
    }
    // a stray .gidx beside the .tbi (an earlier build's sidecar) is ignored
    val d = dir()
    val p = bgzf(d, header ++ body, "tbi")
    Files.writeString(d.resolve("t.vcf.gz.gidx"),
      """{"file_len":1,"file_mtime":1,"splits":[]}""")
    assertLocal(p, col("chrom") === "chr1" && col("pos").between(100L, 400L))
  }

  test("an END-widened gVCF block reached mid-block, and a chrom-only region over unparseable POS") {
    val gvcf = header ++ (1 to 400).map(i => site("chr1", s"${i * 10}", i)) ++
      Seq("chr1\t5000\t.\tA\t<NON_REF>\t.\t.\tEND=90000\tGT:DP\t0/0:30") ++
      (1 to 400).map(i => site("chr1", s"${90000 + i * 10}", i))
    val p = bgzf(dir(), gvcf, "tbi")
    assertLocal(p, col("chrom") === "chr1" && col("pos").between(4990L, 5000L))
    assertLocal(p, col("chrom") === "chr1" && col("pos").between(60000L, 90100L))
    val unparseable = header ++ (1 to 50).map(i => site("chr1", s"${i * 10}", i)) ++
      (1 to 5).map(i => site("chr2", s"${i * 10}", i)) ++
      (1 to 60).map(i => site("chr2", Seq("x1", "", "1e3")(i % 3), i)) ++
      (1 to 400).map(i => site("chr3", s"${i * 10}", i))
    val u = bgzf(dir(), unparseable, "tbi")
    assert(assertLocal(u, col("chrom") === "chr2").size == 65)
  }

  test("a region no chunk covers returns no rows and runs no job") {
    val p = bgzf(dir(), header ++ body, "tbi")
    for (region <- Seq(col("chrom") === "chrX",
                       col("chrom") === "chr1" && col("pos").between(50000L, 60000L),
                       col("chrom") === "chr1" && col("pos") > 20L && col("pos") < 10L))
      assert(assertLocal(p, region).isEmpty, s"$region")
  }

  test("over the cap, without a fresh tabix index, or not BGZF: the distributed scan as before") {
    val region = col("chrom") === "chr1" && col("pos").between(100L, 400L)
    val p = bgzf(dir(), header ++ body, "tbi")
    val forced = spark.read.format(classOf[CapZeroVcfDataSource].getName).load(p).filter(region)
    assert(distributed(forced), plan(forced).toString)
    assert(rows(forced) == rows(Vcf.read(spark, p).filter(region)))
    // a split_bytes below the chunks' span is over the cap too
    assert(distributed(spark.read.format("vcf").option("split_bytes", "4096").load(p)
      .filter(region)))
    val stale = bgzf(dir(), header ++ body, "tbi")
    Files.setLastModifiedTime(java.nio.file.Paths.get(stale),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val plainDir = dir()
    Files.writeString(plainDir.resolve("t.vcf"), (header ++ body).mkString("\n"))
    val gzDir = dir()
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gzDir.resolve("t.vcf.gz")))
    try gz.write((header ++ body).mkString("\n").getBytes("UTF-8")) finally gz.close()
    for ((what, path) <- Seq("no sidecar" -> bgzf(dir(), header ++ body),
                             "stale sidecar" -> stale,
                             "plain text" -> plainDir.resolve("t.vcf").toString,
                             "plain gzip" -> gzDir.resolve("t.vcf.gz").toString)) {
      val q = spark.read.format("vcf").load(path).filter(region)
      assert(distributed(q), s"$what:\n${plan(q)}")
      assert(rows(q) == rows(Vcf.read(spark, path).filter(region)), what)
    }
  }

  test("mismatched multi-part headers fail the local arm with the gate's message") {
    val d = dir()
    Seq("a" -> "S1", "b" -> "SX").foreach { case (n, s) =>
      val p = d.resolve(s"$n.vcf.gz")
      val os = Files.newOutputStream(p)
      try Bgzf.write((header.init :+ header.last.replace("S1", s)).iterator ++ body.iterator, os)
      finally os.close()
      Tabix.buildForVcf(spark.sessionState.newHadoopConf(), p.toString)
    }
    val e = intercept[Throwable] {
      spark.read.format("vcf").load(d.toString)
        .filter(col("chrom") === "chr1" && col("pos") === 100L).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString
    assert(msg.contains("sample columns") && msg.contains("b.vcf.gz"), msg)
  }

  test("an index whose chunk starts mid-line fails, naming the file") {
    val d = dir()
    val p = bgzf(d, header ++ body, "tbi")
    // same records behind a longer header: the .tbi's offsets into the
    // first block now land mid-line
    val os = Files.newOutputStream(java.nio.file.Paths.get(p))
    try Bgzf.write(((header.head +: "##source=shifted" +: header.tail) ++ body).iterator, os, 4096)
    finally os.close()
    Files.setLastModifiedTime(d.resolve("t.vcf.gz.tbi"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val e = intercept[Throwable] {
      spark.read.format("vcf").load(p)
        .filter(col("chrom") === "chr1" && col("pos").between(100L, 400L)).collect()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString
    assert(msg.contains("does not start a line") && msg.contains(p), msg)
  }
}
