package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThanOrEqual}
import java.nio.file.Files

/** Tabix `.tbi` production + consumption: binary round trip, bin math,
  * END-aware extents, split pruning through the DataSourceV2 scan, and
  * the write path's `option("index","tbi"/"csi")` sidecars. */
class TabixSpec extends SparkSpec {

  private def header = Seq("##fileformat=VCFv4.2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
  private def body(chrom: String, n: Int, step: Int = 1) =
    (1 to n).map(i => s"$chrom\t${i * step}\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i")

  private def writeBgzf(lines: Seq[String], blockBytes: Int = 512): java.nio.file.Path = {
    val d = Files.createTempDirectory("grafttbx")
    val p = d.resolve("t.vcf.gz")
    val os = Files.newOutputStream(p)
    Bgzf.write(lines.iterator, os, blockBytes)
    os.close()
    p
  }

  test("reg2bin / reg2bins agree: a contained feature's bin is always searched") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val beg = rnd.nextInt(1 << 28).toLong
      val len = 1L + rnd.nextInt(100000)
      val bin = Tabix.reg2bin(beg, beg + len)
      assert(bin >= 0 && bin <= 37448)
      // any query overlapping the feature must list its bin
      val qBeg = math.max(0L, beg - rnd.nextInt(1000))
      val qEnd = beg + len + rnd.nextInt(1000)
      assert(Tabix.reg2bins(qBeg, qEnd).contains(bin),
        s"feature [$beg,${beg + len}) bin $bin missing from query [$qBeg,$qEnd)")
    }
    // level sanity: a 16kb-contained feature lands in the deepest level
    assert(Tabix.reg2bin(0, 1) == 4681)
    assert(Tabix.reg2bin(16384, 16385) == 4682)
    assert(Tabix.reg2bin(0, (1L << 29)) == 0)
  }

  test("builder → write → read binary round trip with chunk queries") {
    val conf = spark.sessionState.newHadoopConf()
    val d = Files.createTempDirectory("grafttbxrt")
    val base = d.resolve("x.vcf.gz").toString
    val b = new Tabix.Builder
    // two refs, features at distinct virtual offsets
    b.add(Tabix.Feature("chr1", 99, 100, 0L << 16 | 10, 0L << 16 | 50))
    b.add(Tabix.Feature("chr1", 199, 200, 0L << 16 | 50, 1024L << 16 | 20))
    b.add(Tabix.Feature("chr2", 9, 10, 2048L << 16 | 0, 2048L << 16 | 40))
    Tabix.write(conf, base, b)
    val Some(idx) = Tabix.read(conf, base + Tabix.Suffix)
    assert(idx.names == Seq("chr1", "chr2"))
    // query hitting chr1:100 returns the merged chunk containing it
    val c1 = Tabix.chunksFor(idx, "chr1", 99, 100)
    assert(c1.nonEmpty && c1.exists { case (u, v) => u <= (0L << 16 | 10) && v > (0L << 16 | 10) })
    // absent ref is provably empty; far-away region likewise
    assert(Tabix.chunksFor(idx, "chr9", 0, 1000).isEmpty)
    assert(Tabix.chunksFor(idx, "chr2", 1000000, 1000001).isEmpty)
  }

  test("unsorted input is refused at build time") {
    val b = new Tabix.Builder
    b.add(Tabix.Feature("chr1", 100, 101, 0, 1))
    intercept[IllegalArgumentException] {
      b.add(Tabix.Feature("chr1", 50, 51, 1, 2))
    }
    val b2 = new Tabix.Builder
    b2.add(Tabix.Feature("chr1", 1, 2, 0, 1))
    b2.add(Tabix.Feature("chr2", 1, 2, 1, 2))
    intercept[IllegalArgumentException] {
      b2.add(Tabix.Feature("chr1", 5, 6, 2, 3)) // chr1 again: not contiguous
    }
  }

  test("buildForVcf + pruneSplits: a one-region query keeps a strict subset, row-identical") {
    val p = writeBgzf(header ++ body("chr1", 3000, step = 7) ++ body("chr2", 3000, step = 7))
    val conf = spark.sessionState.newHadoopConf()
    Tabix.buildForVcf(conf, p.toString)
    assert(Files.exists(p.resolveSibling("t.vcf.gz.tbi")))

    // the scan must prune through the .tbi
    def v2 = spark.read.format("vcf").option("split_bytes", "1024").load(p.toString)
    val total = v2.rdd.getNumPartitions
    assert(total > 4, s"need multiple splits for a meaningful prune (got $total)")
    val q = v2.filter(col("chrom") === "chr2" && col("pos") <= 700)
    assert(q.rdd.getNumPartitions < total,
      s"one-region query must plan a strict subset of splits (kept ${q.rdd.getNumPartitions} of $total)")
    assert(q.count() == 100L)
    // boundary exactness across the whole file
    val full = v2.filter(col("chrom") === "chr1").agg(sum("pos")).head.getLong(0)
    assert(full == (1 to 3000).map(_.toLong * 7).sum)
    // no-hit chrom prunes everything
    val none = v2.filter(col("chrom") === "chr9")
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0L)
  }

  test("END-aware extents: a gVCF block is found by a mid-block locus query") {
    // one gVCF-style block chr1:1000 END=200000 among sparse later rows
    val lines = header ++
      Seq(s"chr1\t1000\t.\tA\t<NON_REF>\t.\t.\tEND=200000\tGT:DP\t0/0:30") ++
      (1 to 2000).map(i => s"chr1\t${200001 + i * 5}\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i")
    val p = writeBgzf(lines)
    val conf = spark.sessionState.newHadoopConf()
    Tabix.buildForVcf(conf, p.toString)
    val Some(idx) = Tabix.read(conf, p.toString + Tabix.Suffix)
    // a locus inside the block but far from its start line
    val mid = Tabix.chunksFor(idx, "chr1", 150000, 150001)
    assert(mid.nonEmpty, "END-widened block must be reachable from a mid-block locus")
    // the engine-side filter pos=150000 matches no ROW (pos is the start),
    // so e2e semantics stay row-identical — this gate is about the index
    // never hiding the block's bytes from a region scan
    val kept = Tabix.regionChunks(conf, p.toString,
      Files.getLastModifiedTime(p).toMillis,
      Array(EqualTo("chrom", "chr1"), GreaterThan("pos", 999L), LessThanOrEqual("pos", 1000L)))
      .map(Tabix.splitsFor(_, Seq(VcfPartition(p.toString, 0, Files.size(p), VcfPartition.Bgzf))))
    assert(kept.exists(_.nonEmpty))
  }

  test("a .tbi older than the data file is ignored") {
    val p = writeBgzf(header ++ body("chr1", 500))
    val conf = spark.sessionState.newHadoopConf()
    Tabix.buildForVcf(conf, p.toString)
    // data mtime moves past the index: pruning must refuse
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val splits = Seq(VcfPartition(p.toString, 0, Files.size(p), VcfPartition.Bgzf))
    val r = Tabix.regionChunks(conf, p.toString,
      Files.getLastModifiedTime(p).toMillis,
      Array(EqualTo("chrom", "chr1"))).map(Tabix.splitsFor(_, splits))
    assert(r.isEmpty, "stale .tbi must not prune")
  }

  test("df.write option(index=tbi) ships a .tbi per part; region reads prune through it") {
    val src = writeBgzf(header ++ body("chr1", 2000, step = 3) ++ body("chr2", 2000, step = 3))
    val conf = spark.sessionState.newHadoopConf()
    val df = spark.read.format("vcf").load(src.toString).orderBy("chrom", "pos")
    val out = Files.createTempDirectory("grafttbxw").resolve("out").toString
    df.write.format("vcf").mode("overwrite")
      .option("compression", "bgzf").option("bgzf_block_bytes", "512")
      .option("index", "tbi").save(out)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(out)).map(_.getPath.getName)
    val parts = names.filter(_.endsWith(".vcf.gz"))
    assert(parts.nonEmpty && parts.forall(p => names.contains(p + ".tbi")),
      s"every part must carry a .tbi sidecar: ${names.mkString(",")}")
    // region read over the just-written directory: subset of splits, exact rows
    def back = spark.read.format("vcf").option("split_bytes", "1024").load(out)
    val total = back.rdd.getNumPartitions
    val q = back.filter(col("chrom") === "chr1" && col("pos") <= 300)
    assert(q.rdd.getNumPartitions < total)
    assert(q.count() == 100L)
  }

  // independent CSI encoder (spec-derived, not the production writer) so
  // readCsi is checked against hand-built bytes, not its own inverse.
  // `loffsets` keys are (refName, bin) — bins absent from it encode loff=0.
  private def encodeCsi(refs: Seq[(String, Map[Int, Seq[(Long, Long)]])],
                        minShift: Int, depth: Int,
                        loffsets: Map[(String, Int), Long] = Map.empty): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    def i32(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff)
      o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff) }
    def i64(v: Long): Unit = { i32((v & 0xffffffffL).toInt); i32((v >>> 32).toInt) }
    o.write('C'); o.write('S'); o.write('I'); o.write(1)
    i32(minShift); i32(depth)
    val names = refs.map(_._1.getBytes("UTF-8"))
    val lNm = names.map(_.length + 1).sum
    i32(28 + lNm)
    i32(2); i32(1); i32(2); i32(0); i32('#'); i32(0); i32(lNm)
    names.foreach { nb => o.write(nb); o.write(0) }
    i32(refs.length)
    refs.foreach { case (name, bins) =>
      i32(bins.size)
      bins.foreach { case (bin, chunks) =>
        i32(bin); i64(loffsets.getOrElse((name, bin), 0L)); i32(chunks.size)
        chunks.foreach { case (u, v) => i64(u); i64(v) }
      }
    }
    o.flush(); bos.toByteArray
  }

  private def writeCsiBytes(path: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    val os = Files.newOutputStream(path)
    Bgzf.writeBytes(bytes, os); os.close()
  }

  test("CSI: depth-6 index addresses a locus past 2^29 (what .csi exists for)") {
    val conf = spark.sessionState.newHadoopConf()
    val d = Files.createTempDirectory("graftcsi")
    val csiPath = d.resolve("big.vcf.gz.csi").toString
    // a feature at pos ~3e9 — unaddressable by .tbi's 5-level scheme
    val beg = 3000000000L
    val bin = (37449L + (beg >> 14)).toInt // deepest level, depth=6/minShift=14
    val bytes = encodeCsi(
      Seq("chr1" -> Map(bin -> Seq((1024L << 16 | 7L, 1024L << 16 | 99L)))),
      minShift = 14, depth = 6)
    val os = Files.newOutputStream(d.resolve("big.vcf.gz.csi"))
    Bgzf.writeBytes(bytes, os); os.close()
    val Some(idx) = Tabix.readCsi(conf, csiPath)
    assert(idx.minShift == 14 && idx.depth == 6 && idx.maxPos == (1L << 32))
    val hit = Tabix.chunksFor(idx, "chr1", beg, beg + 1)
    assert(hit == Seq((1024L << 16 | 7L, 1024L << 16 | 99L)))
    assert(Tabix.chunksFor(idx, "chr1", 100, 200).isEmpty)
    assert(Tabix.chunksFor(idx, "chrX", beg, beg + 1).isEmpty)
  }

  test("a lone .csi sidecar prunes splits end-to-end (bcftools-indexed input)") {
    val p = writeBgzf(header ++ body("chr1", 3000, step = 7) ++ body("chr2", 3000, step = 7))
    val conf = spark.sessionState.newHadoopConf()
    // build the .tbi, transcode its bins/chunks into a .csi, drop the .tbi —
    // leaving exactly what a bcftools-indexed foreign file ships
    Tabix.buildForVcf(conf, p.toString)
    val Some(tbi) = Tabix.read(conf, p.toString + Tabix.Suffix)
    val refs = tbi.refs.map(r => r.name -> r.bins.map { case (b, cs) => b -> cs.toSeq })
    val os = Files.newOutputStream(p.resolveSibling(p.getFileName.toString + ".csi"))
    Bgzf.writeBytes(encodeCsi(refs, minShift = 14, depth = 5), os); os.close()
    Files.delete(p.resolveSibling(p.getFileName.toString + ".tbi"))

    def v2 = spark.read.format("vcf").option("split_bytes", "1024").load(p.toString)
    val total = v2.rdd.getNumPartitions
    val q = v2.filter(col("chrom") === "chr2" && col("pos") <= 700)
    assert(q.rdd.getNumPartitions < total,
      s"csi-pruned query must plan a strict subset (kept ${q.rdd.getNumPartitions} of $total)")
    assert(q.count() == 100L)
    assert(v2.filter(col("chrom") === "chr1").agg(sum("pos")).head.getLong(0) ==
      (1 to 3000).map(_.toLong * 7).sum)
  }

  test("randomized soundness: .tbi pruning never loses a matching row") {
    val rnd = new scala.util.Random(20260813)
    val lines = header ++ Seq("chr1", "chr2", "chr3").flatMap { c =>
      // irregular position gaps so bins/linear windows land unevenly
      Iterator.iterate(1L)(_ + 1 + rnd.nextInt(400)).take(800 + rnd.nextInt(800))
        .map(p => s"$c\t$p\t.\tA\tT\t50\tPASS\tDP=1\tGT:DP\t0/1:3").toSeq
    }
    val p = writeBgzf(lines, blockBytes = 256)
    val conf = spark.sessionState.newHadoopConf()
    Tabix.buildForVcf(conf, p.toString)
    def pruned = spark.read.format("vcf").option("split_bytes", "512").load(p.toString)
    val truth = Vcf.read(spark, p.toString) // expression path: never pruned
    for (_ <- 1 to 12) {
      val c = s"chr${1 + rnd.nextInt(4)}" // incl. a chrom absent from the file
      val a = rnd.nextInt(120000).toLong
      val b = a + rnd.nextInt(30000)
      val cond = rnd.nextInt(3) match {
        case 0 => col("chrom") === c && col("pos") >= a && col("pos") <= b
        case 1 => col("chrom") === c && col("pos") === a // point query
        case _ => col("pos") >= a && col("pos") <= b // pos-only, all chroms
      }
      val got = pruned.filter(cond).count()
      val want = truth.filter(cond).count()
      assert(got == want, s"pruned=$got truth=$want for $cond")
    }
  }

  test("CSI loffsets are parsed and tighten candidate chunks (r9: Tabix loff consumption)") {
    val conf = spark.sessionState.newHadoopConf()
    val d = Files.createTempDirectory("graftcsiloff")
    // one ref: a root-bin chunk ending EARLY in the file plus a leaf-bin
    // chunk for the queried locus; the leaf's loffset sits past the root
    // chunk's end, so a loffset-aware reader must drop the root chunk
    val beg = 5L * 16384
    val leaf = (4681 + (beg >> 14)).toInt // depth-5 leaf bin of beg
    val rootChunk = (2L << 16, 20L << 16)
    val leafChunk = (100L << 16, 200L << 16)
    val refs = Seq("chr1" -> Map(0 -> Seq(rootChunk), leaf -> Seq(leafChunk)))
    // without loffsets: both chunks are candidates
    writeCsiBytes(d.resolve("a.csi"), encodeCsi(refs, 14, 5))
    val Some(plain) = Tabix.readCsi(conf, d.resolve("a.csi").toString)
    assert(Tabix.chunksFor(plain, "chr1", beg, beg + 1).toSet ==
      Set(rootChunk, leafChunk))
    // with a real loffset on the leaf bin: the early root chunk is dropped
    writeCsiBytes(d.resolve("b.csi"),
      encodeCsi(refs, 14, 5, Map(("chr1", leaf) -> (100L << 16))))
    val Some(tight) = Tabix.readCsi(conf, d.resolve("b.csi").toString)
    assert(Tabix.chunksFor(tight, "chr1", beg, beg + 1) == Seq(leafChunk),
      "loffset lower bound must drop chunks that end before it")
    // a chunk ending exactly AT the bound is dropped too (filter is > minOff)
    writeCsiBytes(d.resolve("c.csi"),
      encodeCsi(refs, 14, 5, Map(("chr1", leaf) -> (20L << 16))))
    val Some(edge) = Tabix.readCsi(conf, d.resolve("c.csi").toString)
    assert(Tabix.chunksFor(edge, "chr1", beg, beg + 1) == Seq(leafChunk))
  }

  test("CSI loffset fallback walk: absent leaf bin → previous sibling → parent") {
    // constructed Index (no linear) so chunksFor must go through the CSI
    // loffset bound; three root-bin chunks with staggered ends let the
    // surviving set identify WHICH bin's loffset was used
    val chunks = Seq((0L, 5L << 16), (0L, 15L << 16), (0L, 25L << 16))
    val beg = 5L * 16384 // leaf bin 4686; parent 585; first sibling 4681
    def idx(loffs: Map[Int, Long]) = Tabix.Index(IndexedSeq(
      Tabix.RefIndex("chr1", Map(0 -> chunks.toArray), Array.emptyLongArray, loffs)))
    // leaf bin present: its loffset 20<<16 keeps only the 25<<16 chunk
    assert(Tabix.chunksFor(idx(Map(4686 -> (20L << 16), 4684 -> (10L << 16))),
      "chr1", beg, beg + 1) == Seq((0L, 25L << 16)))
    // leaf absent, previous sibling 4684 present: bound 10<<16 keeps two
    assert(Tabix.chunksFor(idx(Map(4684 -> (10L << 16), 585 -> (1L << 16))),
      "chr1", beg, beg + 1) == Seq((0L, 15L << 16), (0L, 25L << 16)))
    // all leaf siblings absent, parent 585 present: bound 1<<16 keeps all
    assert(Tabix.chunksFor(idx(Map(585 -> (1L << 16))),
      "chr1", beg, beg + 1) == chunks)
    // each fallback step only ever LOWERS the bound (soundness): sibling
    // bound must not exceed what the leaf's own loffset would have been —
    // here no loffsets at all means bound 0, everything kept
    assert(Tabix.chunksFor(idx(Map.empty), "chr1", beg, beg + 1) == chunks)
  }

  test("CSI prunes the same split subset as the equivalent .tbi (loffset parity)") {
    val p = writeBgzf(header ++ body("chr1", 3000, step = 7) ++ body("chr2", 3000, step = 7))
    val conf = spark.sessionState.newHadoopConf()
    val mtime = Files.getLastModifiedTime(p).toMillis
    val nSplits = (Files.size(p) / 1024 + 1).toInt
    val splits = (0 until nSplits).map { i =>
      VcfPartition(p.toString, i * 1024L, math.min((i + 1) * 1024L, Files.size(p)),
        VcfPartition.Bgzf)
    }
    val filters = Seq(
      Array[org.apache.spark.sql.sources.Filter](
        EqualTo("chrom", "chr2"), LessThanOrEqual("pos", 700L)),
      Array[org.apache.spark.sql.sources.Filter](
        EqualTo("chrom", "chr1"), GreaterThan("pos", 15000L)),
      Array[org.apache.spark.sql.sources.Filter](
        EqualTo("chrom", "chr1"), EqualTo("pos", 7007L)),
      Array[org.apache.spark.sql.sources.Filter](EqualTo("chrom", "chr9")))
    Tabix.buildForVcf(conf, p.toString, "tbi")
    val viaTbi = filters.map(f =>
      Tabix.regionChunks(conf, p.toString, mtime, f).map(Tabix.splitsFor(_, splits)))
    assert(viaTbi.forall(_.isDefined))
    Files.delete(p.resolveSibling(p.getFileName.toString + ".tbi"))
    Tabix.buildForVcf(conf, p.toString, "csi")
    val viaCsi = filters.map(f =>
      Tabix.regionChunks(conf, p.toString, mtime, f).map(Tabix.splitsFor(_, splits)))
    assert(viaCsi.forall(_.isDefined))
    // the graft .csi (min_shift 14, depth 7) keeps 16 kb leaf windows and
    // per-bin loffsets standing in for the linear index — the kept split
    // set must MATCH .tbi's, not merely contain it (round-8 done-criterion)
    viaTbi.zip(viaCsi).zip(filters).foreach { case ((t, c), f) =>
      assert(t.get == c.get,
        s"filter ${f.mkString(",")}: tbi kept ${t.get.map(_.start)} vs csi kept ${c.get.map(_.start)}")
    }
    // and both actually pruned something on the selective queries
    assert(viaTbi.head.get.size < nSplits)
  }

  test(".tbi build refuses a contig past 2^29 and points at csi; csi indexes it") {
    val b = new Tabix.Builder
    val beg = 3000000000L // ~3 Gbp, past .tbi's 512 Mbp addressing
    val e = intercept[IllegalArgumentException] {
      b.add(Tabix.Feature("chr1", beg, beg + 1, 0L, 1L))
    }
    assert(e.getMessage.contains("csi"),
      s"refusal must point at the csi escape hatch: ${e.getMessage}")
    assert(e.getMessage.contains("2^29"))
    // the depth-7 csi builder accepts the same feature and queries find it
    val cb = new Tabix.Builder(14, Tabix.CsiDepth)
    cb.add(Tabix.Feature("chr1", beg, beg + 1, 7L << 16, 8L << 16))
    val conf = spark.sessionState.newHadoopConf()
    val d = Files.createTempDirectory("graftcsibig")
    val base = d.resolve("big.vcf.gz").toString
    Tabix.writeCsi(conf, base, cb)
    val Some(idx) = Tabix.readCsi(conf, base + Tabix.CsiSuffix)
    assert(idx.minShift == 14 && idx.depth == Tabix.CsiDepth)
    assert(Tabix.chunksFor(idx, "chr1", beg, beg + 1).nonEmpty)
    assert(Tabix.chunksFor(idx, "chr1", 100L, 200L).isEmpty)
    // finish() (the .tbi serializer) refuses csi-only parameterizations
    assert(intercept[IllegalArgumentException](cb.finish())
      .getMessage.contains(".csi-only"))
  }

  test("buildForVcf(kind=tbi) on a >2^29 file fails with the csi message; kind=csi round-trips") {
    val lines = header ++ (1 to 400).map { i =>
      s"chr1\t${3000000000L + i * 5}\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i"
    }
    val p = writeBgzf(lines, blockBytes = 256)
    val conf = spark.sessionState.newHadoopConf()
    assert(intercept[IllegalArgumentException] {
      Tabix.buildForVcf(conf, p.toString, "tbi")
    }.getMessage.contains("csi"))
    Tabix.buildForVcf(conf, p.toString, "csi")
    val Some(idx) = Tabix.readCsi(conf, p.toString + Tabix.CsiSuffix)
    assert(Tabix.chunksFor(idx, "chr1", 3000000100L, 3000000200L).nonEmpty)
  }

  test("df.write option(index=csi): sidecar per part; >2^29 region reads prune row-identically") {
    // chr20 sits past 2^29 — the exact case option(index=tbi) refuses.
    // Enough rows that candidate ranges (which extend one 64 KiB MaxBlock
    // backwards for split-ownership alignment) stay well inside the file —
    // on a tiny file the back-extension legitimately keeps everything.
    val lines = header ++
      (1 to 12000).map(i => s"chr19\t${i * 3}\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i") ++
      (1 to 12000).map(i => s"chr20\t${3000000000L + i * 3}\t.\tA\tT\t50\tPASS\tDP=$i\tGT:DP\t0/1:$i")
    val src = writeBgzf(lines)
    val df = spark.read.format("vcf").load(src.toString).orderBy("chrom", "pos")
    val out = Files.createTempDirectory("graftcsiw").resolve("out").toString
    df.write.format("vcf").mode("overwrite")
      .option("compression", "bgzf").option("bgzf_block_bytes", "512")
      .option("index", "csi").save(out)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(out)).map(_.getPath.getName)
    val parts = names.filter(_.endsWith(".vcf.gz"))
    assert(parts.nonEmpty && parts.forall(p => names.contains(p + ".csi")),
      s"every part must carry a .csi sidecar: ${names.mkString(",")}")
    def back = spark.read.format("vcf").option("split_bytes", "1024").load(out)
    val total = back.rdd.getNumPartitions
    assert(total > 4, s"need multiple splits for a meaningful prune (got $total)")
    // region query past 2^29: strict subset of splits, exact rows — the
    // engine's own readCsi+chunksFor prune vs the unpruned expression path
    val q = back.filter(col("chrom") === "chr20" && col("pos") <= 3000000300L)
    assert(q.rdd.getNumPartitions < total,
      s"csi-pruned query must plan a strict subset (kept ${q.rdd.getNumPartitions} of $total)")
    assert(q.count() === 100L)
    val truth = Vcf.read(spark, out) // expression path: never split-pruned
    assert(back.filter(col("chrom") === "chr20").agg(sum("pos")).head.getLong(0) ===
      truth.filter(col("chrom") === "chr20").agg(sum("pos")).head.getLong(0))
    assert(back.count() === 24000L)
  }

  test("randomized (min_shift, depth) csi: build→write→read never loses a feature") {
    val rnd = new scala.util.Random(0xC51)
    for (round <- 1 to 6) {
      val minShift = 12 + rnd.nextInt(4) // 12..15
      val depth = 4 + rnd.nextInt(3) // 4..6
      val cap = 1L << (minShift + depth * 3)
      val b = new Tabix.Builder(minShift, depth)
      var v = 1L
      val feats = Seq("chr1", "chr2").flatMap { c =>
        var pos = 0L
        (1 to 300).map { _ =>
          pos += 1 + rnd.nextInt(1 << (minShift - 2))
          val beg = pos % (cap - (1L << minShift))
          v += 1 + rnd.nextInt(1000)
          Tabix.Feature(c, beg, beg + 1 + rnd.nextInt(100), v << 16, (v + 1) << 16)
        }.sortBy(_.beg)
      }
      feats.foreach(b.add)
      val conf = spark.sessionState.newHadoopConf()
      val base = Files.createTempDirectory(s"graftcsifz$round").resolve("f.vcf.gz").toString
      Tabix.writeCsi(conf, base, b)
      val Some(idx) = Tabix.readCsi(conf, base + Tabix.CsiSuffix)
      assert(idx.minShift == minShift && idx.depth == depth)
      for (_ <- 1 to 40) {
        val qBeg = math.abs(rnd.nextLong()) % cap
        val qEnd = math.min(cap, qBeg + 1 + rnd.nextInt(1 << (minShift + 3)))
        val byRef = feats.groupBy(_.ref)
        byRef.foreach { case (ref, fs) =>
          val cand = Tabix.chunksFor(idx, ref, qBeg, qEnd)
          fs.filter(f => f.beg < qEnd && qBeg < f.end).foreach { f =>
            assert(cand.exists { case (u, w) => u <= f.vBeg && w >= f.vEnd },
              s"(minShift=$minShift,depth=$depth) feature at ${f.beg} " +
                s"overlapping [$qBeg,$qEnd) lost: no candidate chunk covers " +
                s"[${f.vBeg},${f.vEnd})")
          }
        }
      }
    }
  }

  test("randomized soundness: .csi pruning never loses a matching row (e2e, random depth)") {
    val rnd = new scala.util.Random(20260814)
    val lines = header ++ Seq("chr1", "chr2", "chr3").flatMap { c =>
      Iterator.iterate(1L)(_ + 1 + rnd.nextInt(400)).take(800 + rnd.nextInt(800))
        .map(p => s"$c\t$p\t.\tA\tT\t50\tPASS\tDP=1\tGT:DP\t0/1:3").toSeq
    }
    val p = writeBgzf(lines, blockBytes = 256)
    val conf = spark.sessionState.newHadoopConf()
    // a csi at a non-default parameterization, built the way buildForVcf
    // builds (same walk), exercising the whole read→prune path at a
    // (min_shift, depth) no production writer emits
    val minShift = 13 + rnd.nextInt(2)
    val depth = 5 + rnd.nextInt(2)
    val b = new Tabix.Builder(minShift, depth)
    val it = Bgzf.splitLinesWithOffsets(conf, p.toString)
    val f = new VcfRecord()
    try it.foreach { case (line, vBeg, vEnd) =>
      if (!line.startsWith("#")) {
        f.reset(line)
        val pos = VcfLineParser.toLongOrNull(f.field(2))
        val (bg, en) = Tabix.vcfExtent(pos, f.field(4), Tabix.infoEndOf(f.field(8)))
        b.add(Tabix.Feature(f.field(1), bg, en, vBeg, vEnd))
      }
    } finally it.close()
    Tabix.writeCsi(conf, p.toString, b)
    def pruned = spark.read.format("vcf").option("split_bytes", "512").load(p.toString)
    val truth = Vcf.read(spark, p.toString)
    var prunedOnce = false
    val allSplits = pruned.rdd.getNumPartitions
    for (_ <- 1 to 12) {
      val c = s"chr${1 + rnd.nextInt(4)}"
      val a = rnd.nextInt(120000).toLong
      val b2 = a + rnd.nextInt(30000)
      val cond = rnd.nextInt(3) match {
        case 0 => col("chrom") === c && col("pos") >= a && col("pos") <= b2
        case 1 => col("chrom") === c && col("pos") === a
        case _ => col("pos") >= a && col("pos") <= b2
      }
      val q = pruned.filter(cond)
      if (q.rdd.getNumPartitions < allSplits) prunedOnce = true
      assert(q.count() == truth.filter(cond).count(), s"mismatch for $cond")
    }
    assert(prunedOnce, "the random csi never pruned anything — gate is vacuous")
  }

  test("df.write option(index=gidx) fails, naming the supported kinds") {
    val src = writeBgzf(header ++ body("chr1", 20))
    val out = Files.createTempDirectory("graftgidxw").resolve("out").toString
    val e = intercept[Throwable] {
      spark.read.format("vcf").load(src.toString).write.format("vcf")
        .mode("overwrite").option("compression", "bgzf").option("index", "gidx").save(out)
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString
    assert(msg.contains("gidx") && msg.contains("supported: tbi, csi"), msg)
  }
}
