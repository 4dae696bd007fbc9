package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.sources._

/** Tabix (.tbi) index consumption and production for the VCF source.
  *
  * The reference tabix-indexes every VCF it writes (pysam.tabix_index at
  * ugvc/joint/compress_gvcf.py:214, ugvc/pipelines/vcfbed/
  * calibrate_bridging_snvs.py:130) and expects a `.tbi` beside every input
  * it region-queries (ugvc/scripts/create_somatic_gt_file.py:103-106).
  * A fresh `.tbi`/`.csi` is the VCF source's only region index: without
  * one a region query decompresses every split, and only a bgzipped file
  * can carry one, as in htslib. This module reads the public tabix binary
  * format (SAMtools/htslib spec: BGZF-framed, little-endian, R-tree bins
  * over 16 kb linear windows, chunks as BGZF virtual offsets) and maps a
  * pushed (chrom,pos) predicate to its merged chunks ([[regionChunks]]).
  * Under [[VcfLocalScan.Cap]] the scan reads exactly those chunks on the
  * driver ([[Bgzf.chunkLines]]); over it, [[VcfScan]] keeps only the
  * splits they touch ([[splitsFor]]).
  *
  * It also BUILDS `.tbi` files (the write path's `option("index","tbi")`
  * and [[Tabix.buildForVcf]]) so graft-written bgzf VCFs carry the same
  * sidecar external tools expect, closing the write→index loop the
  * reference closes with pysam.tabix_index.
  *
  * Layout notes (tabix spec v1):
  *   magic "TBI\1", n_ref, format, col_seq, col_beg, col_end, meta, skip,
  *   l_nm, concatenated NUL-terminated ref names; then per ref: n_bin ×
  *   {bin, n_chunk × {cnk_beg u64, cnk_end u64}}, n_intv × ioff u64.
  * A virtual offset packs (compressed block start << 16 | in-block
  * offset). Bin numbers follow the UCSC scheme: level sizes 512 Mb/64 Mb/
  * 8 Mb/1 Mb/128 kb/16 kb → bin 0, 1-8, 9-72, 73-584, 585-4680,
  * 4681-37448; bin 37450 is htslib's pseudo-bin for mapped/unmapped
  * counts (skipped on read).
  */
object Tabix {

  val Suffix = ".tbi"
  private val LinearShift = 14 // 16 kb linear windows

  /** One reference sequence's index: bin → chunks (virtual offsets),
    * linear 16 kb window → min virtual offset. `loffsets` is CSI's
    * replacement for the linear index: per-bin virtual offset of the
    * first record overlapping the bin's interval. */
  final case class RefIndex(name: String,
                            bins: Map[Int, Array[(Long, Long)]],
                            linear: Array[Long],
                            loffsets: Map[Int, Long] = Map.empty)

  /** `minShift`/`depth` are the bin-scheme parameters: fixed (14, 5) for
    * `.tbi`, arbitrary for `.csi` (which exists precisely to index contigs
    * past 2^29). CSI carries no linear index; its per-bin loffsets serve
    * the same lower-bound role (see [[chunksFor]]). */
  final case class Index(refs: IndexedSeq[RefIndex],
                         minShift: Int = LinearShift, depth: Int = 5) {
    private val byName: Map[String, RefIndex] = refs.map(r => r.name -> r).toMap
    def ref(name: String): Option[RefIndex] = byName.get(name)
    def names: Seq[String] = refs.map(_.name)
    def maxPos: Long = 1L << (minShift + depth * 3)
  }

  /** Parse a `.tbi` file; None when absent or unreadable (no pruning —
    * the scan then falls back to reading every split, never to guessing). */
  def read(conf: Configuration, tbiPath: String): Option[Index] =
    try {
      val p = new Path(tbiPath)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val raw = {
        val in = new java.util.zip.GZIPInputStream(fs.open(p), 65536)
        try in.readAllBytes() finally in.close()
      }
      val b = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4); b.get(magic)
      if (!java.util.Arrays.equals(magic, Array[Byte]('T', 'B', 'I', 1))) return None
      val nRef = b.getInt
      b.getInt; b.getInt; b.getInt; b.getInt // format, col_seq, col_beg, col_end
      b.getInt; b.getInt // meta, skip
      val lNm = b.getInt
      val nameBytes = new Array[Byte](lNm); b.get(nameBytes)
      val names = new String(nameBytes, "UTF-8").split("\u0000", -1).filter(_.nonEmpty)
      if (names.length != nRef) return None
      val refs = (0 until nRef).map { i =>
        val nBin = b.getInt
        val bins = Map.newBuilder[Int, Array[(Long, Long)]]
        var j = 0
        while (j < nBin) {
          val bin = b.getInt
          val nChunk = b.getInt
          val chunks = new Array[(Long, Long)](nChunk)
          var k = 0
          while (k < nChunk) { chunks(k) = (b.getLong, b.getLong); k += 1 }
          if (bin != 37450) bins += bin -> chunks // skip htslib's pseudo-bin
          j += 1
        }
        val nIntv = b.getInt
        val linear = new Array[Long](nIntv)
        var k = 0
        while (k < nIntv) { linear(k) = b.getLong; k += 1 }
        RefIndex(names(i), bins.result(), linear)
      }
      Some(Index(refs))
    } catch { case _: Throwable => None }

  val CsiSuffix = ".csi"

  /** Parse a `.csi` index (bcftools' default; same R-tree over BGZF
    * virtual offsets with PARAMETERIZED (min_shift, depth) — the format
    * that exists to index contigs past 2^29). Ref names come from the
    * tabix-style aux block. Per-bin loffsets are kept and drive the chunk
    * lower bound in [[chunksFor]] (CSI has no linear index), tightening
    * candidate ranges to `.tbi` parity. None when absent/unreadable. */
  def readCsi(conf: Configuration, csiPath: String): Option[Index] =
    try {
      val p = new Path(csiPath)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val raw = {
        val in = new java.util.zip.GZIPInputStream(fs.open(p), 65536)
        try in.readAllBytes() finally in.close()
      }
      val b = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4); b.get(magic)
      if (!java.util.Arrays.equals(magic, Array[Byte]('C', 'S', 'I', 1))) return None
      val minShift = b.getInt
      val depth = b.getInt
      val lAux = b.getInt
      val aux = new Array[Byte](lAux); b.get(aux)
      if (lAux < 28) return None // no tabix aux = no ref names = no pruning
      val ab = java.nio.ByteBuffer.wrap(aux).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ab.getInt; ab.getInt; ab.getInt; ab.getInt // format, col_seq, col_beg, col_end
      ab.getInt; ab.getInt // meta, skip
      val lNm = ab.getInt
      if (28 + lNm > lAux) return None
      val nameBytes = new Array[Byte](lNm); ab.get(nameBytes)
      val names = new String(nameBytes, "UTF-8").split("\u0000", -1).filter(_.nonEmpty)
      val nRef = b.getInt
      if (names.length != nRef) return None
      val maxBin = ((1 << (3 * (depth + 1))) - 1) / 7 - 1
      val refs = (0 until nRef).map { i =>
        val nBin = b.getInt
        val bins = Map.newBuilder[Int, Array[(Long, Long)]]
        val loffs = Map.newBuilder[Int, Long]
        var j = 0
        while (j < nBin) {
          val bin = b.getInt
          val loff = b.getLong
          val nChunk = b.getInt
          val chunks = new Array[(Long, Long)](nChunk)
          var k = 0
          while (k < nChunk) { chunks(k) = (b.getLong, b.getLong); k += 1 }
          if (bin >= 0 && bin <= maxBin) { // skip pseudo-bins
            bins += bin -> chunks
            if (loff > 0L) loffs += bin -> loff
          }
          j += 1
        }
        RefIndex(names(i), bins.result(), Array.emptyLongArray, loffs.result())
      }
      Some(Index(refs, minShift, depth))
    } catch { case _: Throwable => None }

  /** Bins overlapping 0-based half-open [beg, end) — the standard
    * reg2bins walk, generalized over (minShift, depth) so it serves both
    * .tbi's fixed 5-level scheme and any .csi parameterization. */
  private[sources] def reg2bins(beg0: Long, end0: Long,
                                minShift: Int = LinearShift,
                                depth: Int = 5): Seq[Int] = {
    val cap = 1L << (minShift + depth * 3)
    val beg = math.max(0L, beg0)
    val end = math.min(cap, end0) - 1
    if (end < beg) return Seq.empty
    val out = Seq.newBuilder[Int]
    out += 0
    var shift = minShift + (depth - 1) * 3
    var offset = 1
    var level = 1
    while (level <= depth) {
      var k = (offset + (beg >> shift)).toInt
      val hi = (offset + (end >> shift)).toInt
      while (k <= hi) { out += k; k += 1 }
      offset = offset * 8 + 1 // 1, 9, 73, 585, 4681, ...
      shift -= 3
      level += 1
    }
    out.result()
  }

  /** Smallest bin fully containing 0-based half-open [beg, end) — the
    * standard reg2bin, generalized over (minShift, depth) for `.csi`. */
  private[sources] def reg2bin(beg0: Long, end0: Long,
                               minShift: Int = LinearShift, depth: Int = 5): Int = {
    val beg = math.max(0L, beg0)
    val end = math.min(1L << (minShift + depth * 3), end0) - 1
    var shift = minShift
    var offset = firstLeafBin(depth)
    while (shift < minShift + depth * 3) {
      if ((beg >> shift) == (end >> shift)) return (offset + (beg >> shift)).toInt
      offset = (offset - 1) / 8
      shift += 3
    }
    0
  }

  /** First bin number of the deepest level: 4681 for depth 5. */
  private def firstLeafBin(depth: Int): Int = ((1 << (depth * 3)) - 1) / 7

  /** CSI lower bound for a query starting at `beg`: the loffset of the
    * deepest-level bin containing beg, falling back (absent bin) to the
    * previous sibling, then the parent — each step only ever moves the
    * bound EARLIER in the file, so the walk stays sound. This is the role
    * the `.tbi` linear index plays, at bin granularity. */
  private def loffsetBound(r: RefIndex, beg: Long, minShift: Int, depth: Int): Long = {
    if (r.loffsets.isEmpty) return 0L
    var bin = firstLeafBin(depth) + (beg >> minShift).toInt
    while (bin != 0) {
      r.loffsets.get(bin) match {
        case Some(l) => return l
        case None =>
          val parent = (bin - 1) >> 3
          val firstSibling = (parent << 3) + 1
          bin = if (bin > firstSibling) bin - 1 else parent
      }
    }
    r.loffsets.getOrElse(0, 0L)
  }

  /** Candidate chunk list (virtual-offset ranges) that may hold features
    * overlapping 0-based half-open [beg, end) on `refName` — reg2bins
    * chunks, lower-bounded by the `.tbi` linear index or the `.csi`
    * per-bin loffsets. Empty = provably no data. */
  def chunksFor(idx: Index, refName: String, beg0: Long, end0: Long): Seq[(Long, Long)] =
    idx.ref(refName) match {
      case None => Seq.empty // ref absent from the index = no features
      case Some(r) =>
        val beg = math.max(0L, beg0)
        val minOff =
          if (r.linear.nonEmpty)
            r.linear(math.min(beg >> idx.minShift, (r.linear.length - 1).toLong).toInt)
          else loffsetBound(r, beg, idx.minShift, idx.depth) // CSI
        reg2bins(beg, end0, idx.minShift, idx.depth)
          .flatMap(b => r.bins.getOrElse(b, Array.empty[(Long, Long)]))
          .filter(_._2 > minOff)
    }

  // ---------------------------------------------------------------------
  // Pushed-filter → region extraction and split pruning
  // ---------------------------------------------------------------------

  /** Conservative conjunctive region: (chrom set or None = unconstrained,
    * 1-based pos lo, 1-based pos hi inclusive). Filters the extraction
    * can't bound (Or trees, other columns) contribute no constraint —
    * pruning with the remaining constraints stays sound because the
    * array is a conjunction. */
  private[sources] def regionOf(pushed: Array[Filter]): (Option[Set[String]], Long, Long) = {
    var chroms: Option[Set[String]] = None
    var lo = 1L
    var hi = Long.MaxValue
    def narrow(cs: Set[String]): Unit =
      chroms = Some(chroms.map(_.intersect(cs)).getOrElse(cs))
    def visit(f: Filter): Unit = f match {
      case EqualTo("chrom", v: String) => narrow(Set(v))
      case In("chrom", vs) => narrow(vs.collect { case s: String => s }.toSet)
      case EqualTo("pos", v: Number) =>
        lo = math.max(lo, v.longValue()); hi = math.min(hi, v.longValue())
      case GreaterThan("pos", v: Number) => lo = math.max(lo, v.longValue() + 1)
      case GreaterThanOrEqual("pos", v: Number) => lo = math.max(lo, v.longValue())
      case LessThan("pos", v: Number) => hi = math.min(hi, v.longValue() - 1)
      case LessThanOrEqual("pos", v: Number) => hi = math.min(hi, v.longValue())
      case In("pos", vs) =>
        val ns = vs.collect { case n: Number => n.longValue() }
        if (ns.nonEmpty) { lo = math.max(lo, ns.min); hi = math.min(hi, ns.max) }
      case And(l, r) => visit(l); visit(r)
      case _ => () // Or/unknown: no constraint
    }
    pushed.foreach(visit)
    (chroms, lo, hi)
  }

  /** Does [[regionOf]] bound anything — the precondition for a region
    * lookup through the index? */
  private[sources] def hasRegion(pushed: Array[Filter]): Boolean = {
    val (chroms, lo, hi) = regionOf(pushed)
    chroms.isDefined || lo > 1L || hi != Long.MaxValue
  }

  // Every region lookup plans against the same sidecars: keep parsed
  // indexes by (sidecar path, length, mtime), so an overwritten sidecar
  // is a new key. LRU, bounded by the summed sidecar bytes (the parsed
  // form is a small multiple of the compressed file), evicting the
  // coldest entries one at a time; the newest entry always stays.
  private val IndexCacheMaxBytes = 32L << 20
  private val indexCache =
    new java.util.LinkedHashMap[(String, Long, Long), Index](64, 0.75f, true)
  private var indexCacheBytes = 0L

  /** The parsed index behind `sidecar`, from the cache or through
    * `parse` (a failed parse is not cached). The parse runs outside the
    * lock; a racing duplicate parse is benign. */
  private def cached(conf: Configuration, sidecar: FileStatus,
                     parse: (Configuration, String) => Option[Index]): Option[Index] = {
    val key = (sidecar.getPath.toString, sidecar.getLen, sidecar.getModificationTime)
    val hit = indexCache.synchronized(indexCache.get(key))
    if (hit != null) return Some(hit)
    val parsed = parse(conf, key._1)
    parsed.foreach { idx =>
      indexCache.synchronized {
        if (indexCache.put(key, idx) == null) indexCacheBytes += key._2
        val it = indexCache.keySet().iterator()
        while (indexCacheBytes > IndexCacheMaxBytes && indexCache.size() > 1) {
          indexCacheBytes -= it.next()._2
          it.remove()
        }
      }
    }
    parsed
  }

  /** The pushed (chrom,pos) conjunction's chunks in the fresh `.tbi` (or
    * else `.csi`) beside the bgzf file `path`: [[chunksFor]]'s chunks,
    * sorted and merged where they overlap or share a BGZF block, so the
    * result is disjoint virtual-offset ranges in file order. None = no
    * usable index or no usable constraint (the caller reads everything);
    * Some(empty) = provably no line.
    *
    * Staleness: a sidecar older than the data file is ignored (the tabix
    * CLI's own "index is older than file" condition). A fresh sidecar is
    * parsed once per (path, length, mtime) and then served from memory. */
  def regionChunks(conf: Configuration, path: String, dataMtime: Long,
                   pushed: Array[Filter]): Option[Seq[(Long, Long)]] = {
    if (!hasRegion(pushed)) return None
    val (chroms, lo, hi) = regionOf(pushed)
    val fs = new Path(path).getFileSystem(conf)
    // .tbi first (what tabix/pysam write), then .csi (bcftools' default);
    // either must be at least as new as the data file
    def fresh(sidecar: String): Option[FileStatus] =
      try Some(fs.getFileStatus(new Path(sidecar))).filter(_.getModificationTime >= dataMtime)
      catch { case _: Throwable => None } // absent or unreadable: no pruning
    val idx = fresh(path + Suffix).flatMap(cached(conf, _, read))
      .orElse(fresh(path + CsiSuffix).flatMap(cached(conf, _, readCsi))) match {
      case Some(i) => i
      case None => return None
    }
    if (hi < lo) return Some(Seq.empty) // contradictory conjunction
    // 1-based [lo, hi] → 0-based half-open [lo-1, hi); cap at the index's
    // addressable range (nothing beyond it can be indexed either)
    val beg0 = math.max(0L, lo - 1)
    val end0 = if (hi == Long.MaxValue) idx.maxPos else math.min(idx.maxPos, hi)
    val names = chroms.map(_.toSeq).getOrElse(idx.names)
    val sorted = names.flatMap(chunksFor(idx, _, beg0, end0)).sortBy(_._1)
    Some(sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((u, v) :: rest, (u2, v2)) if u2 <= v || (u2 >>> 16) == (v >>> 16) =>
        (u, math.max(v, v2)) :: rest
      case (acc, c) => c :: acc
    }.reverse)
  }

  /** The `splits` (compressed byte ranges of a bgzf VCF) that may own a
    * line of `chunks`.
    *
    * Ownership alignment: [[Bgzf.splitLines]] assigns a line to the split
    * owning the block of the line's PRECEDING newline, which can sit one
    * block before the line's own first byte — candidate ranges therefore
    * extend one MaxBlock (64 KiB) backwards, over-keeping at most one
    * split per chunk, never dropping an owner. */
  def splitsFor(chunks: Seq[(Long, Long)], splits: Seq[VcfPartition]): Seq[VcfPartition] = {
    val ranges = chunks.map { case (u, v) =>
      (math.max(0L, (u >>> 16) - 65536L), (v >>> 16) + 1L)
    }
    splits.filter(sp => ranges.exists(r => r._1 < sp.end && sp.start < r._2))
  }

  // ---------------------------------------------------------------------
  // Building
  // ---------------------------------------------------------------------

  /** One indexed feature: 0-based half-open [beg, end) on `ref`, stored
    * at virtual offsets [vBeg, vEnd). Must arrive in file order. */
  final case class Feature(ref: String, beg: Long, end: Long, vBeg: Long, vEnd: Long)

  /** The `.csi` bin depth graft writes: (14, 7) addresses 2^35 ≈ 34 Gbp —
    * past any real contig — while leaf windows stay 16 kb, so the index
    * is as selective as a `.tbi` and only occupied bins are serialized. */
  val CsiDepth = 7

  /** Incremental single-pass builder — feed features in file order (refs
    * grouped, positions sorted within a ref: the tabix precondition),
    * then `finish()` (.tbi body) or `finishCsi()` (.csi body). Default
    * (14, 5) is `.tbi`'s fixed scheme; any other parameterization is
    * `.csi`-only. */
  final class Builder(val minShift: Int = LinearShift, val depth: Int = 5) {
    private val maxPos = 1L << (minShift + depth * 3)
    private val refNames = scala.collection.mutable.ArrayBuffer.empty[String]
    private val refBins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.LinkedHashMap[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]]
    private val refLinear = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Long]]

    private var lastBeg = -1L

    def add(f: Feature): Unit = {
      if (refNames.isEmpty || refNames.last != f.ref) {
        require(!refNames.contains(f.ref),
          s"tabix build: ref ${f.ref} not contiguous — input must be sorted by (chrom, pos)")
        refNames += f.ref
        refBins += scala.collection.mutable.LinkedHashMap.empty
        refLinear += scala.collection.mutable.ArrayBuffer.empty
        lastBeg = -1L
      }
      // the query-side linear-index lower bound is only sound on
      // position-sorted data — refuse to build a lying index (htslib's
      // "unsorted positions" error)
      require(f.beg >= lastBeg,
        s"tabix build: unsorted positions on ${f.ref} (${f.beg + 1} after ${lastBeg + 1})")
      // past the addressable range the bin arithmetic ALIASES (a 5-level
      // .tbi stops at 2^29 = 512 Mbp — the exact case .csi exists for):
      // refuse to emit a lying index rather than one that prunes wrongly
      // in external readers
      require(f.end <= maxPos,
        s"tabix build: ${f.ref}:${f.beg + 1}-${f.end} exceeds the " +
          s"2^${minShift + depth * 3} addressing limit of this " +
          (if (minShift == LinearShift && depth == 5) "5-level .tbi scheme — " +
            "index with option(\"index\",\"csi\") instead"
           else s"(min_shift=$minShift, depth=$depth) .csi scheme"))
      lastBeg = f.beg
      val bin = reg2bin(f.beg, f.end, minShift, depth)
      val chunks = refBins.last.getOrElseUpdate(bin,
        scala.collection.mutable.ArrayBuffer.empty)
      // merge adjacent/overlapping chunks within a bin (htslib does the
      // same) so dense data doesn't balloon the index
      if (chunks.nonEmpty && chunks.last._2 >= f.vBeg)
        chunks(chunks.length - 1) = (chunks.last._1, math.max(chunks.last._2, f.vEnd))
      else chunks += ((f.vBeg, f.vEnd))
      val linear = refLinear.last
      val wBeg = (math.max(0L, f.beg) >> minShift).toInt
      val wEnd = (math.max(f.beg, f.end - 1) >> minShift).toInt
      while (linear.length <= wEnd) linear += 0L
      var w = wBeg
      while (w <= wEnd) {
        if (linear(w) == 0L || f.vBeg < linear(w)) linear(w) = f.vBeg
        w += 1
      }
    }

    /** A data line whose POS does not parse: indexed as a one-base
      * feature at its ref's last start (0 for a new ref). No pos predicate
      * can match such a line, but a chrom-only region must still reach
      * it, and an unindexed line would be pruned away. (htslib refuses to
      * index such a line at all, so foreign indexes never need this.) */
    def addUnplaced(ref: String, vBeg: Long, vEnd: Long): Unit =
      if (ref.nonEmpty) { // an empty name cannot round-trip the name block
        val beg = if (refNames.lastOption.contains(ref)) math.max(0L, lastBeg) else 0L
        add(Feature(ref, beg, beg + 1, vBeg, vEnd))
      }

    // backfill empty linear windows with the previous value so a query
    // landing in a feature gap still gets a sound (lower) min offset
    private def backfillLinear(): Unit =
      refLinear.foreach { lin =>
        var i = 1
        while (i < lin.length) { if (lin(i) == 0L) lin(i) = lin(i - 1); i += 1 }
      }

    private class Out {
      val bos = new java.io.ByteArrayOutputStream(4096)
      private val o = new java.io.DataOutputStream(bos)
      def w(b: Int): Unit = o.write(b)
      def i32(v: Int): Unit = {
        o.write(v & 0xff); o.write((v >> 8) & 0xff)
        o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
      }
      def i64(v: Long): Unit = { i32((v & 0xffffffffL).toInt); i32((v >>> 32).toInt) }
      def bytes(): Array[Byte] = { o.flush(); bos.toByteArray }
    }

    // the tabix VCF preset header fields shared by .tbi and the .csi aux
    // block: format=2, seq/beg/end columns 1/2/0, meta '#', skip 0
    private def writeConf(o: Out): Unit = {
      o.i32(2); o.i32(1); o.i32(2); o.i32(0)
      o.i32('#'); o.i32(0)
      val nameBytes = refNames.map(_.getBytes("UTF-8"))
      o.i32(nameBytes.map(_.length + 1).sum)
      nameBytes.foreach { nb => nb.foreach(b => o.w(b)); o.w(0) }
    }

    /** Uncompressed .tbi body (caller BGZF-frames it). */
    def finish(): Array[Byte] = {
      require(minShift == LinearShift && depth == 5,
        s".tbi is fixed at (min_shift=14, depth=5); ($minShift, $depth) is .csi-only")
      backfillLinear()
      val o = new Out
      o.w('T'); o.w('B'); o.w('I'); o.w(1)
      o.i32(refNames.length)
      writeConf(o)
      var r = 0
      while (r < refNames.length) {
        val bins = refBins(r)
        o.i32(bins.size)
        bins.foreach { case (bin, chunks) =>
          o.i32(bin); o.i32(chunks.length)
          chunks.foreach { case (u, v) => o.i64(u); o.i64(v) }
        }
        val lin = refLinear(r)
        o.i32(lin.length)
        lin.foreach(o.i64)
        r += 1
      }
      o.bytes()
    }

    /** Uncompressed .csi body (caller BGZF-frames it): same bins/chunks,
      * ref names in the tabix aux block, and — in place of the linear
      * index — each bin's loffset = the linear value at the bin's first
      * window (the offset of the first record at-or-before the bin's
      * interval: a sound, htslib-compatible lower bound). */
    def finishCsi(): Array[Byte] = {
      backfillLinear()
      val o = new Out
      o.w('C'); o.w('S'); o.w('I'); o.w(1)
      o.i32(minShift); o.i32(depth)
      // l_aux then the aux block (28 fixed bytes + names)
      val aux = {
        val a = new Out
        writeConf(a)
        a.bytes()
      }
      o.i32(aux.length)
      aux.foreach(b => o.w(b))
      o.i32(refNames.length)
      var r = 0
      while (r < refNames.length) {
        val bins = refBins(r)
        val lin = refLinear(r)
        o.i32(bins.size)
        bins.foreach { case (bin, chunks) =>
          // bin's start position → its first minShift window → linear value
          val (first, shift) = binExtentParams(bin)
          val startWindow = ((bin.toLong - first) << shift) >> minShift
          val loff =
            if (lin.isEmpty) 0L
            else lin(math.min(startWindow, (lin.length - 1).toLong).toInt)
          o.i32(bin); o.i64(loff); o.i32(chunks.length)
          chunks.foreach { case (u, v) => o.i64(u); o.i64(v) }
        }
        r += 1
      }
      o.bytes()
    }

    /** (first bin number of the bin's level, position shift of that
      * level) — identifies where a bin's interval starts. */
    private def binExtentParams(bin: Int): (Int, Int) = {
      var level = 0
      var first = 0
      while (((1 << ((level + 1) * 3)) - 1) / 7 <= bin && level < depth) {
        level += 1
        first = ((1 << (level * 3)) - 1) / 7
      }
      (first, minShift + (depth - level) * 3)
    }
  }

  /** Serialize a finished builder to `<path>.tbi` (BGZF-framed). */
  def write(conf: Configuration, path: String, builder: Builder): Unit = {
    val p = new Path(path + Suffix)
    val out = p.getFileSystem(conf).create(p, true)
    try Bgzf.writeBytes(builder.finish(), out) finally out.close()
  }

  /** Serialize a finished builder to `<path>.csi` (BGZF-framed). */
  def writeCsi(conf: Configuration, path: String, builder: Builder): Unit = {
    val p = new Path(path + CsiSuffix)
    val out = p.getFileSystem(conf).create(p, true)
    try Bgzf.writeBytes(builder.finishCsi(), out) finally out.close()
  }

  /** 0-based half-open feature extent of one VCF line: [pos-1, pos-1+
    * len(REF)), widened to INFO END (1-based inclusive) when present —
    * the gVCF block convention tabix itself applies to VCF (preset
    * col_end=0 → END-aware). */
  private[sources] def vcfExtent(pos: Long, ref: String, infoEnd: Option[Long]): (Long, Long) = {
    val beg = pos - 1
    val end = math.max(beg + math.max(1, if (ref == null) 1 else ref.length),
      infoEnd.getOrElse(0L))
    (beg, end)
  }

  /** Sequential one-pass index build for an existing BGZF VCF: walk the
    * blocks, track each line's virtual offsets, index data lines. One
    * streaming pass over one file — the per-file indexing step that runs
    * inside each write task (or standalone for foreign files). `kind` is
    * "tbi" (fixed 5-level scheme, ≤ 2^29) or "csi" (depth-[[CsiDepth]]). */
  def buildForVcf(conf: Configuration, path: String, kind: String = "tbi"): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(Bgzf.isBgzf(conf, path), s"tabix requires BGZF input: $path")
    require(kind == "tbi" || kind == "csi", s"unknown index kind: $kind")
    val builder =
      if (kind == "csi") new Builder(LinearShift, CsiDepth) else new Builder
    val lines = Bgzf.splitLinesWithOffsets(conf, path)
    val rec = new VcfRecord()
    try lines.foreach { case (line, vBeg, vEnd) =>
      if (!line.startsWith("#")) {
        rec.reset(line)
        val chrom = rec.field(1)
        val pos = VcfLineParser.toLongOrNull(rec.field(2))
        if (pos != null) {
          // END alone, not the record's INFO parse: an index build must
          // not fail on a foreign file whose INFO repeats some other key
          val (b, e) = vcfExtent(pos, rec.field(4), infoEndOf(rec.field(8)))
          builder.add(Feature(chrom, b, e, vBeg, vEnd))
        } else builder.addUnplaced(chrom, vBeg, vEnd)
      }
    } finally lines match { case c: AutoCloseable => c.close(); case _ => () }
    if (kind == "csi") writeCsi(conf, path, builder) else write(conf, path, builder)
  }

  /** INFO `END=` value of a raw INFO field string, if present. */
  private[sources] def infoEndOf(info: String): Option[Long] = {
    if (info == null) return None
    var from = 0
    while (from >= 0 && from < info.length) {
      val semi = info.indexOf(';', from)
      val entry = if (semi < 0) info.substring(from) else info.substring(from, semi)
      if (entry.startsWith("END=")) {
        val v = VcfLineParser.toLongOrNull(entry.substring(4))
        return Option(v).map(_.longValue())
      }
      from = if (semi < 0) -1 else semi + 1
    }
    None
  }
}
