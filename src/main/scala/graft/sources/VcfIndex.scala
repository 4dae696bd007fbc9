package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.util.SerializableConfiguration

/** Sidecar region index for the VCF DataSourceV2 — split pruning for
  * region queries, the engine's analog of the reference's tabix-indexed
  * `-r chrN:a-b` access (pysam.tabix_index at
  * ugvc/vcfbed/calibrate_bridging_snvs.py:107-130, `bcftools view -r` via
  * correct_genotypes_by_imputation.py:133-138).
  *
  * Why: pushed (chrom,pos) predicates already skip *parsing* non-matching
  * lines, but every split was still *read and decompressed* — a one-locus
  * query on a 100 GB VCF scanned 100 GB. The index stores, per byte range
  * of the file (compressed offsets for BGZF), the per-chromosome min/max
  * position of the lines that range owns; [[VcfScan.planInputPartitions]]
  * drops splits whose stats cannot satisfy the pushed filters, making
  * one-locus scan cost proportional to the region, not the file.
  *
  * Format: one JSON object at `<file>.gidx` — `file_len` (staleness
  * stamp: an index whose recorded length differs from the current file is
  * ignored), and `splits: [{start, end, chroms: {name: [minPos, maxPos]}}]`.
  * Entries are built at their own granularity, independent of query-time
  * `split_bytes`: a planned split is kept iff ANY overlapping index entry
  * may match. Line ownership (a line belongs to the range containing its
  * first byte) is identical between the index builder and the readers, so
  * overlap containment is exact.
  *
  * The build is distributed (one task per index range, same line iterators
  * as the scan) and the artifact is tiny — ~100 bytes per 16 MiB of VCF,
  * ~600 KB for 100 GB — so the driver-side prune is a negligible
  * in-memory pass even at cluster scale.
  */
object VcfIndex {

  val Suffix = ".gidx"
  def indexPath(path: String): String = path + Suffix

  /** Per-byte-range stats: chrom → (minPos, maxPos) over owned lines. */
  case class SplitStat(start: Long, end: Long, chroms: Map[String, (Long, Long)])

  /** Build (or rebuild) the sidecar index for one VCF file. Granularity
    * defaults to the scan's default split size so index entries line up
    * with typical splits, but any value works — pruning is overlap-based. */
  def build(spark: SparkSession, path: String,
            granularityBytes: Long = 16L * 1024 * 1024): Seq[SplitStat] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val len = status.getLen
    val mtime = status.getModificationTime
    val gz = path.endsWith(".gz") || path.endsWith(".bgz")
    val bgzf = gz && (try Bgzf.isBgzf(conf, path) catch { case _: Throwable => false })
    val kind =
      if (bgzf) VcfPartition.Bgzf
      else if (gz) VcfPartition.Gzip
      else VcfPartition.Text
    val ranges: Seq[(Long, Long)] =
      if (kind == VcfPartition.Gzip) Seq((0L, len)) // whole-file: one entry
      else {
        val n = math.max(1L, (len + granularityBytes - 1) / granularityBytes).toInt
        (0 until n).map(i => (i.toLong * granularityBytes,
          math.min((i + 1).toLong * granularityBytes, len)))
      }
    val bConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val stats = spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.size))
      .map { case (s0, e0) =>
        val c = bConf.value.value
        val lines = kind match {
          case VcfPartition.Bgzf => Bgzf.splitLines(c, path, s0, e0)
          case VcfPartition.Gzip => VcfLineParser.gzipLines(c, path)
          case _ => VcfLineParser.textSplitLines(c, path, s0, e0)
        }
        val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
        try lines.foreach { line =>
          if (!line.startsWith("#")) {
            val head = VcfLineParser.headFields(line, 2)
            val chrom = if (head.length > 0) head(0) else null
            val pos = VcfLineParser.toLongOrNull(if (head.length > 1) head(1) else null)
            if (chrom != null) {
              // a chrom whose lines all have unparseable pos still gets an
              // entry, with an empty (MaxValue, MinValue) range: feasible
              // for chrom-only predicates, infeasible for any pos bound —
              // exactly matching what scan-side eval would keep
              val (lo, hi) = acc.getOrElse(chrom, (Long.MaxValue, Long.MinValue))
              acc(chrom) =
                if (pos == null) (lo, hi)
                else (math.min(lo, pos), math.max(hi, pos))
            }
          }
        } finally lines match { case ac: AutoCloseable => ac.close(); case _ => () }
        SplitStat(s0, e0, acc.toMap)
      }
      .collect().toSeq.sortBy(_.start)
    write(fs, path, len, mtime, stats)
    stats
  }

  private[sources] def write(fs: org.apache.hadoop.fs.FileSystem, path: String,
                             fileLen: Long, fileMtime: Long,
                             stats: Seq[SplitStat]): Unit = {
    def esc(s: String): String = {
      val sb = new StringBuilder
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }
    val body = stats.map { st =>
      val cm = st.chroms.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        "\"" + esc(c) + "\":[" + lo + "," + hi + "]"
      }.mkString("{", ",", "}")
      s"""{"start":${st.start},"end":${st.end},"chroms":$cm}"""
    }.mkString("[", ",", "]")
    val out = fs.create(new Path(indexPath(path)), true)
    try out.write(
      s"""{"file_len":$fileLen,"file_mtime":$fileMtime,"splits":$body}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Load the sidecar for `path` if present and not stale. Staleness is
    * (length, mtime) — length alone misses an in-place rewrite that
    * happens to preserve byte count, which would silently prune splits
    * that now contain matching rows. A missing mtime stamp (pre-round-8
    * index) is treated as stale: rebuild rather than trust. */
  def read(conf: Configuration, path: String, fileLen: Long,
           fileMtime: Long): Option[Seq[SplitStat]] =
    try {
      val ip = new Path(indexPath(path))
      val fs = ip.getFileSystem(conf)
      if (!fs.exists(ip)) return None
      val in = fs.open(ip)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      if (root.get("file_len").asLong() != fileLen) return None // stale
      val m = root.get("file_mtime")
      if (m == null || m.asLong() != fileMtime) return None // stale or legacy
      val splits = root.get("splits")
      val b = Seq.newBuilder[SplitStat]
      splits.forEach { node =>
        val cm = Map.newBuilder[String, (Long, Long)]
        val it = node.get("chroms").properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          cm += e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
        }
        b += SplitStat(node.get("start").asLong(), node.get("end").asLong(), cm.result())
      }
      Some(b.result())
    } catch { case _: Throwable => None } // unreadable index = no pruning

  /** True when any filter references a column the index has stats for —
    * the precondition for attempting split pruning. */
  def prunable(pushed: Array[Filter]): Boolean =
    pushed.exists(_.references.exists(r => r == "chrom" || r == "pos"))

  /** Could a row with chromosome `c` and position in [lo, hi] satisfy `f`?
    * Conservative three-valued feasibility: anything the stats can't
    * decide (qual/filter predicates, unknown shapes) is feasible. And/Or
    * decompose conservatively (a jointly-infeasible And of individually
    * feasible sides is kept — pruning only ever drops provably empty
    * splits). */
  private def feasible(f: Filter, c: String, lo: Long, hi: Long): Boolean = f match {
    case EqualTo("chrom", v) => c == v
    case In("chrom", vs) => vs.contains(c)
    case EqualTo("pos", v) => v match {
      case n: Number => lo <= n.longValue() && n.longValue() <= hi
      case _ => false
    }
    case In("pos", vs) => vs.exists {
      case n: Number => lo <= n.longValue() && n.longValue() <= hi
      case _ => false
    }
    case GreaterThan("pos", v) => v match {
      case n: Number => hi > n.longValue(); case _ => false
    }
    case GreaterThanOrEqual("pos", v) => v match {
      case n: Number => hi >= n.longValue(); case _ => false
    }
    case LessThan("pos", v) => v match {
      case n: Number => lo < n.longValue(); case _ => false
    }
    case LessThanOrEqual("pos", v) => v match {
      case n: Number => lo <= n.longValue(); case _ => false
    }
    case And(l, r) => feasible(l, c, lo, hi) && feasible(r, c, lo, hi)
    case Or(l, r) => feasible(l, c, lo, hi) || feasible(r, c, lo, hi)
    case _ => true
  }

  /** May any line owned by byte range [start, end) match all pushed
    * filters? True iff some overlapping index entry has a chromosome whose
    * position range is feasible for every filter. An entry with no data
    * rows (header-only) can never match a chrom/pos predicate. */
  def mayMatch(stats: Seq[SplitStat], start: Long, end: Long,
               pushed: Array[Filter]): Boolean =
    stats.exists { st =>
      st.start < end && start < st.end &&
        st.chroms.exists { case (c, (lo, hi)) =>
          pushed.forall(feasible(_, c, lo, hi))
        }
    }
}
