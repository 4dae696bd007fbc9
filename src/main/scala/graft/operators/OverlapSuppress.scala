package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** Input for W3: a gVCF record with its genotype-called flag and the
  * deletion span it may cast over downstream records (0 for non-deletions).
  *
  * Coordinate convention: positions are 0-based and `delLen` is the
  * HALF-OPEN span beyond `pos` — i.e. the REF-allele length (anchor base +
  * deleted bases). A record at q is covered iff `q < pos + delLen`, which
  * is exactly the reference's 1-based `q <= pos_1based + indel_length`
  * buffer test (cleanup_gvcf_before_calling.py:46,66-67: break fires only
  * when `rec.pos > buffer_span`). */
case class SuppressRecord(chrom: String, pos: Long, delLen: Long,
                          called: Boolean, uncalledGt: Boolean)

/** W3 — overlap-buffer suppression (reference:
  * ugvc/joint/cleanup_gvcf_before_calling.py:31-86, buffer logic 43-75):
  * while scanning position-sorted records, an upstream deletion spans
  * `pos + delLen`; all records starting inside that span are buffered, and
  * when the overlap group closes, records with uncalled `(None,None)`
  * genotypes are dropped IF any record in the group is a called variant.
  *
  * Like W2 this depends on running group state (the max extent AND the
  * any-called flag of the open group), so it is a sorted-partition
  * automaton: repartition by chrom → sortWithinPartitions → mapPartitions.
  */
object OverlapSuppress {

  def suppress(ds: Dataset[SuppressRecord])
              (implicit spark: SparkSession): Dataset[SuppressRecord] = {
    import spark.implicits._
    ds.repartition(ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, $"chrom")
      .sortWithinPartitions($"chrom", $"pos")
      .mapPartitions(iter => new SuppressIterator(iter))
  }

  /** Dispatch between [[suppress]] and [[suppressSegmented]] on the actual
    * key distribution — the round-13 W3Probe finding: at the 100x events
    * replica (150k chroms, ~67 rows each) the segmented path cost 14-29 s
    * where plain hash-partitioning ran the same automaton in 1.5 s,
    * because segmentation's anchor machinery (63 candidates x EVERY
    * chrom = 4.4 M anchors collected to the driver) only repays itself
    * when single chroms dominate whole partitions. The decision pass is
    * one partial-aggregated per-chrom count (output = #chroms rows, a
    * metadata-scale shuffle even at 100 TB): segment only if the largest
    * chrom exceeds half a balanced partition's share — i.e. hash
    * placement alone CANNOT level it — which is exactly the genomics
    * regime (24 chroms, millions of records each) the segmented form was
    * built for. */
  def suppressAuto(ds: Dataset[SuppressRecord], targetSegments: Int = 64)
                  (implicit spark: SparkSession): Dataset[SuppressRecord] = {
    import org.apache.spark.sql.functions._
    val parts = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val row = ds.groupBy(col("chrom")).count()
      .agg(sum(col("count")).as("total"), max(col("count")).as("mx")).head()
    if (row.isNullAt(0)) return suppress(ds) // empty input
    val (total, mx) = (row.getLong(0), row.getLong(1))
    if (mx <= ChromDispatch.hotMin(total, parts)) suppress(ds)
    else suppressSegmented(ds, targetSegments)
  }

  /** Intra-chromosome parallel suppression — EXACT, no stitching.
    *
    * An overlap group can only chain through records whose deletion span
    * reaches the next record, and every span is bounded by the global max
    * extent length D = max(delLen, 1). So a position `a` is a safe split
    * point iff NO record lies in (a - D, a): every earlier record's extent
    * is then <= a, which is exactly the automaton's flush condition.
    *
    * Pass 1 proposes ~`targetSegments` evenly spaced candidate positions
    * per chromosome (percentile_approx — observed positions), then
    * invalidates candidates with a record inside their (a - D, a) guard
    * window via one broadcast range join. Pass 2 buckets records to their
    * segment by broadcast binary search and runs the unmodified automaton
    * per (chrom, segment) partition; when several segments of a chromosome
    * share a partition, the leading record of each later segment satisfies
    * `pos >= extent` against anything earlier, so the group break the
    * sequential run makes there still fires. Degenerate data (no valid
    * split points) collapses to one segment per chromosome. */
  def suppressSegmented(ds: Dataset[SuppressRecord], targetSegments: Int = 64)
                       (implicit spark: SparkSession): Dataset[SuppressRecord] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    if (targetSegments <= 1) return suppress(ds)
    // the anchor computation makes three passes over the input (per-chrom
    // stats, guard-window invalidation, the automaton itself); materialize
    // it ONCE so they scan the cache instead of re-deriving from source
    // each time (4 source scans -> 1). Local A/B at the 100x replica is
    // NEUTRAL (cache build cost ~ 3 saved columnar parquet scans). Under
    // a measured object-store latency shim (ObjStoreProbe / OBJSTORE.json)
    // the lever is REGIME-DEPENDENT: with files ≈ cores the per-open
    // latency amortizes across parallel tasks and 4 scans beat the cache
    // build (0.94 vs 2.56 s at 25 ms/open, 64 files/32 cores), while in
    // the many-small-objects regime the materialize wins (11.5 vs 4.5 s
    // at 80 ms/open, 1024 files) — which is the 100 TB lake shape, so the
    // materialize stays. MEMORY_AND_DISK spills rather than recomputes. A
    // local checkpoint, not a persist: it holds no CacheManager entry, and
    // its blocks go once the frame does.
    val cached = ds.localCheckpoint(
      eager = true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE per-chrom pass for the split candidates, the max extent (the
    // global D is the max of the per-chrom maxima) AND the per-chrom row
    // counts that gate which chroms get anchors at all
    val qs = (1 until targetSegments).map(_.toDouble / targetSegments).toArray
    val stats = cached.groupBy(col("chrom"))
      .agg(percentile_approx(col("pos"), lit(qs), lit(1000)).as("arr"),
        max(greatest(col("delLen"), lit(1L))).as("mx"),
        count(lit(1)).as("cnt"))
      .persist()
    val (maxExtent, total) = stats.agg(max(col("mx")), sum(col("cnt"))).head() match {
      case r if r.isNullAt(0) => stats.unpersist(); return suppress(cached)
      case r                  => (r.getLong(0), r.getLong(1))
    }
    // Anchors only for chroms a hash partition cannot level on its own
    // (> half a balanced partition's share): in a mixed regime (many tiny
    // chroms + a few giants) the tiny ones ride plain hash placement while
    // only the giants pay the split machinery. Without this filter the
    // candidate set is 63 x #chroms rows, all broadcast, all collected —
    // 4.4 M driver-side anchors at the 100x events replica for zero
    // balancing benefit (W3Probe, round 13).
    val parts0 = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val hotMin = ChromDispatch.hotMin(total, parts0)
    val cand = stats.filter(col("cnt") > hotMin)
      .select(col("chrom"), explode(col("arr")).as("a"))
      .distinct()
    // a candidate fails if any record sits inside its guard window
    val invalid = cached.join(broadcast(cand.withColumnRenamed("chrom", "c")),
        col("chrom") === col("c") &&
          col("pos") > col("a") - maxExtent && col("pos") < col("a"), "inner")
      .select(col("c").as("chrom"), col("a")).distinct()
    val anchors: Map[String, Array[Long]] =
      cand.except(invalid).collect()
        .groupBy(_.getString(0))
        .map { case (c, rows) => c -> rows.map(_.getLong(1)).distinct.sorted }
    // stats is fully consumed once the anchors are on the driver; release
    // it now (mirrors the empty-input path)
    stats.unpersist()
    val bAnchors = ds.sparkSession.sparkContext.broadcast(anchors)
    val segOf = udf { (chrom: String, pos: Long) =>
      val a = bAnchors.value.getOrElse(chrom, Array.empty[Long])
      val i = java.util.Arrays.binarySearch(a, pos)
      if (i >= 0) i + 1 else -(i + 1)
    }
    cached.withColumn("_seg", segOf(col("chrom"), col("pos")))
      .repartition(ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("chrom"), col("_seg"))
      .sortWithinPartitions(col("chrom"), col("pos"))
      .drop("_seg")
      .as[SuppressRecord]
      .mapPartitions(iter => new SuppressIterator(iter))
  }

  private final class SuppressIterator(in: Iterator[SuppressRecord])
      extends Iterator[SuppressRecord] {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[SuppressRecord]
    private var extent = Long.MinValue
    private var chrom: String = null
    private val out = scala.collection.mutable.Queue.empty[SuppressRecord]

    private def flush(): Unit = {
      val anyCalled = buf.exists(_.called)
      buf.foreach { r =>
        if (!(anyCalled && r.uncalledGt)) out.enqueue(r)
      }
      buf.clear()
    }

    private def advance(): Unit = {
      while (out.isEmpty && in.hasNext) {
        val r = in.next()
        if (chrom != r.chrom || r.pos >= extent) {
          flush()
          chrom = r.chrom
          extent = Long.MinValue
        }
        buf += r
        extent = math.max(extent, r.pos + math.max(r.delLen, 1))
      }
      if (out.isEmpty && !in.hasNext) flush()
    }

    override def hasNext: Boolean = { advance(); out.nonEmpty }
    override def next(): SuppressRecord = { advance(); out.dequeue() }
  }
}
