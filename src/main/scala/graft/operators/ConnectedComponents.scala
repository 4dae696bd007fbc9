package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftDatasets}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Connected components of the undirected graph whose edges are the
  * (`src`, `dst`) values of `child`, as ONE plan step with output
  * (id, comp): every endpoint mapped to the minimum id reachable from it.
  * Types and nullability follow the edges' first column; Int and Long ids
  * are supported. A null endpoint is not a node: an edge with one null
  * end adds its other end as a node and links nothing, and an all-null
  * edge is ignored.
  *
  * Nothing runs until the frame executes, so a query built on it returns
  * a lazy frame and `explain` shows the step. [[ConnectedComponentsExec]]
  * decides the algorithm at run time from the edge count: at most `cap`
  * edges resolve by union-find on the driver (exact: no round limit
  * applies), more run the distributed rounds of
  * [[ConnectedComponents.rounds]], which fail if `maxIter` rounds do not
  * reach the fixpoint. */
case class ConnectedComponents(src: Expression, dst: Expression, output: Seq[Attribute],
                               child: LogicalPlan, cap: Int, maxIter: Int) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): ConnectedComponents =
    copy(child = newChild)
}

/** Plans [[ConnectedComponents]]; installed by `graft.functions.GraftExtensions`. */
object ConnectedComponentsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: ConnectedComponents =>
      ConnectedComponentsExec(c.src, c.dst, c.output, planLater(c.child), c.cap, c.maxIter) :: Nil
    case _ => Nil
  }
}

/** Caches the edges as flat (a, b) arrays and counts them in one job.
  * Each task of that job also returns its edges when they fit its share
  * of `cap` (cap / partitions), so the driver receives at most `cap`
  * edges from it. Up to `cap` edges in all: the partitions over their
  * share are fetched from the cache, union-find runs on the driver and
  * the labels are emitted as one partition. Over `cap`: the distributed
  * rounds over the cached edges. Either way the child runs once. */
case class ConnectedComponentsExec(src: Expression, dst: Expression, output: Seq[Attribute],
                                   child: SparkPlan, cap: Int, maxIter: Int) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: SparkPlan): ConnectedComponentsExec =
    copy(child = newChild)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "driverEdges" -> SQLMetrics.createMetric(sparkContext, "edges sent to the driver"),
    "rounds" -> SQLMetrics.createMetric(sparkContext, "distributed rounds"))

  override protected def doExecute(): RDD[InternalRow] = {
    val isInt = output.head.dataType == IntegerType
    val (ends, in) = (Seq(src, dst), child.output)
    val edges = child.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(ends, in)
      ConnectedComponents.pairChunks(rows.map(proj), isInt)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val share = cap / math.max(edges.getNumPartitions, 1)
      val probe = sparkContext.runJob(edges, (chunks: Iterator[Array[Long]]) => {
        val kept = ArrayBuffer.empty[Array[Long]]
        var n = 0L
        chunks.foreach { c => n += c.length / 2; if (n <= share) kept += c }
        (n, if (n <= share) kept.toArray else null)
      })
      val total = probe.map(_._1).sum
      val labels = if (total <= cap) {
        val over = probe.indices.filter(probe(_)._2 == null)
        val fetched = if (over.isEmpty) Array.empty[Array[Array[Long]]]
          else sparkContext.runJob(edges, (c: Iterator[Array[Long]]) => c.toArray, over)
        metrics("driverEdges").add(total)
        val pairs = (probe.flatMap(p => Option(p._2)) ++ fetched).flatten.toSeq
        sparkContext.parallelize(Seq(ConnectedComponents.unionFind(pairs)), 1)
          .mapPartitions(ConnectedComponents.pairRows(_, isInt))
      } else {
        metrics("driverEdges").add(probe.map(p => if (p._2 == null) 0L else p._1).sum)
        val t = output.head.dataType
        val schema = StructType(Seq(StructField("doc_a", t), StructField("doc_b", t)))
        val (out, n) = ConnectedComponents.rounds(GraftDatasets.ofInternalRows(session,
          edges.mapPartitions(ConnectedComponents.pairRows(_, isInt)), schema), maxIter,
          () => edges.unpersist(blocking = false))
        metrics("rounds").add(n)
        out.queryExecution.toRdd
      }
      SQLMetrics.postDriverMetricUpdates(sparkContext,
        sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
      labels
    } finally edges.unpersist(blocking = false)
  }
}

object ConnectedComponents {

  /** Most edges the exec resolves by union-find on the driver. Sized on
    * synthetic dedup-shaped graphs, 4 local cores (numbers in CHANGES.md):
    * union-find beat the rounds 10-20x at every size from 1k to 1M edges
    * (0.26 against 5.1 s at 2^18), so the cap bounds memory, not time. At
    * 2^18 edges the driver holds 4 MiB of edge ids and the one output
    * task carries about 5 MiB of labels; at 2^20 that task was 18 MiB.
    * No benchmark workload comes near the cap, so neither the size nor
    * the rounds side is measured end to end. A compile-time constant, not
    * a conf key: specs pass a small cap to the factory to force the
    * rounds. */
  val Cap: Int = 1 << 18

  /** The (id, comp) frame of `pairs`' (doc_a, doc_b) edges — lazy. */
  private[graft] def of(pairs: DataFrame, maxIter: Int = 10, cap: Int = Cap): DataFrame = {
    val s = pairs.sparkSession
    require(GraftDatasets.plansWith(s, ConnectedComponentsStrategy),
      "connected components require GraftExtensions (graft.Spark.session)")
    val edges = pairs.select(col("doc_a"), col("doc_b")).queryExecution.analyzed
    val Seq(a, b) = edges.output
    require(a.dataType == b.dataType && (a.dataType == IntegerType || a.dataType == LongType),
      s"connected components need doc_a and doc_b of one type, int or bigint: " +
        s"got ${a.dataType.simpleString} and ${b.dataType.simpleString}")
    def attr(name: String, t: DataType) = AttributeReference(name, t, a.nullable)()
    GraftDatasets.ofRows(s, ConnectedComponents(a, b,
      Seq(attr("id", a.dataType), attr("comp", a.dataType)), edges, cap, maxIter))
  }

  /** Edges per cached array: 1 MiB of ids. */
  private val ChunkEdges = 1 << 16

  /** The (a, b) ends of `rows` as flat arrays of at most [[ChunkEdges]]
    * pairs. A null end becomes a self-loop on the other end, so it adds
    * that end as a node and links nothing; an all-null edge is dropped. */
  private[operators] def pairChunks(rows: Iterator[InternalRow], isInt: Boolean): Iterator[Array[Long]] = {
    def id(r: InternalRow, i: Int) = if (isInt) r.getInt(i).toLong else r.getLong(i)
    rows.flatMap { r =>
      if (r.isNullAt(0) && r.isNullAt(1)) Iterator.empty
      else {
        val a = if (r.isNullAt(0)) id(r, 1) else id(r, 0)
        Iterator(a, if (r.isNullAt(1)) a else id(r, 1))
      }
    }.grouped(2 * ChunkEdges).map(_.toArray)
  }

  /** The rows of flat (a, b) pair arrays, as int or bigint columns. */
  private[operators] def pairRows(chunks: Iterator[Array[Long]], isInt: Boolean): Iterator[InternalRow] = {
    val t = if (isInt) IntegerType else LongType
    val proj = UnsafeProjection.create(Array[DataType](t, t))
    val row = new GenericInternalRow(2)
    chunks.flatMap { c =>
      Iterator.range(0, c.length, 2).map { i =>
        if (isInt) { row.setInt(0, c(i).toInt); row.setInt(1, c(i + 1).toInt) }
        else { row.setLong(0, c(i)); row.setLong(1, c(i + 1)) }
        proj(row)
      }
    }
  }

  /** (id, comp) pairs, flat, for the distinct endpoints of the flat
    * (a, b) pair arrays in id order: comp is the component's minimum.
    * Endpoints are indexed in id order and every union links the larger
    * root under the smaller, so a root is always its set's minimum id. */
  private[operators] def unionFind(pairs: Seq[Array[Long]]): Array[Long] = {
    val all = Array.concat(pairs: _*)
    val ids = all.clone()
    java.util.Arrays.sort(ids)
    var nIds = 0
    var i = 0
    while (i < ids.length) {
      if (nIds == 0 || ids(nIds - 1) != ids(i)) { ids(nIds) = ids(i); nIds += 1 }
      i += 1
    }
    val parent = Array.tabulate(nIds)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(v: Long) = java.util.Arrays.binarySearch(ids, 0, nIds, v)
    i = 0
    while (i < all.length) {
      val (ra, rb) = (find(index(all(i))), find(index(all(i + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    Array.tabulate(2 * nIds)(k => if (k % 2 == 0) ids(k / 2) else ids(find(k / 2)))
  }

  /** Lineage-truncating checkpoint per round: RELIABLE (checkpoint-dir
    * parquet round-trip) when the session has a checkpoint dir configured
    * (cluster posture — localCheckpoint blocks die with their executor),
    * else the fast executor-local form. DedupSpec runs the rounds under
    * both modes.
    *
    * The reliable arm writes each round to its own subdir and DELETES the
    * previous round's once the new one has materialized (Spark's own
    * `.checkpoint()` never reclaims reliable files by default). Only the
    * FINAL round's files survive a run, because the result reads them, and
    * a session-end listener deletes those too: repeated runs leave no
    * residue on the reliable store after shutdown. */
  private object CkptCleanup {
    private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // keyed by applicationId, not System.identityHashCode(sc): an identity
    // hash can collide with a previous (GC'd) context's, silently skipping
    // listener registration for the new context (ADVICE r12)
    private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    /** Track `p` for shutdown deletion. MUST be called BEFORE the dir is
      * written: `sweepStale` treats any graft-cc-* dir not in `live` as a
      * dead chain's leftover, so registering after the write would race a
      * concurrent chain's construction-time sweep. */
    def register(s: org.apache.spark.sql.SparkSession,
                 p: org.apache.hadoop.fs.Path): Unit = {
      live.add(p.toString)
      val sc = s.sparkContext
      if (hooked.add(sc.applicationId)) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            val conf = sc.hadoopConfiguration
            live.forEach { dir =>
              try {
                val p = new org.apache.hadoop.fs.Path(dir)
                p.getFileSystem(conf).delete(p, true)
              } catch { case _: Throwable => () } // best-effort at shutdown
            }
            live.clear()
          }
        })
      }
    }

    def deregister(p: org.apache.hadoop.fs.Path): Unit = live.remove(p.toString)

    /** Delete graft-cc-* dirs under this app's checkpoint dir that no live
      * chain owns — leftovers of a chain that failed before its cleanup.
      * `setCheckpointDir` nests a per-application UUID dir, so the sweep
      * sees only THIS application's leftovers: a sibling UUID may be a
      * concurrently running application's live chain. */
    def sweepStale(s: org.apache.spark.sql.SparkSession): Unit =
      s.sparkContext.getCheckpointDir.foreach { dir =>
        try {
          val root = new org.apache.hadoop.fs.Path(dir)
          val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(root)) fs.listStatus(root).foreach { st =>
            val p = st.getPath
            if (p.getName.startsWith("graft-cc-") && !live.contains(p.toString))
              try fs.delete(p, true) catch { case _: Throwable => () }
          }
        } catch { case _: Throwable => () } // sweep is best-effort hygiene
      }
  }

  private final class CkptChain(s: org.apache.spark.sql.SparkSession) {
    private val base = s.sparkContext.getCheckpointDir
    private val runId = java.util.UUID.randomUUID().toString.take(12)
    private var n = 0
    private var prev: Option[org.apache.hadoop.fs.Path] = None
    CkptCleanup.sweepStale(s)

    def cp(df: DataFrame): DataFrame = base match {
      case Some(dir) =>
        n += 1
        val p = new org.apache.hadoop.fs.Path(dir, s"graft-cc-$runId-$n")
        CkptCleanup.register(s, p) // before the write — see register's contract
        df.write.mode("overwrite").parquet(p.toString)
        val out = s.read.schema(df.schema).parquet(p.toString)
        prev.foreach { old =>
          old.getFileSystem(s.sparkContext.hadoopConfiguration).delete(old, true)
          CkptCleanup.deregister(old)
        }
        prev = Some(p)
        out
      case None => df.localCheckpoint()
    }
  }

  /** Distributed min-label propagation over `pairs`' (doc_a, doc_b)
    * edges: each round joins labels across edges and keeps the elementwise
    * min — O(diameter) rounds of hash joins, pointer jumping between
    * them, so it scales to billions of edges. Runs until fixpoint, and
    * fails, naming `maxIter`, if `maxIter` rounds do not reach it. The
    * exec's arm for graphs over the union-find cap: the labels and the
    * rounds run. `pairs` has no null end; `released` is
    * called once the rounds' own copy of the edges is materialized. */
  private[operators] def rounds(pairs: DataFrame, maxIter: Int,
                                released: () => Unit): (DataFrame, Int) = {
    val chain = new CkptChain(pairs.sparkSession)
    def cp(df: DataFrame): DataFrame = chain.cp(df)
    // symmetrize with ONE pass over `pairs`: a two-branch union evaluates
    // the whole upstream pipeline (LSH band join + distinct at 100x) twice;
    // exploding both directions from each row reads it once.
    // Persisted PRE-PARTITIONED on the per-round join key: InMemoryRelation
    // keeps the hash partitioning, so the edge set is shuffled once here,
    // not once per iteration (only the small labels side moves each round)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist()
    // FIRST propagation round, fused: with identity labels (comp == id)
    // round 1 is exactly min-neighbor ∪ self = groupBy(dst).agg(min(src)),
    // and grouping on dst reuses the persist's hash partitioning, so it is
    // exchange-free. The checkpoint per round truncates lineage — without
    // it the nested plan grows with every iteration.
    var labels = cp(edges.groupBy(col("dst"))
      .agg(min(col("src")).as("_nmin"))
      .select(col("dst").as("id"), least(col("dst"), col("_nmin")).as("comp")))
    released()
    var iter = 1 // round 1 already ran above
    var converged = false // round 1 always changes the larger end of some pair
    while (iter < maxIter && !converged) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("comp").as("ncomp"))
      // carry the previous label through the checkpoint so convergence is
      // a scan of the materialized rows — not an extra join + shuffle
      val cand = labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"), col("comp").as("_old"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("_c1"))
      // pointer jumping between the E-sized propagations: comp := comp(comp),
      // a V-sized LABEL-table join. A label is always a reachable node's id,
      // so following it stays within the component and is monotone toward
      // the min; chains collapse geometrically instead of one edge round
      // per hop (at the skewed 100x replica d7 took 312 s without jumps,
      // 122 s with). The jump follows the PREVIOUS round's labels, already
      // materialized, so each round pays ONE checkpoint. Convergence is
      // `changed == 0`: a labeling stable under the neighbor round is
      // constant per component.
      val j = labels.select(col("id").as("_jid"), col("comp").as("_jcomp"))
      val updated = cp(cand.join(j, cand("_c1") === j("_jid"), "left")
        .select(col("id"), col("_old"),
          least(col("_c1"), coalesce(col("_jcomp"), col("_c1"))).as("comp")))
      val changed = updated.filter(col("comp") =!= col("_old")).count()
      labels = updated.select("id", "comp")
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within maxIter = $maxIter ($iter rounds run)")
    (labels, iter)
  }
}
