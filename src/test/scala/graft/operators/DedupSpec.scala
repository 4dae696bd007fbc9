package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** The components cases run through both arms of the
    * ConnectedComponents exec: union-find on the driver (the default cap)
    * and the distributed rounds (cap 0, so any graph is over it). */
  private val arms = Seq("union-find" -> ConnectedComponents.Cap, "rounds" -> 0)

  private def cc(pairs: DataFrame, cap: Int, maxIter: Int = 10): DataFrame =
    ConnectedComponents.of(pairs, maxIter, cap)

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The exec that ran `df` (collected first), for its metrics. */
  private def execOf(df: DataFrame): ConnectedComponentsExec = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val Seq(e) = helper.collect(df.queryExecution.executedPlan) { case e: ConnectedComponentsExec => e }
    e
  }

  test("connected components: chains, rings and singletons resolve to min id") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),    // chain -> comp 1
      (10L, 11L), (11L, 12L), (12L, 10L), // ring -> comp 10
      (20L, 21L)                        // pair -> comp 20
    ).toDF("doc_a", "doc_b")
    for ((arm, cap) <- arms) withClue(s"$arm: ") {
      val comps = labelMap(cc(pairs, cap))
      assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
      assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
      assert(Seq(20L, 21L).forall(comps(_) == 20L))
    }
  }

  test("canonicalAssignment: non-candidates stay their own canonical") {
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((2L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.canonicalAssignment(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(5L) == ((2L, true)))
    assert(out(2L) == ((2L, false)))
    assert(out(1L) == ((1L, false)) && out(6L) == ((6L, false)))
    // dedup keeps exactly one representative per cluster
    val kept = out.count(!_._2._2)
    assert(kept == 5)
  }

  test("incrementalComponents(labels, new) == CC(old ∪ new): merge, new nodes, untouched") {
    val old = Seq(
      (1L, 2L), (2L, 3L),   // cluster {1,2,3}
      (10L, 11L),           // cluster {10,11}
      (20L, 21L), (21L, 22L) // cluster {20,21,22} — untouched by the batch
    ).toDF("doc_a", "doc_b")
    val batch = Seq(
      (3L, 10L),  // merges {1,2,3} with {10,11} -> comp 1
      (30L, 31L), // brand-new cluster
      (11L, 32L)  // new node joining the merged cluster
    ).toDF("doc_a", "doc_b")
    for ((arm, cap) <- arms) withClue(s"$arm: ") {
      val labels = cc(old, cap)
      val inc = labelMap(Dedup.incrementalComponents(labels, batch))
      val scratch = labelMap(cc(old.unionByName(batch), cap))
      assert(inc == scratch)
      assert(Seq(1L, 2L, 3L, 10L, 11L, 32L).forall(inc(_) == 1L))
      assert(Seq(20L, 21L, 22L).forall(inc(_) == 20L))
      assert(inc(30L) == 30L && inc(31L) == 30L)
      // an empty batch is the identity on the labeling (self-loops ride the
      // symmetrized explode; singleton labels survive)
      val idem = labelMap(Dedup.incrementalComponents(labels,
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")))
      assert(idem == labelMap(labels))
    }
  }

  test("incrementalComponents fuzz: random old graph + random batch == from-scratch CC") {
    val rnd = new scala.util.Random(0x1c2)
    for (round <- 1 to 4) {
      val nOld = 20 + rnd.nextInt(30)
      val old = (1 to 15 + rnd.nextInt(20)).map { _ =>
        val a = rnd.nextInt(nOld).toLong; val b = rnd.nextInt(nOld).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
      // batch edges reach into the old id space AND a fresh id range, so
      // merges, new clusters and old-new bridges all occur
      val batch = (1 to 5 + rnd.nextInt(10)).map { _ =>
        val a = rnd.nextInt(nOld + 15).toLong
        val b = (nOld + rnd.nextInt(15)).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
      def m(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for ((arm, cap) <- arms) {
        val labels = cc(old, cap)
        val inc = m(Dedup.incrementalComponents(labels, batch))
        val scratch = m(cc(old.unionByName(batch), cap))
        assert(inc == scratch, s"$arm round=$round: " +
          s"only-inc=${inc.diff(scratch).take(3)}, " +
          s"only-scratch=${scratch.diff(inc).take(3)}")
      }
    }
  }

  test("long chain needs multiple propagation rounds") {
    val n = 40L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for ((arm, cap) <- arms) withClue(s"$arm: ") {
      val comps = labelMap(cc(pairs, cap, maxIter = 50))
      assert((1L to n).forall(comps(_) == 1L))
    }
  }

  test("randomized graphs match a driver-side union-find (fused round 1 gate)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val nNodes = 60 + rnd.nextInt(80)
      val pairs = Seq.fill(40 + rnd.nextInt(120)) {
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      for ((arm, cap) <- arms) {
        val got = labelMap(cc(pairs.toDF("doc_a", "doc_b"), cap, maxIter = 50))
        assert(got == expected, s"$arm trial $trial: CC disagrees with union-find")
      }
    }
  }

  test("CC under a RELIABLE checkpoint dir gives identical components") {
    // cluster posture: with a checkpoint dir configured, the per-round
    // lineage truncation goes through reliable storage instead of
    // executor-local blocks (which die with their executor). Only the
    // rounds arm checkpoints, so every run here forces it.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 20L)).toDF("doc_a", "doc_b")
    val base = labelMap(cc(pairs, 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_ccckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = labelMap(cc(pairs, 0))
      assert(reliable == base)
      // checkpoint storage is BOUNDED (ADVICE r11): each round's files are
      // deleted once the next round materializes, so a multi-round CC run
      // leaves exactly the final round's subdir — not one per iteration
      val ckptRoot = new java.io.File(spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:"))
      val chains = ckptRoot.listFiles().filter(_.getName.startsWith("graft-cc-"))
      assert(chains.length == 1,
        s"expected exactly the final round's checkpoint, got ${chains.toSeq}")

      // a chain whose JVM was SIGKILLed never runs its shutdown hook; its
      // leftover dirs are reclaimed by the NEXT chain's construction-time
      // sweep (ADVICE r12) — while the live chain's final dir is untouched
      val dead = new java.io.File(ckptRoot, "graft-cc-deadbeef0000-3")
      assert(dead.mkdirs())
      val survivor = chains.head.getName
      val again = labelMap(cc(pairs, 0))
      assert(again == base)
      val after = ckptRoot.listFiles().filter(_.getName.startsWith("graft-cc-"))
        .map(_.getName).toSet
      assert(!after.contains("graft-cc-deadbeef0000-3"),
        "stale dir from a dead chain must be swept at chain construction")
      assert(after.contains(survivor),
        "the previous CC result's final dir is LIVE (its frame reads it " +
          "lazily) and must survive the sweep until application end")
      assert(after.size == 2, s"previous final + new final, nothing else: $after")
    } finally {
      // do not leak the dir into later suites (localCheckpoint default)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("Int-typed ids round-trip as Int on both arms") {
    val pairs = Seq((1, 2), (2, 3), (7, 8)).toDF("doc_a", "doc_b")
    for ((arm, cap) <- arms) withClue(s"$arm: ") {
      val out = cc(pairs, cap)
      assert(out.schema.map(_.dataType) ==
        Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
      assert(out.as[(Int, Int)].collect().toMap == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
    }
  }

  test("a null endpoint is not a node: both arms keep the other end as a singleton") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(3L), None), (None, None), (None, Some(4L)),
      (Some(2L), None)).toDF("doc_a", "doc_b")
    for ((arm, cap) <- arms) withClue(s"$arm: ") {
      val out = cc(pairs, cap).as[(Option[Long], Option[Long])].collect()
      assert(out.toMap == Map(Some(1L) -> Some(1L), Some(2L) -> Some(1L),
        Some(3L) -> Some(3L), Some(4L) -> Some(4L)))
      assert(out.length == 4, "one row per node, none for the null ends")
    }
  }

  test("union-find arm: a 40-node chain at the default maxIter is the exact fixpoint") {
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = labelMap(Dedup.connectedComponents(pairs))
    assert(comps.size == 40 && comps.values.forall(_ == 1L))
  }

  test("rounds arm: a 40-node chain fails loudly when maxIter rounds do not converge") {
    val chain40 = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[Exception](ConnectedComponents.of(chain40, maxIter = 2, cap = 0).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null && m.contains("did not converge within maxIter = 2")), msgs)
  }

  test("both arms give the same labels at 1 and 7 shuffle partitions and with AQE off") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(150) {
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong
      (math.min(a, b), math.max(a, b))
    }.toDF("doc_a", "doc_b")
    val expected = labelMap(Dedup.connectedComponents(pairs, maxIter = 50))
    val confs = Seq(
      Map("spark.sql.shuffle.partitions" -> "1"),
      Map("spark.sql.shuffle.partitions" -> "7"),
      Map("spark.sql.adaptive.enabled" -> "false"))
    for (conf <- confs; (arm, cap) <- arms) withClue(s"$arm $conf: ") {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(labelMap(cc(pairs, cap, maxIter = 50)) == expected)
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("the frame is lazy and explain shows the ConnectedComponents step") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    for ((arm, cap) <- arms) withClue(s"$arm: ") {
      val out = cc(pairs, cap)
      assert(out.queryExecution.optimizedPlan.collect { case c: ConnectedComponents => c }.size == 1)
      assert(out.queryExecution.executedPlan.toString.contains("ConnectedComponents"))
    }
  }

  test("over the cap the rounds run, and no partition over its share sends an edge to the driver") {
    // cap 2 over 12 partitions of 5 edges each: every task's share of the
    // cap is 0, so the counting pass returns counts only
    val pairs = spark.sparkContext.parallelize((0L until 60L).map(i => (i, i + 1)), 12)
      .toDF("doc_a", "doc_b")
    val out = cc(pairs, 2, maxIter = 50)
    assert(labelMap(out) == (0L to 60L).map(_ -> 0L).toMap)
    val m = execOf(out).metrics
    assert(m("rounds").value >= 1, "the graph is over the cap")
    assert(m("driverEdges").value == 0)
  }

  test("under the cap, a partition over its share is fetched in a second pass") {
    // cap 100 over 10 partitions: the first holds a 50-edge chain, over its
    // share of 10, the others one edge each
    val pairs = spark.sparkContext.parallelize(0 until 10, 10).flatMap { p =>
      if (p == 0) (0L until 50L).map(i => (i, i + 1)) else Seq((100L * p, 100L * p + 1))
    }.toDF("doc_a", "doc_b")
    val out = cc(pairs, 100)
    assert(labelMap(out) == ((0L to 50L).map(_ -> 0L) ++
      (1 until 10).flatMap(p => Seq(100L * p -> 100L * p, (100L * p + 1) -> 100L * p))).toMap)
    val m = execOf(out).metrics
    assert(m("rounds").value == 0, "59 edges are under the cap")
    assert(m("driverEdges").value == 59)
  }
}
