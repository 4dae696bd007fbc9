package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Scale-path behaviors of the dedup/ANN suite: the LSH hot-band cap, the
  * parquet signature checkpoint, and the cell-bucketed IVF layout. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val text =
    "the quick brown fox jumps over the lazy dog and runs far away home"

  private def identicalDocs(n: Int) =
    (1L to n.toLong).map(i => (i, text)).toDF("doc_id", "text")

  test("packed band keys (bid,k1,k2) == an independent string-keyed reference") {
    // r15: the band grouping key is the two source mh longs, not their
    // concat string. Injectivity makes the groups identical by
    // construction; this pins it against a reference that still derives
    // the key as the decimal concat (the pre-r15 representation, also
    // exactly how the DuckDB oracle builds its band key)
    val rnd = new scala.util.Random(7)
    val docs = (1L to 400L).map { i =>
      val t =
        if (i % 9 == 0) text // planted dup cluster
        else (1 to 12).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
      (i, t)
    }.toDF("doc_id", "text")
    val mh = TextDedup.signatureFrame(docs)
    val bands = mh.filter(col("mh1").isNotNull)
      .select(col("doc_id"), explode(array((1 to 4).map { b =>
        struct(lit(b).as("bid"),
          concat_ws("_", col(s"mh${2 * b - 1}"), col(s"mh${2 * b}")).as("key"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("band.bid").as("bid"), col("band.key").as("key"))
    val ref = bands.as("a").join(bands.as("b"),
        col("a.bid") === col("b.bid") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val packed = TextDedup.lshPairs(mh, cap = 1 << 20) // uncapped regime
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(packed == ref && ref.nonEmpty,
      s"packed pair set diverges from the string-keyed reference " +
        s"(${packed.size} vs ${ref.size})")
  }

  test("degenerate all-identical corpus: capped LSH yields O(n) star pairs, not O(n^2)") {
    val n = 300
    val mh = TextDedup.signatureFrame(identicalDocs(n))
    // every doc shares every band key -> each key is hot at cap 16
    val pairs = TextDedup.lshPairs(mh, cap = 16).collect()
    // star over min doc_id: exactly n-1 pairs, all anchored at doc 1
    assert(pairs.length == n - 1)
    assert(pairs.forall(r => r.getLong(0) == 1L))
    assert(pairs.map(_.getLong(1)).toSet == (2L to n.toLong).toSet)
    // the cap is not silent: hotBands reports all 4 degraded keys
    val hot = TextDedup.hotBands(mh, cap = 16).collect()
    assert(hot.length == 4 && hot.forall(_.getAs[Long]("n_docs") == n.toLong))
  }

  test("below the cap, capped pairs equal the uncapped all-pairs result") {
    val n = 12
    val mh = TextDedup.signatureFrame(identicalDocs(n))
    val capped = TextDedup.lshPairs(mh, cap = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- 1L to n.toLong; b <- (a + 1) to n.toLong
    } yield (a, b)).toSet
    assert(capped == expected)
  }

  test("signature checkpoint roundtrip: parquet-backed LSH equals the in-memory path") {
    val docs = Seq(
      (1L, text), (2L, text),
      (3L, "completely different words with nothing shared at all here"),
      (4L, "completely different words with nothing shared at all here"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_sigs").toString
    TextDedup.signaturesToParquet(docs, dir)
    val fromDisk = TextDedup.lshPairsFromParquet(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMem = TextDedup.lshPairs(TextDedup.signatureFrame(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == inMem && fromDisk == Set((1L, 2L), (3L, 4L)))
  }

  test("two-level IVF assignment matches flat assignment away from coarse borders") {
    // fine centroids at angles 0/20/70/90 degrees; coarse subsample = {0, 70}
    def unit(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r), math.sin(r))
    }
    val fineAngles = Seq(0.0, 20.0, 70.0, 90.0)
    val cents = fineAngles.zipWithIndex
      .map { case (a, i) => (i.toLong, unit(a)) }.toDF("cid", "cv")
      .withColumn("cnrm", lit(1.0))
    val vecs = Seq((100L, unit(25.0)), (101L, unit(60.0)), (102L, unit(85.0)))
      .toDF("vec_id", "v").withColumn("nrm", lit(1.0))
    val twoLevel = Similarity.assignToCellsTwoLevel(vecs, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    // 25deg -> 20deg(cid1); 60deg -> 70deg(cid2); 85deg -> 90deg(cid3)
    assert(twoLevel == Map(100L -> 1L, 101L -> 2L, 102L -> 3L))
    val flat = Similarity.assignToCells(vecs, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    assert(twoLevel == flat)
  }

  test("hot-band cap: an all-identical corpus yields O(N) star pairs, not O(N^2)") {
    // adversarial degenerate corpus: 5000 documents with IDENTICAL minhash
    // signatures — every band key is hot. Uncapped all-pairs banding would
    // emit n*(n-1)/2 = 12.5M candidate pairs; the cap must degrade every
    // band to a star over the min doc: exactly n-1 pairs, same connectivity.
    val n = 5000L
    val mh = (1 to 8).foldLeft(spark.range(n).toDF("doc_id")) {
      (df, i) => df.withColumn(s"mh$i", lit(7L * i))
    }
    val t0 = System.nanoTime()
    val pairs = TextDedup.lshPairs(mh)
    assert(pairs.count() == n - 1)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, f"capped LSH on a degenerate corpus took $secs%.1f s")
    // star pairs preserve what d7 needs: ONE connected component rooted
    // at the min doc id
    val comps = graft.operators.Dedup.connectedComponents(pairs)
      .select("comp").distinct().collect().map(_.getLong(0))
    assert(comps.toSeq == Seq(0L))
    // and the degradation is never silent: every band reports hot
    val hot = TextDedup.hotBands(mh).collect()
    assert(hot.length == 4 && hot.forall(_.getAs[Long]("n_docs") == n))
  }

  test("assignToCellsAuto dispatches flat below the cell limit, two-level above") {
    def unit(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r), math.sin(r))
    }
    val cents = Seq(0.0, 20.0, 70.0, 90.0).zipWithIndex
      .map { case (a, i) => (i.toLong, unit(a)) }.toDF("cid", "cv")
      .withColumn("cnrm", lit(1.0))
    val vecs = Seq((100L, unit(25.0)), (101L, unit(60.0)), (102L, unit(85.0)))
      .toDF("vec_id", "v").withColumn("nrm", lit(1.0))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    val flat = asMap(Similarity.assignToCells(vecs, cents))
    // default limit: 4 cells < FlatCellLimit -> flat path (what d6/e2 run
    // at every tested scale, keeping the DuckDB oracles exact)
    assert(asMap(Similarity.assignToCellsAuto(vecs, cents, nCells = 4)) == flat)
    // forced limit: the dispatch genuinely engages the two-level path and
    // lands on the same cells on this well-separated frame
    assert(asMap(Similarity.assignToCellsAuto(vecs, cents, nCells = 4,
      flatLimit = 2)) == flat)
  }

  test("kmeansRefine converges centroids to planted cluster means") {
    // two tight clusters around orthogonal axes; init centroids are two
    // arbitrary members, refinement pulls them to the cluster centers
    val rnd = new scala.util.Random(5)
    def noisy(axis: Int): Seq[Double] =
      Seq.tabulate(4)(j => (if (j == axis) 10.0 else 0.0) + rnd.nextDouble() * 0.1)
    val vecs = (0L until 40L).map(i => (i, noisy((i % 2).toInt)))
      .toDF("vec_id", "v")
      .withColumn("nrm", sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
    val init = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val refined = Similarity.kmeansRefine(vecs, init, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(refined.size == 2)
    // centroid 0 was an axis-0 member: its refined mean is axis-0-dominant
    assert(refined(0L)(0) > 5.0 && refined(0L)(1) < 1.0)
    assert(refined(1L)(1) > 5.0 && refined(1L)(0) < 1.0)
    // refined assignment still splits the collection into the two clusters
    val refinedDf = Similarity.kmeansRefine(vecs, init, iters = 3)
    val asg = Similarity.assignToCells(vecs, refinedDf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid"))
    assert(asg.forall { case (v, c) => c == v % 2 })
  }

  test("candidateDocIds is a superset of every LSH pair member; d4 restriction is lossless") {
    // mixed corpus: 3 exact-dup groups + unique docs (pseudo-random words
    // so unique docs share no shingles and land in singleton bands)
    val rnd = new scala.util.Random(7)
    def uniqueText(i: Long) =
      Seq.fill(12)("w" + (i * 1000 + rnd.nextInt(100000))).mkString(" ")
    val docs = ((1L to 40L).map(i => (i, uniqueText(i))) ++
      Seq(41L -> text, 42L -> text, 43L -> text,
        44L -> "another duplicated body of words repeated across docs here now",
        45L -> "another duplicated body of words repeated across docs here now"))
      .toDF("doc_id", "text")
    val mh = TextDedup.signatureFrame(docs)
    val cand = TextDedup.candidateDocIds(mh).collect().map(_.getLong(0)).toSet
    val pairs = TextDedup.lshPairs(mh).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairMembers = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(pairMembers.subsetOf(cand),
      s"pair members ${pairMembers.diff(cand)} missing from candidateDocIds")
    // the restricted shingle join (what d4 runs) equals the unrestricted one
    import graft.functions.Text
    def shingles(restrict: Boolean) = {
      val base = if (restrict)
        docs.join(TextDedup.candidateDocIds(mh), Seq("doc_id"), "left_semi")
      else docs
      base.withColumn("_th", Text.tokenHashesFromText(col("text")))
        .select(col("doc_id"), array_distinct(Text.shingleHashes3(col("_th"))).as("sh"))
    }
    val pdf = pairs.toSeq.toDF("doc_a", "doc_b")
    def verify(sh: org.apache.spark.sql.DataFrame) =
      pdf.join(sh.as("da"), col("doc_a") === col("da.doc_id"))
        .join(sh.as("db"), col("doc_b") === col("db.doc_id"))
        .select(col("doc_a"), col("doc_b"), r6(Text.jaccard(col("da.sh"), col("db.sh"))).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(verify(shingles(restrict = true)) == verify(shingles(restrict = false)))
    assert(pairs.nonEmpty && cand.size < 46, "restriction should prune the unique docs")
  }

  test("pairScores jaccard == jaccardPairsJoined (mixed, near-dup, hot-band)") {
    val rnd = new scala.util.Random(0x44d)
    // near-dup family: shared 20-word base with per-doc tail edits, plus
    // exact-dup groups (some larger than the test cap => hot bands), plus
    // unique noise docs in singleton bands
    val base = (1 to 20).map(i => s"b$i").mkString(" ")
    val docs = (
      (1L to 30L).map(i => (i,
        Seq.fill(12)("u" + (i * 991 + rnd.nextInt(50000))).mkString(" "))) ++
      (31L to 40L).map(i => (i, base + s" tail${i % 4} x$i end")) ++
      (41L to 60L).map(i => (i, text)) ++                 // 20 exact dups
      (61L to 64L).map(i => (i, base))                    // 4 exact dups
    ).toDF("doc_id", "text")
    val mh = TextDedup.signatureFrame(docs)
    // 8 => the 20-dup group degrades to a star; 19/20 put its bands just
    // over / exactly at the cap (the automaton's cold/hot edge)
    for (cap <- Seq(8, 19, 20, 128)) {
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      val docsSh = docs
        .withColumn("_th", graft.functions.Text.tokenHashesFromText(col("text")))
        .select(col("doc_id"), graft.functions.Text.sortedShingleSet(col("_th")).as("sh"))
      val grouped = norm(TextDedup.pairScoresGrouped(spark, docsSh, mh, cap)
        .select("doc_a", "doc_b", "jaccard"))
      val joined = norm(TextDedup.jaccardPairsJoined(spark, docs, mh, cap))
      assert(grouped == joined, s"cap=$cap: grouped/joined diverge " +
        s"(only-grouped=${grouped.diff(joined).take(3)}, " +
        s"only-joined=${joined.diff(grouped).take(3)})")
      assert(grouped.nonEmpty)
      // bit-identical jaccard, not just approximately equal
      assert(grouped.forall { case (_, _, j) => j >= 0.0 && j <= 1.0 })
    }
  }

  test("estSimPairsGrouped == lshPairs + signature joins pair-for-pair") {
    val rnd = new scala.util.Random(0xd3)
    val base = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = (
      (1L to 25L).map(i => (i,
        Seq.fill(12)("q" + (i * 883 + rnd.nextInt(40000))).mkString(" "))) ++
      (26L to 33L).map(i => (i, base + s" end${i % 3} z$i")) ++
      (34L to 48L).map(i => (i, text))
    ).toDF("doc_id", "text")
    val mh = TextDedup.signatureFrame(docs)
    for (cap <- Seq(6, 14, 15, 128)) { // 14/15: the 15-dup group's bands just over / at the cap
      val grouped = TextDedup.estSimPairsGrouped(spark, mh, cap)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("est_sim"))).toSet
      val est = (1 to 8).map(i =>
        when(col(s"a.mh$i") === col(s"b.mh$i"), 1.0).otherwise(0.0))
        .reduce(_ + _) / 8
      val joined = TextDedup.lshPairs(mh, cap)
        .join(mh.as("a"), col("doc_a") === col("a.doc_id"))
        .join(mh.as("b"), col("doc_b") === col("b.doc_id"))
        .select(col("doc_a"), col("doc_b"), est.as("est_sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(grouped == joined, s"cap=$cap: " +
        s"only-grouped=${grouped.diff(joined).take(3)}, " +
        s"only-joined=${joined.diff(grouped).take(3)}")
      assert(grouped.nonEmpty)
    }
  }

  test("pairScoresGrouped == estSim grouped + jaccard joined (d3+d4 pass)") {
    val rnd = new scala.util.Random(0xbb2)
    val base = (1 to 20).map(i => s"s$i").mkString(" ")
    val docs = (
      (1L to 25L).map(i => (i,
        Seq.fill(12)("v" + (i * 769 + rnd.nextInt(40000))).mkString(" "))) ++
      (26L to 34L).map(i => (i, base + s" tl${i % 3} y$i")) ++
      (35L to 52L).map(i => (i, text))                     // 18 exact dups
    ).toDF("doc_id", "text")
    val mh = TextDedup.signatureFrame(docs)
    val docsSh = docs
      .withColumn("_th", graft.functions.Text.tokenHashesFromText(col("text")))
      .select(col("doc_id"), graft.functions.Text.sortedShingleSet(col("_th")).as("sh"))
    // 7 => the 18-dup group degrades to a star; 17/18 put its bands just
    // over / exactly at the cap (the automaton's cold/hot edge)
    for (cap <- Seq(7, 17, 18, 128)) {
      val combined = TextDedup.pairScoresGrouped(spark, docsSh, mh, cap).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("est_sim"), r.getAs[Double]("jaccard"))).toSet
      val est = TextDedup.estSimPairsGrouped(spark, mh, cap).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("est_sim"))).toSet
      val jac = TextDedup.jaccardPairsJoined(spark, docs, mh, cap).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      assert(combined.map(t => (t._1, t._2, t._3)) == est,
        s"cap=$cap: est_sim side diverges from estSimPairsGrouped")
      assert(combined.map(t => (t._1, t._2, t._4)) == jac,
        s"cap=$cap: jaccard side diverges from jaccardPairsJoined")
      assert(combined.nonEmpty)
    }
  }

  test("bandStarEdges is component-equivalent to lshPairs (mixed + hot-band corpora)") {
    import graft.operators.Dedup
    // mixed corpus: dup groups of several sizes + unique docs, plus a
    // CHAINED group (each doc shares a band with the next via overlapping
    // text) so the equivalence is exercised across bands, not just inside
    // one band's clique
    val rnd = new scala.util.Random(11)
    def uniqueText(i: Long) =
      Seq.fill(12)("u" + (i * 1000 + rnd.nextInt(100000))).mkString(" ")
    val base = (1L to 30L).map(i => (i, uniqueText(i))) ++
      (31L to 35L).map(i => (i, text)) ++ // 5-dup group
      Seq(36L -> "pair of twins sharing every word in this body right here",
          37L -> "pair of twins sharing every word in this body right here")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (cap <- Seq(2, 128)) { // cap=2 makes the 5-dup group's bands HOT
      val mh = TextDedup.signatureFrame(base.toDF("doc_id", "text"))
      val fromPairs = comps(TextDedup.lshPairs(mh, cap))
      val fromStars = comps(TextDedup.bandStarEdges(mh))
      assert(fromStars == fromPairs,
        s"cap=$cap: star-edge components diverge from pair components")
    }
    // edge-count claim: all-identical corpus, stars are O(n), pairs O(n^2)
    val mhAll = TextDedup.signatureFrame(identicalDocs(40))
    val nStars = TextDedup.bandStarEdges(mhAll).count()
    val nPairs = TextDedup.lshPairs(mhAll).count()
    assert(nStars == 39L && nPairs == (39L * 40L) / 2,
      s"stars=$nStars pairs=$nPairs")
  }

  test("incrementalEstSimPairs == filter(estSimPairsGrouped, a new OR b new) (mixed + hot-band)") {
    // mixed corpus: near-dup family, exact-dup groups (one larger than the
    // test cap => hot band, star semantics), unique noise. "new" = doc_id
    // % 5 == 0, interleaving old/new inside every dup group so the filter
    // exercises new-new, new-old AND old-old (dropped) pairs, including a
    // hot band whose star center (the band min) is an OLD doc.
    val rnd = new scala.util.Random(0x117)
    val base = (1 to 20).map(i => s"n$i").mkString(" ")
    val docs = (
      (1L to 25L).map(i => (i,
        Seq.fill(12)("w" + (i * 769 + rnd.nextInt(60000))).mkString(" "))) ++
      (26L to 33L).map(i => (i, base + s" end${i % 3} v$i")) ++
      (34L to 48L).map(i => (i, text))
    ).toDF("doc_id", "text")
    val mh = TextDedup.signatureFrame(docs)
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_sim"))).toSet
    // 6 => the 15-dup group degrades to a star; 14/15 put its bands just
    // over / exactly at the cap (the automaton's cold/hot edge)
    for (cap <- Seq(6, 14, 15, 128)) {
      val inc = norm(TextDedup.incrementalEstSimPairs(spark, mh, isNew, cap))
      val full = norm(TextDedup.estSimPairsGrouped(spark, mh, cap)
        .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0))
      assert(inc == full, s"cap=$cap: only-inc=${inc.diff(full).take(3)}, " +
        s"only-full=${full.diff(inc).take(3)}")
      assert(inc.nonEmpty)
      // the restriction is real: old-old pairs exist in the full set and
      // none of them survive the incremental output
      val dropped = norm(TextDedup.estSimPairsGrouped(spark, mh, cap)
        .filter(col("doc_a") % 5 =!= 0 && col("doc_b") % 5 =!= 0))
      assert(dropped.nonEmpty, s"cap=$cap: fixture lost its old-old pairs")
      assert(inc.intersect(dropped).isEmpty)
    }
    // a null-valued predicate means NOT-new (the full-pass filter drops
    // such pairs); it must not NPE the primitive-Boolean banded decode
    val nullPred = when(col("doc_id") % 5 === 0, lit(true))
      .otherwise(lit(null).cast("boolean"))
    val viaNull = norm(TextDedup.incrementalEstSimPairs(spark, mh, nullPred, 6))
    val viaBool = norm(TextDedup.incrementalEstSimPairs(spark, mh, isNew, 6))
    assert(viaNull == viaBool)

    // x18's end-to-end claim: old-only labels + incremental edges resolve
    // to EXACTLY the from-scratch components — including cap=6, where the
    // 15-dup group's bands go hot and the star center (the band min,
    // doc 34) is interleaved old/new with its members
    import graft.operators.Dedup
    def comps(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (cap <- Seq(6, 128)) {
      val oldLabels = Dedup.connectedComponents(
        TextDedup.bandStarEdges(mh.filter(!isNew)))
      val newEdges = TextDedup.incrementalEstSimPairs(spark, mh, isNew, cap)
        .select("doc_a", "doc_b")
      val inc = comps(Dedup.incrementalComponents(oldLabels, newEdges))
      val scratch = comps(Dedup.connectedComponents(TextDedup.bandStarEdges(mh)))
      assert(inc == scratch, s"cap=$cap: incremental resolve diverges " +
        s"(only-inc=${inc.diff(scratch).take(3)}, " +
        s"only-scratch=${scratch.diff(inc).take(3)})")
    }
  }

  test("incrementalEstSimPairs fuzz: == filter(full) across random corpora, splits and caps") {
    val rnd = new scala.util.Random(0x5eed)
    for (round <- 1 to 4) {
      // random mix of dup-group sizes (some crossing the small caps),
      // near-dup families and unique docs; random batch modulus so the
      // old/new split lands differently each round
      val base = (1 to 15 + rnd.nextInt(10)).map(i => s"r$round-b$i").mkString(" ")
      var id = 0L
      def nextId() = { id += 1; id }
      val docs = (
        (1 to 15 + rnd.nextInt(15)).map(_ => (nextId(),
          Seq.fill(10 + rnd.nextInt(6))("q" + rnd.nextInt(50000)).mkString(" "))) ++
        (1 to 3 + rnd.nextInt(3)).flatMap { g =>
          val n = 2 + rnd.nextInt(12)
          val t = if (g % 2 == 0) text else base + s" g$g"
          (1 to n).map(_ => (nextId(), t))
        }
      ).toDF("doc_id", "text")
      val mh = TextDedup.signatureFrame(docs)
      val mod = 2 + rnd.nextInt(5)
      val isNew = pmod(col("doc_id"), lit(mod)) === 0
      val cap = Seq(4, 7, 128)(rnd.nextInt(3))
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("est_sim"))).toSet
      val inc = norm(TextDedup.incrementalEstSimPairs(spark, mh, isNew, cap))
      val full = norm(TextDedup.estSimPairsGrouped(spark, mh, cap)
        .filter(col("doc_a") % mod === 0 || col("doc_b") % mod === 0))
      assert(inc == full, s"round=$round mod=$mod cap=$cap: " +
        s"only-inc=${inc.diff(full).take(3)}, only-full=${full.diff(inc).take(3)}")
    }
  }

  test("at-rest incremental loop end-to-end: day-0 ingest, day-1 append, incremental resolve == from-scratch") {
    // the production loop the x17/x18 scaladocs describe, over REAL parquet
    // artifacts and only public APIs: day-0 writes the signature table and
    // labels; day-1 appends the batch's signatures, pairs incrementally
    // against the at-rest table, and folds the edges into the labeling
    val rnd = new scala.util.Random(0xa77e57)
    val base = (1 to 20).map(i => s"ar$i").mkString(" ")
    val day0 = (
      (1L to 20L).map(i => (i,
        Seq.fill(12)("o" + (i * 613 + rnd.nextInt(40000))).mkString(" "))) ++
      (21L to 28L).map(i => (i, text)) ++
      (29L to 33L).map(i => (i, base + s" v${i % 2}"))
    ).toDF("doc_id", "text")
    val day1 = (
      (101L to 104L).map(i => (i, text)) ++            // joins the 21-28 cluster
      Seq(105L -> (base + " v0"),                      // joins the 29-33 family
          106L -> "entirely new content appearing only in the day one batch x",
          107L -> "entirely new content appearing only in the day one batch x")
    ).toDF("doc_id", "text")
    val sigDir = Files.createTempDirectory("graft_atrest_sig").toString

    TextDedup.signaturesToParquet(day0, sigDir)                       // day-0 ingest
    val day0Labels = graft.operators.Dedup.connectedComponents(
      TextDedup.bandStarEdges(spark.read.parquet(sigDir)))
    TextDedup.signatureFrame(day1)
      .write.mode("append").parquet(sigDir)                           // day-1 append
    val atRestMh = spark.read.parquet(sigDir)
    val newEdges = TextDedup.incrementalEstSimPairs(
      spark, atRestMh, col("doc_id") >= 101L).select("doc_a", "doc_b")
    val inc = graft.operators.Dedup.incrementalComponents(day0Labels, newEdges)

    val scratch = graft.operators.Dedup.connectedComponents(
      TextDedup.bandStarEdges(TextDedup.signatureFrame(day0.unionByName(day1))))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m(inc) == m(scratch))
    val comps = m(inc).toMap
    assert((Seq(21L to 28L, Seq(101L, 102L, 103L, 104L)).flatten)
      .forall(comps(_) == 21L), "day-1 copies must join the day-0 cluster")
    // 105 is an exact copy of 30/32's text (identical signature -> shared
    // bands guaranteed; whether the v0/v1 near-dup families merge is a
    // minhash roll the from-scratch equality already covers)
    assert(comps(105L) == comps(30L) && comps(107L) == 106L)
  }

  test("tf artifact roundtrip: tfidfTopKFromParquet == the session-persisted x12 form") {
    // null-text doc pins the n_docs caveat: it produces no tf rows but
    // counts toward the idf denominator on BOTH paths
    val docs = (
      (1L to 6L).map(i => (i, s"alpha beta gamma w$i w$i common term here")) ++
      Seq(7L -> "alpha alpha alpha rare unique pentagon word list body",
          8L -> null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_tf").toString
    TextDedup.termFrequenciesToParquet(docs, dir)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"), r.getAs[Long]("df"),
        r.getAs[Double]("tfidf"))).toSet
    val tf = TextDedup.termFrequencies(docs).persist()
    tf.count()
    val inline = norm(TextDedup.tfidfTopKOverTf(tf,
      docs.agg(count(lit(1)).as("n_docs"))))
    val atRest = norm(TextDedup.tfidfTopKFromParquet(spark, dir, docs.count()))
    tf.unpersist()
    assert(atRest == inline,
      s"only-atRest=${atRest.diff(inline).take(3)}, " +
        s"only-inline=${inline.diff(atRest).take(3)}")
    assert(inline.nonEmpty && !inline.exists(_._1 == 8L))
    // the at-rest table holds no row for the null-text doc, yet idf used
    // n_docs = 8 — a consumer deriving n_docs from distinct doc_id would
    // silently shift every idf (the caveat the scaladoc documents)
    assert(spark.read.parquet(dir).select("doc_id").distinct().count() == 7L)
  }

  test("d9 simhash pairs: blocked join == all-pairs, each pair found exactly once") {
    val dir = Files.createTempDirectory("graft_d9").toString
    // random corpus + planted near-identical pair (one-word delta => small
    // hamming) + exact dups (same simhash VALUE => not a pair, counted in
    // n_docs); enough docs that some random values land within hamming 1
    val rnd = new scala.util.Random(13)
    val docs = (1L to 200L).map { i =>
      (i, Seq.fill(10)("w" + rnd.nextInt(50)).mkString(" "), "en", "s", 60L)
    } ++ Seq(
      (201L, text, "en", "s", 60L), (202L, text, "en", "s", 60L)) // exact dups
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextDedup.queries("d9_simhash_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: the blocked join has no distinct, so duplicates here
    // would mean the pigeonhole argument is wrong
    assert(out.length == out.toSet.size, "pair emitted more than once")
    // independent all-pairs recompute over the distinct simhash values
    import graft.functions.Text
    val vals = Seq(docs: _*).toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
      .select(Text.simhashFromHashes(col("_th"), 16).as("simhash"))
      .distinct().collect().map(_.getLong(0))
    val expected = (for {
      a <- vals; b <- vals
      if a < b && java.lang.Long.bitCount(a ^ b) <= 1
    } yield (a, b)).toSet
    assert(out.toSet == expected, "blocked join diverges from all-pairs")
    assert(expected.nonEmpty, "corpus produced no hamming<=1 value pairs")
  }

  test("x12 tf-idf: corpus-wide terms score zero, rare terms rank top, k bounds rows") {
    val dir = Files.createTempDirectory("graft_tfidf").toString
    // 4 docs: 'common' in every doc (idf=0), rarer terms distinguish
    Seq(
      (1L, "common alpha alpha beta", "en", "s", 23L),
      (2L, "common beta beta gamma", "en", "s", 22L),
      (3L, "common gamma delta delta", "en", "s", 24L),
      (4L, "common epsilon epsilon epsilon", "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextDedup.queries("x12_tfidf_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // every doc has <= 5 rows and at most its distinct-term count
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == Set(1L, 2L, 3L, 4L))
    assert(byDoc.values.forall(_.length <= 5))
    // 'common' appears in all 4 docs -> idf = ln(1) = 0 -> tfidf 0
    assert(out.filter(_._2 == "common").forall(r => r._4 == 4L && r._5 == 0.0))
    // doc 4: epsilon tf=3, df=1 -> tfidf = 3*ln(4) tops the doc
    val top4 = byDoc(4L).maxBy(_._5)
    assert(top4._2 == "epsilon" && top4._3 == 3L)
    assert(math.abs(top4._5 - math.floor(3 * math.log(4.0) * 1e6 + 0.5) / 1e6) < 1e-12)
  }

  test("x14 repetition: hand-computed token/bigram fractions; 1-token doc has no bigrams") {
    val dir = Files.createTempDirectory("graft_x14").toString
    Seq(
      // "a a a b": top token a=3/4; bigrams [a a, a a, a b] -> top 2/3
      (1L, "a a a b", "en", "s", 7L),
      // all distinct: top token 1/4; bigrams all distinct -> 1/3
      (2L, "w x y z", "en", "s", 7L),
      // single token: no bigrams -> n_bigrams 0, frac 0.0
      (3L, "solo", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextDedup.queries("x14_repetition")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out(1L) == ((4L, f6(3.0 / 4), 3L, f6(2.0 / 3))))
    assert(out(2L) == ((4L, f6(1.0 / 4), 3L, f6(1.0 / 3))))
    assert(out(3L) == ((1L, 1.0, 0L, 0.0)))
  }

  test("short docs are total: 1- and 2-token docs survive shingle/minhash/x14 paths") {
    val dir = Files.createTempDirectory("graft_short").toString
    Seq((1L, "solo", "en", "s", 4L), (2L, "two words", "en", "s", 9L),
        (3L, text, "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // pre-guard, sequence(1, size-2) descended through index 0 for these
    // docs and element_at threw under ANSI — every query below crashed
    val mh = TextDedup.queries("d2_minhash")(spark, dir).collect()
    assert(mh.length == 3)
    val short = mh.filter(r => r.getLong(0) <= 2L)
    assert(short.forall(r => (1 to 8).forall(i => r.isNullAt(i))),
      "zero-shingle docs must minhash to null, not crash or fake values")
    // null-signature docs must NOT band together (concat_ws skips nulls,
    // so unfiltered they'd all share key "" and d4 would divide 0/0)
    val pairs = TextDedup.queries("d4_jaccard_verify")(spark, dir).collect()
    assert(pairs.forall(r => r.getLong(0) > 2L && r.getLong(1) > 2L),
      "zero-shingle docs leaked into LSH candidate pairs")
    val x14 = TextDedup.queries("x14_repetition")(spark, dir).collect()
    assert(x14.length == 3)
  }

  test("IVF assignments written partitioned by cell (partition-pruned probes)") {
    val dim = 4
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(j => if (j == (i % 2).toInt) 1.0 else 0.01 * i))
    }.toDF("vec_id", "v").withColumn("nrm",
      sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
    val cents = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assigned = Similarity.assignToCells(vecs, cents)
    val dir = Files.createTempDirectory("graft_ivf").toString
    Similarity.writeAssignmentsByCell(assigned, dir)
    val cells = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("cid="))
    assert(cells.toSet == Set("cid=0", "cid=1"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 40L)
    // a single-cell probe prunes to one partition directory
    val plan = back.filter(col("cid") === 0).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || back.filter(col("cid") === 0).count() > 0)
  }

  test("ANN index artifact roundtrip: parquet == session memo, queries identical") {
    val d = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft_annidx").toString
    Similarity.writeAnnIndex(spark, d, dir)
    // reference: the index derived in memory from the raw embeddings
    val raw = Similarity.vecs(spark, d)
    val mCells = Similarity.cellCountForAnn(graft.Tables.embeddings(spark, d).count())
    val mAssigned = Similarity.assignToCellsAuto(raw,
      raw.filter(col("vec_id") < mCells)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm")),
      mCells)
    val mCodes = mAssigned.select(col("vec_id"), col("cid"),
      Similarity.pqEncodeUdf(raw, Similarity.pqCodebook(raw))(col("v")).as("codes"))
    val (pAssigned, pCodes, pCells) = Similarity.annIndexFromParquet(spark, dir)
    assert(pCells == mCells)
    // frame-identical both ways (aligned by name before the except)
    def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             cols: Seq[String]) = {
      val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
      x.exceptAll(y).count() + y.exceptAll(x).count()
    }
    assert(diff(mAssigned.drop("v", "cv", "cnrm", "nrm"),
      pAssigned.drop("v", "cv", "cnrm", "nrm"), Seq("vec_id", "cid")) == 0)
    assert(diff(mCodes, pCodes, Seq("vec_id", "cid", "codes")) == 0)
    // an e4-shaped query served from the ARTIFACT equals the in-memory one
    val all = Similarity.vecs(spark, d)
    val queries = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    def run(codes: org.apache.spark.sql.DataFrame, n: Long) =
      Similarity.ivfPqSearchIndexed(all, codes.select("vec_id", "cid", "codes"),
          queries, n)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(pCodes, pCells) == run(mCodes, mCells))
  }
}
