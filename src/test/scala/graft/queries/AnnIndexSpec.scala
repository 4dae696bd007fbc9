package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-10 ANN changes: the two-pass rounding optimization in
  * assignToCells (raw-double argmax, BigDecimal HALF_UP only on
  * near-ties) must be EXACTLY output-equivalent to rounding every
  * similarity, and the shared at-rest index (annIndex /
  * ivfPqSearchIndexed) must be invisible in results. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("two-pass assignment equals the round-everything reference on real vectors") {
    val all = Similarity.vecs(spark, d)
    val nCells = 32L
    val cents = all.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val got = Similarity.assignToCells(all, cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: BigDecimal HALF_UP on EVERY centroid, first
    // max wins in ascending cid — the pre-optimization semantics
    val centArr = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val vecsArr = all.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    vecsArr.foreach { case (id, v, nrm) =>
      var bestCid = -1L
      var bestSim = Double.NegativeInfinity
      centArr.foreach { case (cid, cv, cnrm) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * cv(i); i += 1 }
        val sim = java.math.BigDecimal.valueOf(s / (nrm * cnrm))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (sim > bestSim) { bestSim = sim; bestCid = cid }
      }
      assert(got(id) == bestCid, s"vec $id: two-pass ${got(id)} vs reference $bestCid")
    }
  }

  test("near-tie adversarial case: raw argmax and rounded argmax disagree; rounded wins") {
    // c1's RAW similarity is strictly higher, but both round to the same
    // 6-dp value — the rounding contract ties them and the LOWER cid must
    // win. A raw-only argmax would answer 1; the two-pass must answer 0.
    val c0 = 0.99999991
    val c1 = 0.99999995 // same 6-dp round (1.0), higher raw
    def unit(cos: Double) = Seq(cos, math.sqrt(1 - cos * cos))
    val all = Seq((100L, Seq(1.0, 0.0), 1.0)).toDF("vec_id", "v", "nrm")
    val cents = Seq((0L, unit(c0), 1.0), (1L, unit(c1), 1.0))
      .toDF("cid", "cv", "cnrm")
    val got = Similarity.assignToCells(all, cents).select("cid").head.getLong(0)
    assert(got == 0L,
      s"6-dp tie must keep the lowest cid (raw would pick 1): got $got")
    // and a genuinely-separated pair keeps the true winner
    val cents2 = Seq((0L, unit(0.9), 1.0), (1L, unit(0.99), 1.0))
      .toDF("cid", "cv", "cnrm")
    assert(Similarity.assignToCells(all, cents2).select("cid").head.getLong(0) == 1L)
  }

  test("annIndex memoizes per (session, dir) and e2/e3/e4 share one build") {
    // the index is an at-rest table keyed by the embeddings' fingerprint:
    // the first resolve builds it (if absent), every later one — and
    // e2/e3/e4 — scans the same committed files without rewriting them
    val (a1, c1, n1) = Similarity.annIndex(spark, d)
    val dir = AtRest.resolve(spark, d, "embeddings").ann
    def commits = Seq("assignments", "codes", "meta").map(t =>
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(dir, t, AtRest.CommitMarker)))
    val m1 = commits
    for (q <- Seq("e2_ivf_ann", "e3_pq_ann", "e4_ivf_pq")) {
      assert(Similarity.queries(q)(spark, d).inputFiles.exists(_.contains(s"$dir/")),
        s"$q does not scan the at-rest index")
    }
    val (a2, c2, n2) = Similarity.annIndex(spark, d)
    assert(commits == m1, "a second resolve must not rebuild the index")
    assert(n1 == n2 && a1.inputFiles.sorted.sameElements(a2.inputFiles.sorted) &&
      c1.inputFiles.sorted.sameElements(c2.inputFiles.sorted))
    assert(a1.columns.toSet == Set("vec_id", "v", "nrm", "cid"))
    assert(c1.columns.toSet == Set("vec_id", "cid", "codes"))
    assert(a1.count() == Similarity.vecs(spark, d).count())
  }

  test("ivfPqSearchIndexed against the shared index equals ivfPqSearch") {
    val all = Similarity.vecs(spark, d)
    val nCells = Similarity.cellCountForAnn(all.count())
    val q = all.filter(col("vec_id") % 100 === 0 && col("vec_id") < 6400)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val direct = Similarity.ivfPqSearch(all, q, nCells)
      .collect().map(_.toSeq).toSet
    val (_, codes, n) = Similarity.annIndex(spark, d)
    assert(n == nCells)
    val indexed = Similarity.ivfPqSearchIndexed(all, codes, q, nCells)
      .collect().map(_.toSeq).toSet
    assert(direct == indexed, "pre-built code table must not change results")
    assert(direct.nonEmpty)
  }
}
