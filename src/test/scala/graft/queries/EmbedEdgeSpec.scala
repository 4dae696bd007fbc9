package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Totality of the embedding family over adversarial vectors — above all
  * the ZERO vector, whose cosine is undefined: Spark 4 ANSI throws
  * DIVIDE_BY_ZERO even for double division while DuckDB yields NULL, so
  * the engine's contract is exclusion at ingest (vecs() filters nrm > 0;
  * the oracles carry the same predicate). */
class EmbedEdgeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_embedge")
    val rnd = new scala.util.Random(7)
    val rows = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => rnd.nextFloat() - 0.5f), (i % 3).toInt)
    } :+ ((40L, Array.fill(8)(0.0f), 1)) // the zero vector
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(d.resolve("embeddings.parquet").toString)
    d.toString
  }

  test("e1/e2/d6 are total with a zero vector present; the zero vector is excluded") {
    for (q <- Seq("e1_knn_cosine", "e2_ivf_ann", "d6_cosine_dedup")) {
      val out = Similarity.queries(q)(spark, dir).collect() // must not throw
      val ids = out.flatMap { r =>
        (0 until r.length).collect {
          case i if r.schema(i).name.matches("vec_id|qid|vec_b") && !r.isNullAt(i) =>
            r.getLong(i)
        }
      }.toSet
      assert(!ids.contains(40L), s"$q surfaced the zero vector")
      assert(out.nonEmpty, q)
    }
  }

  test("e3/e4 build and search the PQ index over 8-dim vectors (sub-dimension from the width)") {
    for (q <- Seq("e3_pq_ann", "e4_ivf_pq")) {
      val out = Similarity.queries(q)(spark, dir).collect() // must not throw
      assert(out.nonEmpty, q)
    }
    // against a direct reference: with 8 dims each of the PQ_M subspaces
    // is one dim wide, and a code is the codebook entry (the first PQ_K
    // vectors) nearest in that dim, distances at 6 dp, ties to lowest k
    val all = spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 40)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val vs = all.as[(Long, Seq[Double])].collect().toMap
    val cb = (0 until Similarity.PQ_K).map(k => vs(k.toLong))
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val codes = Similarity.pqEncode(all).as[(Long, Seq[Int])].collect().toMap
    for ((id, v) <- vs) {
      val expected = (0 until Similarity.PQ_M).map { m =>
        cb.indices.minBy(k => (r6(math.pow(v(m) - cb(k)(m), 2)), k))
      }
      assert(codes(id) == expected, s"vec $id")
    }
  }

  test("PQ fails loudly, naming the width, on vectors it cannot split") {
    val odd = Seq((0L, Seq.fill(10)(1.0))).toDF("vec_id", "v")
    val e = intercept[Exception](Similarity.pqEncode(odd).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("got width 10")), e.toString)
  }
}
