package graft.queries

import graft.SparkSpec

/** d6's session memo is keyed by a freshness token of the embeddings
  * table; the token must see an in-place rewrite whatever the sf dir's
  * URI scheme, or the memo serves cell assignments of the old vectors. */
class D6FreshnessSpec extends SparkSpec {
  import spark.implicits._

  private def writeEmbeddings(dir: java.nio.file.Path, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    (0L until 60L).map { i =>
      (i, Array.tabulate(8)(_ => rnd.nextFloat() - 0.5f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }

  private def d6(sfDir: String): Seq[String] =
    Similarity.queries("d6_cosine_dedup")(spark, sfDir).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq

  test("d6 recomputes after the embeddings are rewritten in place under a file: URI") {
    val a = java.nio.file.Files.createTempDirectory("graft_d6fresh")
    writeEmbeddings(a, seed = 1)
    val uri = a.toUri.toString.stripSuffix("/")
    assert(uri.startsWith("file:"), uri)
    val before = d6(uri)
    val token = Similarity.embeddingsToken(spark, uri)
    assert(token.nonEmpty && !token.startsWith("0:"), token)

    writeEmbeddings(a, seed = 2)
    assert(Similarity.embeddingsToken(spark, uri) != token)
    // the same vectors under a directory the memo has never seen
    val b = java.nio.file.Files.createTempDirectory("graft_d6fresh")
    writeEmbeddings(b, seed = 2)
    val fresh = d6(b.toUri.toString.stripSuffix("/"))
    assert(fresh != before, "the two vector sets must give different pairs")
    assert(d6(uri) == fresh, "d6 served the memo of the old embeddings")
  }
}
