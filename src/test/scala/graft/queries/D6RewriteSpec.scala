package graft.queries

import graft.SparkSpec

/** d6 checkpoints its cell assignments per call, so an in-place rewrite of
  * the embeddings table — whatever the sf dir's URI scheme — can never
  * serve assignments of the old vectors, and no frame outlives the call. */
class D6RewriteSpec extends SparkSpec {
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
    val a = java.nio.file.Files.createTempDirectory("graft_d6rewrite")
    writeEmbeddings(a, seed = 1)
    val uri = a.toUri.toString.stripSuffix("/")
    assert(uri.startsWith("file:"), uri)
    val cachedBefore = spark.sharedState.cacheManager.isEmpty
    val before = d6(uri)
    assert(!cachedBefore || spark.sharedState.cacheManager.isEmpty,
      "d6 left its assignments in the CacheManager")

    writeEmbeddings(a, seed = 2)
    // the same vectors under a directory no earlier call has read
    val b = java.nio.file.Files.createTempDirectory("graft_d6rewrite")
    writeEmbeddings(b, seed = 2)
    val fresh = d6(b.toUri.toString.stripSuffix("/"))
    assert(fresh != before, "the two vector sets must give different pairs")
    assert(d6(uri) == fresh, "d6 served assignments of the old embeddings")
  }
}
