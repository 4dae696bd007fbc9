package graft

/** No registered query may leave a frame in Spark's CacheManager. Reuse
  * across queries goes through the at-rest store (AtRest), reuse within
  * one query through local checkpoints, which hold no CacheManager entry
  * and are freed once their frame is unreachable. A session memo or a
  * persist nothing unpersists would keep its frame for the session's life
  * and subsidize every later query; this gate runs every registered query,
  * so neither can creep back in anywhere. It is also why the bench needs
  * no cache clearing between queries. */
class CacheGuardSpec extends SparkSpec {

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"

  test("queries leave the CacheManager as they found it") {
    spark.catalog.clearCache()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    assert(queries.size >= 108)
    queries.foreach { case (n, q) =>
      val before = spark.sharedState.cacheManager.isEmpty
      assert(q(spark, sfDir).queryExecution.toRdd.count() >= 0)
      assert(!before || spark.sharedState.cacheManager.isEmpty,
        s"$n left a frame in the CacheManager")
    }
  }
}
