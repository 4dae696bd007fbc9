package graft

/** `Bench.coldReset` is one `spark.catalog.clearCache()`: that is enough to
  * make a standalone probe COLD because no operator or registered query
  * leaves a frame in Spark's CacheManager. The round-12 defect was a warm
  * rerun publishing a cache projection: w3's
  * `OverlapSuppress.suppressSegmented` persisted its input and never
  * unpersisted it, so a rerun in the same session scanned memory instead
  * of parquet (0.0067 s at the 100x replica for a 30 s query). It now
  * materializes through a local checkpoint, which holds no CacheManager
  * entry. CacheGuardSpec holds the registered queries to the same rule.
  */
class BenchColdResetSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("suppressSegmented leaves the CacheManager as it found it (w3 shape)") {
    import spark.implicits._
    Bench.coldReset(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    // the registered w3 reaches the segmented path through suppressAuto only
    // when single chroms dominate, so drive it directly
    val rs = (0 until 500).map(i => graft.operators.SuppressRecord(
      s"c${i % 2}", i.toLong * 7, if (i % 4 == 0) 20L else 0L,
      called = i % 5 == 0, uncalledGt = i % 3 == 0))
    val out = graft.operators.OverlapSuppress.suppressSegmented(rs.toDS())(spark)
    assert(out.queryExecution.toRdd.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "suppressSegmented left a frame in the CacheManager for the session's life")
  }

  test("memo-backed query returns identical results after coldReset") {
    val run1 = SparkEntry.queries("d3_lsh_pairs")(spark, sfDir)
      .collect().map(_.toString).sorted
    Bench.coldReset(spark)
    val run2 = SparkEntry.queries("d3_lsh_pairs")(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(run1.sameElements(run2), "a cold rerun must reproduce the at-rest result")
  }
}
