package graft

/** No registered query may leave a frame in Spark's CacheManager. Reuse
  * across queries goes through the at-rest store (AtRest), reuse within
  * one query through local checkpoints, which hold no CacheManager entry
  * and are freed once their frame is unreachable. A session memo or a
  * persist nothing unpersists would keep its frame for the session's life
  * and subsidize every later query; this gate stops either creeping back
  * in through the queries that used to hold one. */
class CacheGuardSpec extends SparkSpec {

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"
  private val names = Seq(
    "d3_lsh_pairs", "d4_jaccard_verify", "d6_cosine_dedup", "d8_ngram_hotspots",
    "x6_decontaminate", "x8_boiler_fraction", "x12_tfidf_topk",
    "x15_bloom_decontaminate", "x16_dup_spans", "e2_ivf_ann", "e3_pq_ann",
    "e4_ivf_pq", "rg1_detailed_grid", "rg3_jc_stats")

  test("queries leave the CacheManager as they found it") {
    spark.catalog.clearCache()
    names.foreach { n =>
      val before = spark.sharedState.cacheManager.isEmpty
      assert(SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count() >= 0)
      assert(!before || spark.sharedState.cacheManager.isEmpty,
        s"$n left a frame in the CacheManager")
    }
  }
}
