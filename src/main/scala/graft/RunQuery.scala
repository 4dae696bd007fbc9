package graft

/** Targeted query probe: run named SparkEntry queries against any sfDir and
  * print per-query wall seconds + row counts. Complements Bench (which runs
  * the whole inventory) for adversarial/scale probes of a few operators.
  * Usage: runMain graft.RunQuery <sfDir> <query> [query ...] */
object RunQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunQuery <sfDir> <query> [query ...]")
    val sfDir = args.head
    val spark = Spark.session("graft-runquery")
    spark.range(1000000).selectExpr("id % 97 AS k").groupBy("k").count()
      .write.format("noop").mode("overwrite").save() // warm-up
    // same pre-seed as Bench: at-rest consumers measure the steady state
    // regardless of probe order or disk history (builds stay in x19/x22)
    graft.queries.AtRest.preSeed(spark, sfDir)
    val names =
      if (args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val t0 = System.nanoTime()
      // NOT .count(): the optimizer rewrites an Aggregate-count on top of
      // the query (e.g. eliminating a cardinality-preserving left join and
      // everything feeding it), which under-reports the real cost. toRdd
      // executes the physical plan exactly as the query compiles it.
      val n = fn(spark, sfDir).queryExecution.toRdd.count()
      println(f"[runquery] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  $n%d rows")
      // cross-query canonical-plan cache hits mask standalone cost (a
      // persisted frame from query A silently serves query B) — drop the
      // catalog cache so every number reflects the query alone
      Bench.coldReset(spark)
    }
    spark.stop()
  }
}
