package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.operators.ConnectedComponents
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The connected-components queries return lazy frames: constructing
  * d7, x18 or x23 over a seeded store runs no Spark job, and the CC is a
  * ConnectedComponents step of the optimized plan. x22 builds its labels
  * eagerly, by design, and its CC runs inside the labels write. */
class LazyComponentsSpec extends SparkSpec {

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"

  /** `body`'s value and the Spark jobs started while it ran. A sentinel
    * job run afterwards marks the end: one listener queue delivers events
    * in order, so once the sentinel's start arrives every earlier job's
    * has too. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.sentinel") != null)) done.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val v = body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never reported")
      (v, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def ccSteps(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case c: ConnectedComponents => c }.size

  test("d7/x18/x23 construct with zero jobs over a ConnectedComponents step; x22 runs CC in its write") {
    AtRest.preSeed(spark, sfDir)
    for ((q, steps) <- Seq("d7_dedup_resolve" -> 1, "x18_incremental_resolve" -> 2,
        "x23_atrest_resolve" -> 1)) {
      val (df, jobs) = jobsDuring(SparkEntry.queries(q)(spark, sfDir))
      assert(jobs == 0, s"$q ran $jobs Spark jobs while constructing")
      assert(ccSteps(df) == steps, s"$q: ${df.queryExecution.optimizedPlan}")
      assert(df.count() > 0, q)
    }
    // x22 builds the labels table eagerly: one job per AQE stage of the
    // star edges (three exchanges), the union-find arm's edge read and the
    // write — no per-round checkpoint or count, and its read of the written
    // table declares the schema (no footer-inference job)
    val (labels, buildJobs) = jobsDuring(SparkEntry.queries("x22_labels_build")(spark, sfDir))
    assert(buildJobs <= 5, s"x22's build and read ran $buildJobs jobs")
    assert(ccSteps(labels) == 0, "x22 reads the written labels table")
    assert(labels.count() > 0)
  }
}
