package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so that every task-end event of a traced run is counted
  * before the counters are written out. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
