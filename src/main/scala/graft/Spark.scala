package graft

import org.apache.spark.sql.SparkSession

/** Single place for engine session config so Verify, Bench, and tests agree.
  *
  * Scale notes: shuffle partitions default to the local core count here; on a
  * real cluster this would be left to AQE coalescing
  * (spark.sql.adaptive.coalescePartitions, enabled by default in Spark 4).
  */
object Spark {
  def session(appName: String = "graft", cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // driver testdata writes TIMESTAMP(NANOS) parquet; read as long ns
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // explicit AQE posture (defaults in Spark 4, pinned for clarity):
      // runtime partition coalescing + skew-join splitting are the first
      // line of defense for hot contigs/keys at scale
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the by-design global windows (PlanSpec pins exactly which queries
    // plan one) each log "No Partition Defined" on every run
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
