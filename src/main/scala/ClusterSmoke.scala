import org.apache.spark.sql.SparkSession

/** Repeatable cross-JVM co-location smoke (VERDICT r15 #4): replay the two
  * operators whose correctness rests on partition co-location contracts —
  * the d-family band MapGroups automaton (x21) and everyKthPacked's manual
  * exchange + fill assertion (w7) — on a REAL 2-executor standalone
  * cluster, and compare their exact COUNTS against the DuckDB-arbitrated
  * references. No timings on purpose: cluster walls are not comparable
  * across runs; the counts are the contract. Exits nonzero on any
  * mismatch so `tools/cluster_smoke.sh` can gate a round's final
  * artifacts whenever the automaton code changed.
  *
  * Usage: runMain ClusterSmoke [sfDir] [expectedX21] [expectedW7]
  *   defaults: /tmp/sf100 22574543 600000 (the r15 cluster replays,
  *   both independently DuckDB/locally arbitrated)
  *   (env SPARK_GRAFT_MASTER overrides spark://localhost:7077)
  */
object ClusterSmoke {

  /** graft.Spark.session's SQL posture, but targeting the standalone
    * harness master, with executors loading the engine classes from the
    * build dir (same box). */
  private def session(master: String): SparkSession = {
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val spark = SparkSession.builder()
      .appName("graft-cluster-smoke")
      .master(master)
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.executor.cores", "16")
      .config("spark.executor.memory", "20g")
      .config("spark.cores.max", "32") // 2 executors x 16 cores
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/sf100")
    val expX21 = if (args.length > 1) args(1).toLong else 22574543L
    val expW7 = if (args.length > 2) args(2).toLong else 600000L
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "spark://localhost:7077")
    val spark = session(master)

    println(s"[smoke] master=$master sfDir=$d")
    graft.Tables.documents(spark, d).limit(100).count() // ship closures once

    val x21 = graft.SparkEntry.queries("x21_atrest_pairs")(spark, d).count()
    println(s"[smoke] x21 pairs=$x21 expected=$expX21")
    val w7 = graft.SparkEntry.queries("w7_downsample")(spark, d).count()
    println(s"[smoke] w7 rows=$w7 expected=$expW7 (fill assertion silent)")
    spark.stop()

    val ok = x21 == expX21 && w7 == expW7
    println(if (ok) "[smoke] PASS" else "[smoke] FAIL")
    if (!ok) sys.exit(1)
  }
}
