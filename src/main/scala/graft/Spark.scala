package graft

import java.lang.management.ManagementFactory
import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.sql.SparkSession

/** Single place for engine session config so Verify, Bench, and tests agree.
  *
  * Scale notes: shuffle partitions default to the local core count here; on a
  * real cluster this would be left to AQE coalescing
  * (spark.sql.adaptive.coalescePartitions, enabled by default in Spark 4).
  *
  * Memory: `spark.buffer.pageSize` (Tungsten execution pages) and
  * `spark.broadcast.blockSize` are both [[pageBytes]], a quarter of the
  * JVM's G1 region, so a page or a block plus its array header stays under
  * half a region, G1's humongous threshold. Spark's own sizes, 64 MiB pages
  * (execution pool / cores / 16, capped) and 4 MiB blocks that each
  * broadcast allocates before it writes a byte, are humongous at an 8 GiB
  * heap (4 MiB regions): a suite-sf0.1 pass held up to 322 humongous
  * regions at a young GC, 32 with these sizes, and its VmHWM fell from
  * 3074 to 1997 MiB (vcf-pipeline 2865 to 2115). G1 sizes a region at
  * heap / 2048 rounded up to a power of two, so with `TaskMemoryManager`'s
  * 8192-entry page table a task still addresses a whole heap of pages and
  * runs out of memory before it runs out of page numbers (up to 64 GiB,
  * where regions stop growing at 32 MiB). Sort and hash-map pointer
  * arrays grow with their rows and are outside the rule.
  */
object Spark {
  /** A quarter of the JVM's G1 region size; None when the JVM does not
    * run G1 (the region size reads 0), and the session keeps Spark's
    * defaults. */
  lazy val pageBytes: Option[Long] =
    Some(ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
      .getVMOption("G1HeapRegionSize").getValue.toLong / 4).filter(_ > 0)

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
      .config(pageBytes.toSeq.flatMap(b => Seq("spark.buffer.pageSize" -> s"${b}b",
        "spark.broadcast.blockSize" -> s"${b}b")).toMap)
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
