package graft
import java.nio.file.{Files, Paths}
import scala.collection.mutable
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in `<outDir>/errors.json` (name → bounded message)
  * and the run exits non-zero after every other query has been dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0); val outDir = args(1)
    // optional name filter: dump (and list oracles for) just these queries,
    // so a targeted `check.py` pass gates one new oracle in seconds
    val only = args.drop(2).toSet
    def wanted(n: String) = only.isEmpty || only(n)
    val spark = Spark.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // a reused outDir must not carry an earlier run's failures
    Files.deleteIfExists(Paths.get(s"$outDir/errors.json"))
    val errors = mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => wanted(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }
    // every control char escaped: a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness
    def jsonMap(m: Iterable[(String, String)]): String = m.map { case (k, v) =>
      "\"" + Bench.escapeJson(k) + "\": \"" + Bench.escapeJson(v) + "\""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonMap(SparkEntry.oracleSql.filter(o => wanted(o._1))))
    spark.stop()
    if (errors.nonEmpty) {
      Files.writeString(Paths.get(s"$outDir/errors.json"), jsonMap(errors))
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        s"${errors.keys.mkString(", ")} (messages in $outDir/errors.json)")
      sys.exit(1)
    }
  }
}
