package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** One benchmark run in a fresh JVM: build the session, warm up, run one
  * workload, and write the run record (timings, fingerprints, spans and
  * counters) as JSON for perfbench/run.py, which computes the metrics and
  * checks the outputs.
  *
  * Usage: graftbench.Main --workload queries|vcf --trace 0|1 --out FILE
  *          [--data DIR --queries a,b,...|all] [--calibrate DIR] [--cold 1]
  *          [--vcf-inputs DIR --work DIR]
  *
  * The program's public functions are called unchanged; every timing is
  * taken here, around those calls.
  */
object Main {
  type Q = (SparkSession, String) => DataFrame

  /** The query modules of `graft.SparkEntry.queries`, by name. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "Relational" -> Relational.queries, "IntervalOps" -> IntervalOps.queries,
    "TextDedup" -> TextDedup.queries, "Similarity" -> Similarity.queries,
    "MultimodalQ" -> MultimodalQ.queries, "DomainMath" -> DomainMath.queries,
    "Curation" -> Curation.queries, "ReportGrid" -> ReportGrid.queries,
    "AtRest" -> AtRest.queries)

  /** Bounded, attributed error text. */
  def errorText(name: String, e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ")
    s"$name: ${e.getClass.getSimpleName}: $msg".take(240)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json.writeValueAsString(value))

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val workload = opt("workload")
    val traced = opt.get("trace").contains("1")
    val record = mutable.LinkedHashMap.empty[String, Any]

    val (spark, sessionS) = timed(graft.Spark.session("graft-perfbench"))
    val tracer = new Tracer(spark, traced)
    val (_, warmupS) = tracer.span("warmup", "setup")(warmUp(spark))
    record("setup") = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS, "warmup_s" -> warmupS)

    workload match {
      case "queries" => QueryWorkload.run(spark, tracer, opt, record)
      case "vcf" => VcfPipeline.run(spark, tracer, opt, record)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    tracer.drain()
    record("cores") = spark.sparkContext.defaultParallelism
    record("peak_rss_mb") = peakRssMb()
    record("spans") = tracer.recorded.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "t0" -> s.startNs, "t1" -> s.endNs, "c" -> s.counters.toMap)
    }
    writeJson(opt("out"), record)
    spark.stop()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds every thread of this JVM has used so far: the Spark
    * driver and task threads, GC and JIT, in 10 ms ticks. Time a thread
    * waits for a CPU is not in it; in a VM, time the hypervisor took from a
    * CPU while a thread ran on it may be (perfbench/BENCH.md). */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** Seconds the hypervisor has withheld from this machine's CPUs so far,
    * summed over CPUs (`steal` in /proc/stat; 0 where it is not available). */
  def hostStealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+")(8).toDouble / 100.0 finally src.close()
    } catch { case _: java.io.IOException | _: RuntimeException => 0.0 }

  /** CPU seconds so far of the JVM's own threads, by kind: "jit" (the C1
    * and C2 compiler threads) and "gc" (G1's threads), read from
    * /proc/self/task (Linux; empty elsewhere). Threads that ended are not
    * in it. */
  def jvmThreadCpuS(): Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        val kind = if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) "jit"
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "gc" else ""
        if (kind.isEmpty) None else Some(kind -> (f(11).toLong + f(12).toLong) / 100.0)
      } catch { case _: java.io.IOException | _: RuntimeException => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** `body`'s value, wall seconds and CPU seconds (of the whole JVM). */
  def timedCpu[T](body: => (T, Double)): (T, Double, Double) = {
    val c0 = processCpuS()
    val (v, s) = body
    (v, s, processCpuS() - c0)
  }

  /** Wall-clock seconds since the epoch, to the microsecond. */
  def epochS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** Shuffle, codegen and aggregation paths, so the first measured call
    * does not pay for JIT and class loading alone. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }
}

/** suite-sf0.1: registered queries over a table directory, each
  * constructed, planned and executed through a result fingerprint. */
object QueryWorkload {
  import Main._

  def run(spark: SparkSession, tracer: Tracer, opt: Map[String, String],
          record: mutable.Map[String, Any]): Unit = {
    val dir = opt("data")
    val moduleOf = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val all = modules.flatMap(_._2).toMap
    val names = opt("queries") match {
      case "all" => all.keys.toSeq.sorted // the whole registered suite
      case list => list.split(",").toSeq.filter(_.nonEmpty).sorted
    }

    // seed the at-rest store (fresh per run, GRAFT_ATREST_DIR) before any
    // timing, as the program's own bench does
    val setup = record("setup").asInstanceOf[mutable.Map[String, Any]]
    setup("atrest_seed_s") = tracer.span("atrest_seed", "setup")(AtRest.preSeed(spark, dir))._2
    setup("ready_epoch_s") = epochS()
    setup("ready_cpu_s") = processCpuS()

    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    // results are kept for writing only when calibrating, so a timed pass
    // holds no earlier query's plan, broadcasts or shuffle files
    val calibrate = opt.contains("calibrate")
    val frames = mutable.LinkedHashMap.empty[String, DataFrame]
    val jvm0 = jvmThreadCpuS()
    val steal0 = hostStealS()
    val (_, wallS, cpuS) = timedCpu(tracer.span("workload", "workload") {
      names.foreach { n =>
        val fn = all.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n"))
        var fp: Option[Fingerprint] = None
        var err: Option[String] = None
        // --cold 1: every query starts with no session memo or cached frame,
        // so it pays for the memos it uses (the cold profile of suite_slice.py)
        if (opt.get("cold").contains("1")) graft.Bench.coldReset(spark)
        val (_, qs, qcpu) = timedCpu(tracer.span(n, "query") {
          try {
            val (df, _) = tracer.span("construct", "construct")(fn(spark, dir))
            if (tracer.enabled) tracer.span("plan", "plan")(df.queryExecution.executedPlan)
            fp = Some(tracer.span("exec", "exec")(Fingerprint.of(df))._1)
            if (calibrate) frames(n) = df
          } catch { case e: Throwable => err = Some(errorText(n, e)) }
        })
        results += Map("name" -> n, "module" -> moduleOf(n), "wall_s" -> qs, "cpu_s" -> qcpu,
          "fp" -> fp.map(_.toMap), "error" -> err)
      }
    })
    // --calibrate DIR: after the timed phase, write each result and its
    // oracle SQL, so the run's fingerprints can be checked against DuckDB
    opt.get("calibrate").foreach { d =>
      new java.io.File(d).mkdirs()
      val sql = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
      writeJson(s"$d/oracle_sql.json", sql)
      frames.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$d/$n") }
    }
    record("wall_s") = wallS
    record("cpu_s") = cpuS
    record("steal_s") = hostStealS() - steal0
    record("jvm_cpu_s") = jvmThreadCpuS().map { case (k, v) => k -> (v - jvm0.getOrElse(k, 0.0)) }
    record("ops") = results.toList
  }
}
