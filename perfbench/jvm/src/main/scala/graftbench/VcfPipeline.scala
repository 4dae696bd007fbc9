package graftbench

import graft.operators.Intervals
import graft.pipelines.Concordance
import graft.reports.VarReport
import graft.sources.{Bgzf, Tabix}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** vcf-pipeline: the paper's own path over a generated call set, truth
  * set and confident-regions BED (plain-text inputs in `--vcf-inputs`):
  * BGZF + tabix, typed scan with GQ/INFO pushdown, confident-region
  * restriction, tp/fp/fn labelling, accuracy metrics and P/R curve, the
  * var report, an indexed VCF write, and region lookups on the written
  * output. Each step is materialized inside its own phase span; the
  * outputs the checks need are returned in the run record. */
object VcfPipeline {
  import Main._

  val InfoFields = "DP:long,HMER:long,VT"
  val MinGq = 20
  val MinDp = 10L
  val WarmLookups = 40

  def run(spark: SparkSession, tracer: Tracer, opt: Map[String, String],
          record: mutable.Map[String, Any]): Unit = {
    val in = opt("vcf-inputs")
    val work = opt("work")
    val conf = spark.sparkContext.hadoopConfiguration
    val lookups = readLookups(s"$in/lookups.tsv")

    // open the inputs: headers of both sets and the BED
    val (_, openS) = tracer.span("open_inputs", "setup") {
      Seq("calls", "truth").foreach(n =>
        graft.sources.Vcf.headerLines(spark, s"$in/$n.vcf"))
      spark.read.option("sep", "\t").csv(s"$in/regions.bed").schema
    }
    val setup = record("setup").asInstanceOf[mutable.Map[String, Any]]
    setup("open_inputs_s") = openS
    setup("ready_epoch_s") = epochS()
    setup("ready_cpu_s") = processCpuS()

    val layers = mutable.LinkedHashMap.empty[String, Double]
    val lookupS = mutable.ArrayBuffer.empty[Double]
    val lookupCpuS = mutable.ArrayBuffer.empty[Double]
    val lookupRows = mutable.ArrayBuffer.empty[Long]
    val pruneRatios = mutable.ArrayBuffer.empty[Double]
    def phase[T](name: String)(body: => T): T = tracer.span(name, "phase")(body)._1
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      persisted += p
      p.count()
      p
    }

    var accuracy: Seq[Map[String, Any]] = Nil
    var curveRows = 0L
    var scans: Seq[DataFrame] = Nil
    var restrictedCalls: DataFrame = null
    val outDir = s"$work/calls_out"

    val jvm0 = jvmThreadCpuS()
    val steal0 = hostStealS()
    val (_, wallS, cpuS) = timedCpu(tracer.span("workload", "workload") {
      phase("bgzf_write") {
        Seq("calls", "truth").foreach { n =>
          val src = scala.io.Source.fromFile(s"$in/$n.vcf", "UTF-8")
          val out = new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(s"$work/$n.vcf.gz"), 1 << 20)
          try Bgzf.write(src.getLines(), out)
          finally { out.close(); src.close() }
        }
      }
      phase("tabix_build") {
        Seq("calls", "truth").foreach(n => Tabix.buildForVcf(conf, s"$work/$n.vcf.gz"))
      }

      // typed scan; the GQ and INFO/DP predicates are pushed into the source
      val (calls, truth) = phase("vcf_scan") {
        def read(n: String) = spark.read.format("vcf").option("info_fields", InfoFields)
          .load(s"$work/$n.vcf.gz")
        val c = keep(read("calls").filter(col("gq") >= MinGq && col("info_dp") >= MinDp))
        val t = keep(read("truth"))
        (c, t)
      }
      scans = Seq(calls, truth)

      val (rc, rt) = phase("intervals_restrict") {
        val bed = spark.read.option("sep", "\t").csv(s"$in/regions.bed")
          .toDF("chrom", "bstart", "bend")
          .select(col("chrom"), col("bstart").cast("long"), col("bend").cast("long"))
        def restrict(df: DataFrame): DataFrame = {
          val spans = df.select(col("chrom"), col("pos"),
            (col("pos") - 1).as("start"), (col("pos") - 1 + length(col("ref"))).as("end"))
          val inside = Intervals.semiJoin(spans, bed, broadcastB = true)
          keep(df.join(inside.select("chrom", "pos"), Seq("chrom", "pos"), "left_semi"))
        }
        (restrict(calls), restrict(truth))
      }
      restrictedCalls = rc

      val concordance = phase("concordance_label") {
        def keyed(df: DataFrame, side: String) = df.select(
          col("chrom"), col("pos"), col("ref"), element_at(col("alleles"), 2).as("alt"),
          col("qual").as(s"${side}_qual"), col("info_hmer").as(s"${side}_hmer"),
          lit(true).as(s"${side}_present"))
        val j = keyed(rc, "c").join(keyed(rt, "t"), Seq("chrom", "pos", "ref", "alt"), "full_outer")
        val labelled = keep(j.select(
          col("chrom"), col("pos"),
          (col("c_present").isNotNull && col("t_present").isNotNull).as("tp"),
          (col("c_present").isNotNull && col("t_present").isNull).as("fp"),
          (col("c_present").isNull && col("t_present").isNotNull).as("fn"),
          (length(col("ref")) =!= length(col("alt"))).as("indel"),
          coalesce(col("c_hmer"), col("t_hmer"), lit(0L)).as("hmer_indel_length"),
          coalesce(col("c_qual"), lit(0.0)).as("score"),
          xxhash64(col("chrom"), col("pos")).as("row_key")))
        accuracy = Concordance.accuracyMetrics(labelled).collect().toSeq.map { r =>
          Map("category" -> r.getString(0), "tp" -> r.getLong(1), "fp" -> r.getLong(2),
            "fn" -> r.getLong(3))
        }
        labelled
      }
      curveRows = phase("pr_curve")(Concordance.recallPrecisionCurve(concordance).count())
      phase("var_report")(VarReport.write(concordance, s"$work/report"))

      phase("vcf_write") {
        rc.orderBy("chrom", "pos").write.format("vcf")
          .option("compression", "bgzf").option("index", "tbi")
          .mode("overwrite").save(outDir)
      }

      phase("region_lookups") {
        val out = spark.read.format("vcf").option("info_fields", InfoFields)
          .option("split_bytes", (256 * 1024).toString).load(outDir)
        val unpruned = if (tracer.enabled) scanSplits(out) else 0
        def lookup(c: String, lo: Long, hi: Long) =
          out.filter(col("chrom") === c && col("pos").between(lo, hi))
        // the first lookups run while the JIT compiles the lookup path;
        // these warm it, so that the per-lookup figures are of the steady state
        lookups.take(WarmLookups).foreach { case (c, lo, hi) => lookup(c, lo, hi).collect() }
        lookups.foreach { case (c, lo, hi) =>
          val df = lookup(c, lo, hi)
          if (tracer.enabled && unpruned > 0) pruneRatios += scanSplits(df).toDouble / unpruned
          // a lookup returns its records to the Spark driver
          val (n, s, cpu) = timedCpu(timed(df.collect().length.toLong))
          lookupS += s
          lookupCpuS += cpu
          lookupRows += n
        }
      }
    })

    // sizes and check inputs, outside the timed phase: the written VCF
    // re-read against the rows that were scanned and restricted
    def bytes(files: Seq[java.io.File]) = files.map(_.length.toDouble).sum
    layers("Bgzf.bytes_out") =
      bytes(Seq("calls", "truth").map(n => new java.io.File(s"$work/$n.vcf.gz")))
    layers("VcfV2.rows_out") = scans.map(_.count()).sum.toDouble
    val outBytes = bytes(Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".vcf.gz")).toSeq)
    layers("VcfWriteV2.bytes_out") = outBytes
    layers("VcfWriteV2.bytes_per_record") = outBytes / math.max(1L, restrictedCalls.count())
    val reread = spark.read.format("vcf").option("info_fields", InfoFields).load(outDir)
    val cols = restrictedCalls.columns.toSeq.sorted
    val written = Fingerprint.of(reread.select(cols.map(col): _*))
    val scanned = Fingerprint.of(restrictedCalls.select(cols.map(col): _*))
    persisted.foreach(_.unpersist())

    if (pruneRatios.nonEmpty) layers("Tabix.prune_ratio") = pruneRatios.sum / pruneRatios.size
    record("wall_s") = wallS
    record("cpu_s") = cpuS
    record("steal_s") = hostStealS() - steal0
    record("jvm_cpu_s") = jvmThreadCpuS().map { case (k, v) => k -> (v - jvm0.getOrElse(k, 0.0)) }
    record("layers") = layers
    record("lookups") = lookups.indices.map(i => Map(
      "chrom" -> lookups(i)._1, "lo" -> lookups(i)._2, "hi" -> lookups(i)._3,
      "wall_s" -> lookupS(i), "cpu_s" -> lookupCpuS(i), "rows" -> lookupRows(i)))
    record("accuracy") = accuracy
    record("pr_curve_rows") = curveRows
    record("written_fp") = written.toMap
    record("scanned_fp") = scanned.toMap
  }

  /** Input partitions the vcf scan of `df` plans (after index pruning). */
  private def scanSplits(df: DataFrame): Int =
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.inputPartitions.size
    }.sum

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def readLookups(path: String): Seq[(String, Long, Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      (f(0), f(1).toLong, f(2).toLong)
    }.toList
    finally src.close()
  }
}
