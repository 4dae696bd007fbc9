package graft
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Driver-run benchmark: one JSON line with per-query wall seconds.
  *
  * Queries are fully materialized through the `noop` sink (not `count()`)
  * so ordering/window stages aren't optimizer-eliminated, and a warm-up
  * job absorbs JVM/codegen startup so the first measured query isn't
  * penalized. Queries run in sorted name order for stable comparisons.
  *
  * Contention hardening, round 7. The round-5 AND round-6 driver artifacts
  * were both poisoned by a co-tenant JVM; round 6's endpoint-loadavg gate
  * (heal only when load_before/load_after > 1.5x cores) provably missed a
  * co-tenant that ran mid-pass and was gone by the final sample. The heal
  * is now *profile-based and unconditional*:
  *   - system load is sampled after EVERY query and stamped per-query into
  *     a `"load"` map (plus `load_before`/`load_after`/`cores`), so a
  *     mid-run spike is machine-visible even when both endpoints are idle;
  *   - any query slower than max(2 s, 3x its entry in the committed clean
  *     profile `BENCH_PROFILE.json`) is re-run once and the minimum kept
  *     (`reran` lists them) — *regardless* of what loadavg says. A genuine
  *     slow query stays slow (both runs slow), a contention spike heals.
  *     Queries absent from the profile (new this round) fall back to
  *     max(2 s, 3x the profile median); with no usable profile (sf
  *     mismatch, e.g. the 100x replica), the threshold is 5x this run's
  *     own median, so a single poisoned window still stands out;
  *   - failures land in an `"errors"` map, never silently in the timing
  *     map, with all control characters JSON-escaped.
  *
  * The decision logic lives in pure functions (`suspicious`, `heal`,
  * `renderBench`) so BenchHealSpec can prove the heal fires on a poisoned
  * timing with idle endpoint load stamps — the exact mode that corrupted
  * BENCH_r05/r06 — and that the stdout line obeys the driver's tail-capture
  * budget ([[MaxStdoutLine]], round 18). `BENCH_PROFILE.json` is committed
  * and never written by this process (the per-run artifact goes to
  * BENCH_LOCAL_<sf>_c<cores>.json / SPARK_GRAFT_BENCH_OUT).
  */
object Bench {
  private def systemLoad(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Escape a string for embedding in a JSON literal: quote, backslash, and
    * every control char < 0x20 (\n, \r, \t included) as \u00XX.
    */
  def escapeJson(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  /** Parse a bench artifact (the one-line JSON this object emits) into
    * (sf, per-query seconds). Returns None on any parse failure.
    */
  def parseProfile(json: String): Option[(String, Map[String, Double])] =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(json)
      val sf = Option(root.get("sf")).map(_.asText).getOrElse("")
      val qs = Option(root.get("queries")).map { node =>
        val it = node.properties().iterator()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble }
        b.result()
      }.getOrElse(Map.empty[String, Double])
      if (qs.isEmpty) None else Some((sf, qs))
    } catch { case _: Throwable => None }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else s(s.size / 2)
  }

  /** Queries whose measured time exceeds the heal threshold.
    *
    * With a profile: max(absFloor, ratio x profile(name)), falling back to
    * max(absFloor, ratio x profile-median) for names the profile lacks.
    * Without a profile: noProfileRatio x the run's own median (absolute
    * floor still applies) — coarse, but a 10-90x contention window (the
    * observed poisoning mode) clears any sane multiple of the median.
    * Loadavg is deliberately NOT an input: both poisoned driver artifacts
    * had idle endpoint loads.
    */
  def suspicious(
      results: Map[String, Double],
      profile: Map[String, Double],
      absFloor: Double = 2.0,
      ratio: Double = 3.0,
      noProfileRatio: Double = 5.0): Seq[String] = {
    if (results.isEmpty) return Seq.empty
    val threshold: String => Double =
      if (profile.nonEmpty) {
        val med = median(profile.values)
        name => math.max(absFloor, ratio * profile.getOrElse(name, med))
      } else {
        val med = median(results.values)
        _ => math.max(absFloor, noProfileRatio * med)
      }
    results.collect { case (n, t) if t > threshold(n) => n }.toSeq.sorted
  }

  /** Re-run each flagged query once via `rerun`, keep the per-query
    * minimum. Returns the healed map, the list actually re-run, and the
    * `heal_floor` list: queries whose kept minimum is more than
    * `floorRatio` below the first run. With a genuinely COLD rerun
    * (caller's `rerun` must clear caches first — see `coldReset`)
    * a >10x drop is real contention healing and the min is correct, but
    * it is the same numeric signature as the round-12 warm-cache
    * pollution, so it is never published silently: the annotation makes
    * the artifact self-describing and lets a reader demand the cold
    * protocol evidence. */
  def heal(
      results: ListMap[String, Double],
      toHeal: Seq[String],
      rerun: String => Double,
      floorRatio: Double = 10.0): (ListMap[String, Double], Seq[String], Seq[String]) = {
    val set = toHeal.toSet
    val floored = Seq.newBuilder[String]
    val healed = results.map { case (n, t) =>
      if (set(n)) {
        val r = rerun(n)
        val kept = math.min(t, r)
        if (kept > 0 && t / math.max(kept, 1e-9) > floorRatio) floored += n
        n -> kept
      } else n -> t
    }
    (healed, toHeal.sorted, floored.result().sorted)
  }

  /** Drop cached frames before a heal rerun or a standalone cold probe,
    * so a rerun measures the query, not a cache projection (the
    * BENCH_SKEW100 r12 defect). Registered queries keep no session state
    * (CacheGuardSpec), so this only matters for frames a caller cached.
    * Deliberately NOT swept: the at-rest parquet store (AtRest) — that is
    * INPUT state, not warmth; its consumers' steady state is "tables
    * exist", and the build cost stays visible in every run via x19/x22's
    * unconditional rebuilds. */
  def coldReset(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.catalog.clearCache()

  /** Max stdout-line length. The driver keeps only a ~2,000-char tail of
    * stdout (an sbt "[success] ..." line eats ~80 of it); every BENCH_rNN
    * artifact from r10 to r17 had `parsed: null` because the full one-line
    * JSON grew to ~6 KB (full-precision doubles + two 108-entry load maps)
    * and reached the driver front-truncated. 108 per-query entries are
    * >= ~2.5 KB even rounded and bare (sum of the query-name lengths alone
    * is 1,666 chars), so the per-query map CANNOT fit: per VERDICT r17
    * item 1 the stdout line carries the summary (metric/value/errors/
    * reran/heal_floor/cores/cpus_env/sf) plus an "artifact" path to the
    * complete per-query file, and inlines the queries map only when the
    * whole line still fits. BenchHealSpec pins the emitted length against
    * this cap with the real 108-name inventory. */
  val MaxStdoutLine: Int = 1900

  private def jmap(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def jarr(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")
  // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
  private def r3(v: Double): String =
    if (v.isInfinite || v.isNaN) "null"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private[graft] def r2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Render (full file artifact JSON, stdout line). The file keeps the
    * complete historical format (queries + load maps, times rounded to
    * 1 ms); the stdout line is the file line when it fits [[MaxStdoutLine]]
    * and otherwise the summary form with the `artifact` pointer, its error
    * messages trimmed and then dropped (`n_errors` stays) if they alone
    * overflow. Pure so BenchHealSpec can prove the length contract
    * offline. */
  def renderBench(
      results: scala.collection.Map[String, Double],
      errors: scala.collection.Map[String, String],
      reran: Seq[String], healFloor: Seq[String],
      loadAt: scala.collection.Map[String, Double],
      loadRerun: scala.collection.Map[String, Double],
      loadBefore: Double, loadAfter: Double,
      cores: Int, cpusEnv: String, jvmProcs: Int,
      profileUsed: Boolean, sf: String, artifact: String): (String, String) = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def errJson(cap: Int) =
      jmap(errors.map { case (k, v) => k -> ("\"" + escapeJson(v.take(cap)) + "\"") })
    val rest =
      s""""reran":${jarr(reran)},"heal_floor":${jarr(healFloor)},""" +
      s""""cores":$cores,"cpus_env":"${escapeJson(cpusEnv)}","jvm_procs":$jvmProcs,""" +
      s""""profile_used":$profileUsed,"artifact":"${escapeJson(artifact)}","sf":"${escapeJson(sf)}""""
    val common = s""""errors":${errJson(Int.MaxValue)},$rest"""
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec""""
    val qs = jmap(results.map { case (k, v) => k -> r3(v) })
    val loadJson = jmap(loadAt.map { case (k, v) => k -> r2(v) })
    val loadRerunJson = jmap(loadRerun.map { case (k, v) => k -> r2(v) })
    val full = s"""$head,"queries":$qs,$common""" +
      s""","load":$loadJson,"load_rerun":$loadRerunJson,"load_before":$loadBefore,"load_after":$loadAfter}"""
    val tail = s""","n_queries":${results.size}}"""
    // many failures can outgrow the line on their own (108 x 200-char
    // messages is ~25 KB): then carry the count and trimmed messages, and
    // past that the count alone; the artifact file keeps every message
    val bounded = s""","n_errors":${errors.size}$tail"""
    val stdout = Iterator(full,
      s"""$head,"queries":$qs,$common$tail""",
      s"""$head,$common$tail""",
      s"""$head,"errors":${errJson(40)},$rest$bounded""")
      .find(_.length <= MaxStdoutLine).getOrElse(s"""$head,$rest$bounded""")
    (full, stdout)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the session's actual parallelism (master local[N]) — NOT
    // availableProcessors(), which reported 32 under SPARK_GRAFT_CPUS=8 and
    // would mislead any driver-side scaling heuristic (VERDICT r17 #3)
    val cpusEnv = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Spark.session("graft-bench")
    val cores = scala.util.Try(cpusEnv.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val loadBefore = systemLoad()
    // warm-up: shuffle + codegen + parquet reader paths
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // pre-seed the at-rest store: consumers (d7/x20/x21/x23) must price
    // the scan-side steady state on ANY box — a fresh machine would
    // otherwise time d7's one-shot ensure-build and every later run would
    // not, a bimodal artifact. x19/x22 still price the builds (overwrite).
    graft.queries.AtRest.preSeed(spark, sfDir)

    val errors = mutable.LinkedHashMap.empty[String, String]
    val loadAt = mutable.LinkedHashMap.empty[String, Double]
    // heal reruns stamp their load sample here, NOT over loadAt: the first
    // run's load entry is the evidence that documents WHY a query was
    // healed, and must survive into the artifact.
    val loadRerun = mutable.LinkedHashMap.empty[String, Double]
    // SPARK_GRAFT_BENCH_CLEARCACHE=1: drop cached frames between queries so
    // a query that persists internally cannot subsidize a later one —
    // honest per-query isolation at the cost of cross-query cache reuse
    // (off by default to keep numbers comparable with recorded baselines)
    val clearCache = sys.env.get("SPARK_GRAFT_BENCH_CLEARCACHE").contains("1")
    def time(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      if (clearCache) spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      val t = (System.nanoTime() - t0) / 1e9
      loadAt(name) = systemLoad()
      t
    }

    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val byName = sorted.toMap
    var results = ListMap(sorted.map { case (n, f) => n -> time(n, f) }: _*)
    val loadAfter = systemLoad()

    // Profile-based unconditional heal (see scaladoc). The committed profile
    // only speaks for its own scale factor — compare by trailing dir name.
    val profilePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROFILE", "/root/repo/BENCH_PROFILE.json")
    val profile: Map[String, Double] =
      (try parseProfile(java.nio.file.Files.readString(java.nio.file.Paths.get(profilePath)))
       catch { case _: Throwable => None }) match {
        case Some((sf, qs)) if new java.io.File(sf).getName == new java.io.File(sfDir).getName => qs
        case _ => Map.empty
      }
    val toHeal = suspicious(results, profile).filterNot(errors.contains)
    // each heal rerun is COLD: clear the catalog cache first, so no cached
    // frame can publish a warm-projection minimum.
    // A rerun that THROWS must not publish its elapsed-to-failure time as
    // the minimum (time() swallows the exception and returns the partial
    // elapsed): the first completed run's number stands, the failure is
    // annotated in errors, and +Inf makes heal's min() a no-op.
    val (healed, reran, healFloor) =
      heal(results, toHeal, { n =>
        coldReset(spark)
        val firstLoad = loadAt.get(n)
        val r = time(n, byName(n))
        // keep the contention evidence: restore the first run's load stamp
        // and file the rerun's sample under load_rerun
        loadRerun(n) = loadAt(n)
        firstLoad.foreach(loadAt(n) = _)
        if (errors.contains(n)) {
          errors(n) = "heal-rerun failed (first-run time kept): " + errors(n)
          Double.PositiveInfinity
        } else r
      })
    results = healed

    // out path carries the run config (sf + cores) by default so a driver
    // rerun at another core count can never clobber a committed same-name
    // artifact (VERDICT r17 #2); SPARK_GRAFT_BENCH_OUT still overrides
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"/root/repo/BENCH_LOCAL_${new java.io.File(sfDir).getName}_c$cores.json")
    val (fullJson, stdoutLine) = renderBench(
      results, errors, reran, healFloor, loadAt, loadRerun,
      loadBefore, loadAfter, cores, cpusEnv,
      Runtime.getRuntime.availableProcessors(),
      profile.nonEmpty, sfDir, out)
    // stdout is the driver contract and the driver keeps only a ~2,000-char
    // tail — renderBench emits the summary form (with the "artifact"
    // pointer) whenever the full per-query line cannot fit; the file below
    // is the complete record the pointer names
    println(stdoutLine)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out: ${e.getMessage}") }
    spark.stop()
  }
}
