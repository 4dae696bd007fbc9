package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text

/** Corpus-curation operators beyond dedup: eval-set decontamination,
  * boilerplate n-gram detection, and deterministic domain mix-sampling —
  * the remaining steps a full-scale training-data run executes between
  * "raw crawl" and "training shards".
  *
  * Scale design (the shapes that survive 100 TB):
  *  - Decontamination (x6): the eval benchmark is small by construction
  *    (MBs), so its distinct n-gram pool is BROADCAST; the corpus side is
  *    one scan → explode → broadcast-hash semi-join → groupBy doc_id
  *    (near-unique key, map-side combine). No shuffle of corpus text ever.
  *  - Hotspot n-grams (d8): one groupBy on the shingle hash — a
  *    combiner-friendly aggregate whose result (the boilerplate list) is
  *    tiny and broadcast back for per-doc annotation (x8). The corpus is
  *    scanned, never self-joined.
  *  - Mix sampling (x7): per-source rates derive from a 20-row aggregate;
  *    membership is a pure hash predicate (`hash32("mix"||doc_id) % 1e6 <
  *    floor(rate*1e6)`) — deterministic, reproducible across engines and
  *    re-runs, no RNG state, trivially repartition-safe. This is how a real
  *    pipeline pins its data mixture for a training run.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic eval-set membership: doc_id % EVAL_MOD == 0 stands in
    * for "this document is in a held-out benchmark". */
  val EVAL_MOD = 17

  /** A corpus doc sharing at least this many distinct 3-gram shingles with
    * the eval pool is flagged contaminated (n-gram containment, the
    * standard train/test decontamination rule). */
  val MIN_SHARED = 6

  /** A shingle appearing in at least this many distinct documents is
    * boilerplate (headers, footers, license blocks). */
  val HOT_DF = 5

  /** Distinct 3-gram shingle hashes per document (sorted — consumers are
    * set-semantics: explode, size, sorted-merge intersect; the native
    * fused build replaces three per-row array passes, two interpreted). */
  private def shingleSets(docs: DataFrame): DataFrame =
    docs
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
      .select(col("doc_id"), Text.sortedShingleSet(col("_th")).as("sh"))

  /** Derivation-recipe tag of the shingle sets: whitespace tokenizer v1,
    * md5-prefix token hashes, 3-gram combine, sorted distinct. The at-rest
    * table name carries it (AtRest.Store.shingles). */
  private[queries] val shingleRecipe = "ws1md5sh3"

  /** Write the corpus shingle-set table ONCE — AtRest's shingle table is
    * built through this. An ingest job pays the tokenize+hash pass a
    * single time; d4/d8/x6/x8/x15/x16 then run against
    * [[shingleSetsFromParquet]] without rescanning document text.
    * CurationSpec proves the round trip frame-identical to the direct
    * build (sorted sets are deterministic, so equality is exact). */
  def shingleSetsToParquet(docs: DataFrame, path: String): Unit =
    shingleSets(docs).write.mode("overwrite").parquet(path)

  /** Read the artifact written by [[shingleSetsToParquet]]. The schema is
    * the writer's, declared so a scan skips footer inference (one Spark
    * job per read). */
  def shingleSetsFromParquet(s: SparkSession, path: String): DataFrame =
    s.read.schema("doc_id BIGINT, sh ARRAY<BIGINT>").parquet(path)

  /** The at-rest shingle sets of `d`'s corpus (built on first use). */
  private def atRestShingleSets(s: SparkSession, d: String): DataFrame =
    shingleSetsFromParquet(s, AtRest.ensureShingleSets(s, d))

  /** Explode an EXPENSIVE computed array without the optimizer's inferred
    * pre-Generate filter: plain `explode` makes Catalyst add
    * `size(arr) > 0 AND isnotnull(arr)` BELOW the Generate, inlining the
    * array expression into the condition — and higher-order functions are
    * interpreted with no subexpression elimination, so every `element_at`
    * of the inlined token-hash transform re-evaluates it per ELEMENT:
    * O(tokens²) md5 calls per document (measured 100× wall blowup on a
    * 50k-doc frame). `explode_outer` infers nothing; dropping the null
    * rows of the GENERATED column afterwards is semantically identical
    * and keeps the shingle pipeline O(tokens). */
  private def explodeShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode_outer(col("sh")).as("h"))
      .filter(col("h").isNotNull)

  /** Hotspot (boilerplate) shingles with their document frequency. */
  def hotspotNgrams(docs: DataFrame, hotDf: Int = HOT_DF): DataFrame =
    hotspotNgramsFrom(shingleSets(docs), hotDf)

  /** [[hotspotNgrams]] over an existing shingle-set frame (the at-rest
    * shingle table). */
  def hotspotNgramsFrom(sh: DataFrame, hotDf: Int = HOT_DF): DataFrame =
    explodeShingles(sh)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= hotDf)

  /** Distinct shingle hashes of the eval subset — the (small) pool every
    * corpus document is checked against. */
  def evalPoolFrom(sh: DataFrame, evalMod: Int = EVAL_MOD): DataFrame =
    explodeShingles(sh.filter(col("doc_id") % evalMod === 0))
      .select("h").distinct()

  def evalPool(docs: DataFrame, evalMod: Int = EVAL_MOD): DataFrame =
    evalPoolFrom(shingleSets(docs), evalMod)

  /** Contaminated corpus docs: distinct-shingle containment against the
    * broadcast eval pool. */
  def decontaminate(docs: DataFrame, evalMod: Int = EVAL_MOD,
                    minShared: Int = MIN_SHARED): DataFrame =
    decontaminateFrom(shingleSets(docs), evalMod, minShared)

  def decontaminateFrom(sh: DataFrame, evalMod: Int = EVAL_MOD,
                        minShared: Int = MIN_SHARED): DataFrame =
    decontaminateAgainstPool(sh.filter(col("doc_id") % evalMod =!= 0),
      evalPoolFrom(sh, evalMod), minShared)

  /** Contamination against an EXTERNAL eval pool — a distinct-shingle-hash
    * frame (one `h` column) from a held-out benchmark suite that is not
    * part of the corpus (the production shape: the pool comes from the
    * eval suite's own ingest artifact, not from a doc_id modulus). The
    * exact broadcast form: correct and fastest while the pool fits an
    * executor broadcast. */
  def decontaminateAgainstPool(corpusSh: DataFrame, pool: DataFrame,
                               minShared: Int = MIN_SHARED): DataFrame =
    explodeShingles(corpusSh)
      .join(broadcast(pool.select("h")), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** X15 — decontamination with a BLOOM prefilter, output exactly equal
    * to [[decontaminateFrom]].
    *
    * The 100 TB problem with x6's shape: `broadcast(pool)` ships the FULL
    * distinct eval-shingle set to every executor. A production eval suite
    * (millions of held-out documents) makes that pool tens of GB — past
    * any broadcast threshold — while the corpus side still explodes every
    * shingle into the join. A Bloom filter over the pool is fixed-size
    * (~9.6 bits/key at 1% FPR: a 10^9-shingle pool fits in ~1.2 GB where
    * the exact set is ~8 GB of longs plus hash-set overhead), broadcast
    * once, and the corpus-side `mightContain` scan discards ~(1-fpp) of
    * non-matching shingles BEFORE the join — so the exact verify join
    * (which removes the Bloom's false positives and keeps the output
    * bit-identical to x6's) runs over the tiny candidate remainder. The
    * verify join is deliberately UNhinted: a small pool broadcasts by the
    * optimizer's own sizing, a huge one becomes a shuffle join whose
    * corpus side is only the bloom-surviving remainder — no path ships
    * the exact pool to every executor. Two-phase
    * sketch-then-verify, same contract as x11's Misra-Gries: the sketch
    * bounds work, the exact pass makes the result engine-reproducible
    * (CurationSpec pins equality with the exact path; the driver oracle
    * replays the exact SQL).
    *
    * The pool is scanned twice at build time (count for sizing + the
    * filter aggregate) — at a real lake both are ingest artifacts written
    * once next to the eval set, not per-query work.
    *
    * Broadcast lifetime (ADVICE r12): the returned frame is LAZY and its
    * plan references the Bloom broadcast, so this method cannot destroy
    * it — the broadcast lives until the frame object becomes unreachable
    * and the ContextCleaner reclaims it (standard Spark UDF-closure
    * lifetime; one ~`9.6 * nPool / 8e9` GB blob per call). */
  def decontaminateBloomFrom(sh: DataFrame, evalMod: Int = EVAL_MOD,
                             minShared: Int = MIN_SHARED,
                             fpp: Double = 0.01): DataFrame =
    bloomAgainstPool(sh.filter(col("doc_id") % evalMod =!= 0),
      evalPoolFrom(sh, evalMod), minShared, fpp)

  /** [[decontaminateAgainstPool]] with the Bloom prefilter — the external-
    * pool form of x15, for eval suites whose distinct-shingle pool is past
    * any exact-broadcast budget. Output is exactly equal to the exact
    * form (the verify join removes the sketch's false positives).
    *
    * Measured (X15Probe, round 13, 30M-key at-rest pool vs the 100x
    * corpus): single-node NEUTRAL — exact 31.6/32.2 s vs bloom
    * 30.2/40.3 s — and that neutrality is itself the finding: on
    * local[32] a broadcast never crosses a network, so the exact form's
    * true scale cost (pool-bytes x executor-count of replication, plus a
    * ~16 B/key hashed relation resident per executor: ~0.5 GB at 30M
    * keys, unbuildable at 10^9) is structurally invisible here, while
    * the bloom ships a fixed ~9.6 bits/key sketch (36 MB at 30M, 1.2 GB
    * at 10^9) regardless of cluster width. The single-node bench can
    * only certify the bloom costs nothing extra; the lever it buys is
    * cluster fan-out. */
  def decontaminateBloomAgainstPool(corpusSh: DataFrame, pool: DataFrame,
                                    minShared: Int = MIN_SHARED,
                                    fpp: Double = 0.01): DataFrame =
    bloomAgainstPool(corpusSh, pool, minShared, fpp)

  /** Decision boundary for [[decontaminateAutoAgainstPool]]: the largest
    * pool (distinct shingle hashes) the EXACT broadcast arm may take.
    *
    * Measured twice on the real 2-executor standalone cluster at a
    * 30M-hash pool (outputs row-identical every rep, both rounds).
    * ClusterProbe r15: exact broadcast 50.0/63.3 s clean reps vs bloom
    * 214/342/400 s — but r17 found that bloom arm was running a silently
    * CLAMPED ~94%-FPP sketch (see [[buildPoolBloom]]), so most of its
    * loss was the verify join eating the unfiltered corpus, not the
    * partial-shipping mechanism r15 blamed. ClusterProbe r17, sized
    * sketch [slow noisy window, spin ~2.0]: exact 174/451/148 s vs bloom
    * 542/350/113 s — comparable same-order arms now, exact winning 2/3
    * reps. The cap therefore stands on the composite case: exact is
    * still competitive-to-winning at 30M, and its OTHER leg is safety —
    * r15 timed executor exit-137 kills during the ~300-MB broadcast
    * reads (heartbeat starvation on 16 busy cores), so pools much past
    * this size shouldn't broadcast regardless of speed; past the cap the
    * fixed ~9.6 bits/key sketch — now a REAL 1%-FPP prefilter — is the
    * only shippable form (a 10^9-hash production pool: 1.2 GB sketch vs
    * an unbuildable ~16 GB hashed relation per executor). */
  val EXACT_POOL_CAP: Long = 30L * 1000 * 1000

  /** Build a CORRECTLY-SIZED Bloom sketch of `pool`'s long `colName` at
    * full scan parallelism, merging partials executor-side.
    *
    * Exists because Spark 4's `df.stat.bloomFilter` silently degrades on
    * large pools: the DataFrame API routes through the `bloom_filter_agg`
    * Catalyst aggregate, which CLAMPS its sizing to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `maxNumBits` (defaults 4,000,000 items / 2^26 bits — tuned for the
    * optimizer's injected join filters, not user sketches). At a 30M-key
    * pool and fpp=0.01 the documented sizing is 287.8M bits / 36 MB; the
    * clamped sketch is 67.1M bits / 8.4 MB with hash count derived from
    * the clamped 4M items — measured empirical FPP ≈ 0.94 (BloomCapProbe),
    * i.e. the prefilter passes ~everything precisely in the big-pool
    * regime the bloom arm exists for. No false negatives either way (the
    * verify join always erases FPs — output was never wrong), but the
    * prefilter did no filtering.
    *
    * Shape: one BloomFilter.create(n, fpp) PER PARTITION built at scan
    * parallelism (the measured-fast arm of BloomBuildProbe r17 — hashing
    * dominates the build, so starving cores loses ~20%), then
    * `treeReduce` merges partials EXECUTOR-side so the driver never
    * receives more than ~scale sketches (depth 3 past 256 MB/sketch keeps
    * the final wave to ~2 partials even at 10^9-key pools where one
    * sketch is 1.2 GB — the r16 coalesce's 38-GB-driver concern, solved
    * without serializing the hash work). Precondition: n > 0 and the pool
    * non-empty (callers dispatch on a measured count). */
  def buildPoolBloom(pool: DataFrame, colName: String, n: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    require(n > 0, s"buildPoolBloom needs a measured key count, got $n")
    // null keys: the aggregate this replaces skipped them silently — an
    // external pool with a null h row must not NPE the build (r17 review)
    val keys = pool.select(col(colName).cast("long"))
      .filter(col(colName).isNotNull)
      .rdd.map(_.getLong(0))
    val sketchBytes = BloomFilter.optimalNumOfBits(n, fpp) / 8
    // partial COUNT must not scale with scan parallelism once sketches
    // get big: every live task holds a full-pool-sized sketch on heap and
    // every tree level ships partitions × sketchBytes, so cap build
    // partitions at an ~8 GB total-partial budget. At a 30M-key pool
    // (36 MB sketch) the cap is ~227 — scan parallelism untouched, the
    // regime where BloomBuildProbe measured full parallelism winning; at
    // a 10^9-key pool (1.2 GB sketch) it coalesces to ~6 so the cluster
    // never materializes more than ~7 GB of partials at once (r17 review:
    // the r16 driver-traffic concern also applies to executor heap).
    val maxParts = math.max(4, ((8L << 30) / math.max(sketchBytes, 1L)).toInt)
    val shaped =
      if (keys.getNumPartitions > maxParts) keys.coalesce(maxParts) else keys
    val partials = shaped.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val bf = BloomFilter.create(n, fpp)
        while (it.hasNext) bf.putLong(it.next())
        Iterator.single(bf)
      }
    }
    val depth = if (sketchBytes > (256L << 20)) 3 else 2
    partials.treeReduce((a, b) => a.mergeInPlace(b), depth)
  }

  /** Decontamination with the exact-vs-bloom choice made by the engine on
    * the pool's MEASURED size — the compressAuto/suppressAuto pattern
    * applied to the x6/x15 pair (VERDICT r15 #1: both arms are correct and
    * oracle-gated, but the manual choice was the one place a caller could
    * pick a measured-wrong plan by default). One count of the pool's
    * single `h` column decides: at or under [[EXACT_POOL_CAP]] the exact
    * broadcast arm (wins 4-8× on a real cluster there), above it the
    * bloom-prefilter arm (the only shippable form past broadcast
    * capacity). The probe count is reused as the bloom arm's sizing count,
    * so the bloom regime pays no extra pool pass vs calling x15 directly;
    * the exact regime pays the one count — vocabulary-sized, a rounding
    * error next to the corpus explode both arms share. Output is identical
    * on both arms (CurationSpec pins the dispatch AND the equality). */
  def decontaminateAutoAgainstPool(corpusSh: DataFrame, pool: DataFrame,
                                   minShared: Int = MIN_SHARED,
                                   fpp: Double = 0.01,
                                   exactCap: Long = EXACT_POOL_CAP): DataFrame =
    autoAgainstPoolPlan(corpusSh, pool, minShared, fpp, exactCap)._1

  /** In-corpus form of [[decontaminateAutoAgainstPool]] (pool = the
    * doc_id-modulus eval subset's distinct shingles) — the registered x6
    * resolves through this, so the engine's default decontamination entry
    * point can no longer plan the measured-wrong arm at either regime. */
  def decontaminateAutoFrom(sh: DataFrame, evalMod: Int = EVAL_MOD,
                            minShared: Int = MIN_SHARED,
                            fpp: Double = 0.01,
                            exactCap: Long = EXACT_POOL_CAP): DataFrame =
    decontaminateAutoAgainstPool(sh.filter(col("doc_id") % evalMod =!= 0),
      evalPoolFrom(sh, evalMod), minShared, fpp, exactCap)

  /** The dispatch with its decision exposed — CurationSpec pins WHICH arm
    * fired in each regime, not just that the rows came out equal. */
  private[queries] def autoAgainstPoolPlan(
      corpusSh: DataFrame, pool: DataFrame, minShared: Int, fpp: Double,
      exactCap: Long): (DataFrame, String) = {
    require(exactCap >= 0, s"exactCap must be >= 0, got $exactCap")
    val nPool = pool.select("h").count()
    if (nPool <= exactCap)
      (decontaminateAgainstPool(corpusSh, pool, minShared), "exact")
    else
      (bloomAgainstPool(corpusSh, pool, minShared, fpp, Some(nPool)), "bloom")
  }

  private def bloomAgainstPool(
      corpusSh: DataFrame, pool0: DataFrame, minShared: Int, fpp: Double,
      knownPoolCount: Option[Long] = None): DataFrame = {
    val pool = pool0.select("h")
    val s = pool.sparkSession
    // the auto dispatcher already counted the pool to pick this arm —
    // reuse its number instead of a third pool pass
    val nPool = knownPoolCount.getOrElse(pool.count())
    // an empty pool (every eval doc under 3 tokens) has nothing to match —
    // and Spark's bloomFilter aggregate NPEs on an empty frame (null
    // buffer into BloomFilter.readFrom); the exact path returns the same
    // empty result totally (TextEdgeSpec's adversarial corpus hits this)
    if (nPool == 0)
      return decontaminateAgainstPool(corpusSh, pool, minShared)
    // r17: built by hand, NOT stat.bloomFilter — Spark 4's DataFrame API
    // routes through bloom_filter_agg, which silently clamps the sketch
    // to the runtime-join-filter config caps (4M items / 2^26 bits), so a
    // big pool's "1% fpp" sketch actually ran at ~94% measured FPP and
    // prefiltered nothing (BloomCapProbe; this also mis-priced the bloom
    // arm in ClusterProbe r15's 214-400 s — most of that was the verify
    // join eating the unfiltered corpus). buildPoolBloom sizes per the
    // sketch API contract, builds at full scan parallelism, and
    // tree-merges partials executor-side (the r16 driver-traffic concern,
    // without the coalesce's measured ~20% parallelism loss).
    val bloom = buildPoolBloom(pool, "h", nPool, fpp)
    val bloomB = s.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomB.value.mightContainLong(h))
    // NO broadcast hint on the verify join — that would re-ship the full
    // exact pool and forfeit the bloom's whole reason to exist (x6 already
    // IS the broadcast-pool plan for pools that fit). Unhinted, the
    // optimizer broadcasts a small pool on its own (AQE sizes it) and
    // falls back to a shuffle join for the huge-pool regime, where both
    // join inputs are small: the corpus side is the bloom-surviving
    // remainder (~matches + fpp of the rest), the pool side a plain
    // column shuffle.
    explodeShingles(corpusSh)
      .filter(mightContain(col("h")))
      .join(pool, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** X16 — duplicate-SPAN detection: the exact-substring-dedup signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") reduced to its Spark-shaped core. A token span is
    * "duplicated" when every 3-token shingle inside it occurs in >= minDf
    * documents; per document we report the longest such run of
    * consecutive shingle positions and the covered fraction — the
    * columns a curation pipeline thresholds to cut copied/boilerplate
    * spans (vs x8, which scores membership in the global hotspot list
    * with no position structure; a long verbatim copy and scattered
    * common trigrams look alike to x8 but not to max_dup_run).
    *
    * Shape at 100 TB: one position-stamped shingle explode (~tokens/doc
    * rows, like x12's term explode — posexplode_outer to dodge the
    * inferred-filter O(tokens²) trap, see [[explodeShingles]]), the
    * doc-frequency aggregate REUSED from the shared distinct-shingle
    * frame, one AQE-splittable semi-join on the shingle hash (a hot
    * shingle fans out across doc rows; no single-task partition), and
    * one window per document (partition bounded by doc length — the same
    * bound x12's top-k accepts). The run collapse is the classic
    * pos - row_number() gap trick: consecutive shared positions map to
    * one group key, so run stats are a groupBy, not an automaton.
    *
    * Docs with zero shingles (< 3 tokens) have no span semantics and are
    * absent from the output (d1's exact-dedup territory, as with
    * MinHash). */
  def dupSpanStats(docs: DataFrame, sh: DataFrame, minDf: Int = 2): DataFrame = {
    // The md5-per-token pass runs ONCE (the runs path, which needs the
    // ORDERED shingles the sorted-distinct `sh` table cannot reconstruct);
    // the totals branch needs only the shingle COUNT, which is
    // size(tokens) - 2 — a pure split+size scan with no hashing at all.
    // (A shared-subtree form with one scan feeding both branches was tried
    // and defeated by the optimizer itself: column pruning strips the
    // window from the totals branch, the canonicalized exchanges diverge,
    // and ReuseExchange never fires — two md5 scans. Decoupling makes the
    // second scan hash-free instead.)
    spanStats(
      docs.select(col("doc_id"),
        Text.tokenHashesFromText(col("text")).as("th")),
      docs.select(col("doc_id"),
        (size(Text.tokens(col("text"))) - 2).cast("long").as("n_shingles")),
      sh, minDf)
  }

  /** [[dupSpanStats]] over a prebuilt (doc_id, th) token-hash frame (a
    * written token-hash column at a real lake): both the ordered-shingle
    * runs branch and the totals branch scan it, so nothing is re-hashed.
    * CurationSpec pins it frame-identical to the docs form. */
  def dupSpanStatsFromTh(th: DataFrame, sh: DataFrame, minDf: Int = 2): DataFrame =
    spanStats(th,
      th.select(col("doc_id"),
        (size(col("th")) - 2).cast("long").as("n_shingles")),
      sh, minDf)

  private def spanStats(th: DataFrame, totals: DataFrame, sh: DataFrame,
                        minDf: Int): DataFrame = {
    val pos = th
      .select(col("doc_id"),
        posexplode_outer(Text.orderedShingles(col("th"))).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
    val dfs = explodeShingles(sh)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val shared = pos.join(dfs.select("h"), Seq("h"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val runs = shared
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "_grp").agg(count(lit(1)).as("c"))
    val agg = runs.groupBy("doc_id").agg(
      max("c").as("max_dup_run"), sum("c").as("n_shared"))
    totals
      .filter(col("n_shingles") >= 1)
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"),
        r6(coalesce(col("n_shared"), lit(0L)) / col("n_shingles"))
          .as("dup_fraction"))
  }

  /** Per-document boilerplate load: how many of its distinct shingles are
    * corpus hotspots, and the fraction (a standard quality-filter input). */
  def boilerFraction(docs: DataFrame, hotDf: Int = HOT_DF): DataFrame = {
    // both the hotspot aggregate and the per-doc counts scan the shingle
    // frame; persist it (doc_id + ~60 longs/doc — small) so the corpus is
    // tokenized+hashed ONCE. At petabyte scale the same role is played by
    // a parquet checkpoint (cf. TextDedup.signaturesToParquet).
    boilerFractionFrom(shingleSets(docs).persist(), hotDf)
  }

  /** [[boilerFraction]] over an existing (persisted or at-rest) frame. */
  def boilerFractionFrom(sh: DataFrame, hotDf: Int = HOT_DF): DataFrame = {
    val hot = explodeShingles(sh)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= hotDf).select("h")
    val perDoc = explodeShingles(sh)
      .join(broadcast(hot), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    sh.select(col("doc_id"), size(col("sh")).as("n_shingles"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        // ANSI throws DIVIDE_BY_ZERO even for DOUBLE division (Spark 4),
        // and a <3-token doc has zero shingles — its ratio is undefined,
        // not an error (TextEdgeSpec pins totality; the driver corpus
        // never hits this, which is why the oracle stayed green)
        when(col("n_shingles") > 0,
          r6(coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_shingles")))
          .as("boiler_ratio"))
  }

  /** Per-source temperature-sampling rates: rate = min(1, 0.5*sqrt(max_n/n))
    * upsamples rare domains relative to dominant ones (sqrt = temperature
    * 0.5 flattening), keeping half of the largest source. Pure double
    * arithmetic on integer counts — bit-identical in any IEEE engine. */
  def mixRates(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val mx = counts.agg(max("n_docs").as("mx"))
    counts.crossJoin(broadcast(mx))
      .select(col("source"), col("n_docs"),
        least(lit(1.0), sqrt(col("mx").cast("double") / col("n_docs")) * 0.5)
          .as("rate"))
  }

  /** Deterministic mix sample summary: per source, the derived rate and how
    * many docs the hash predicate keeps. The KEEP rule — not the summary —
    * is the pipeline step: `hash32('mix'||doc_id) % 1e6 < floor(rate*1e6)`
    * selects the same documents on any engine, any partitioning, any rerun. */
  def mixSampleSummary(docs: DataFrame): DataFrame = {
    val rates = mixRates(docs)
    val thr = floor(col("rate") * 1000000.0).cast("long")
    val kept = docs.join(broadcast(rates), Seq("source"))
      .filter(Text.hash32(concat(lit("mix"), col("doc_id").cast("string"))) % 1000000L < thr)
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), r6(col("rate")).as("rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  /** Fixed context-window size (tokens) for chunking, and the training
    * sequence budget for packing. */
  val CHUNK = 64
  val PACK_BUDGET = 512

  /** Base shard count for packing streams: packing is inherently sequential
    * WITHIN a stream, so parallelism comes from sharding — each
    * (source, shard) stream packs independently, and the shard is a pure
    * hash of doc_id, so the layout is deterministic at any cluster size.
    * The EFFECTIVE count per source grows with its size (see
    * [[packShardCounts]]) so one dominant domain cannot serialize the job. */
  val PACK_SHARDS = 4

  /** Docs per packing stream before a source gets more shards. */
  val PACK_DOCS_PER_SHARD = 250000L

  /** Per-source shard counts: max(base, ceil(n/docsPerShard)) — derived
    * from data like the IVF cell count derives from N, so the same code is
    * correct at sf0.01 and at 100 TB. The counts frame is tiny (one row
    * per source) and broadcast. */
  def packShardCounts(docs: DataFrame, base: Int = PACK_SHARDS,
                      docsPerShard: Long = PACK_DOCS_PER_SHARD): DataFrame =
    docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .select(col("source"),
        greatest(lit(base.toLong),
          ceil(col("n_src").cast("double") / docsPerShard).cast("long"))
          .as("n_shards"))

  /** Context-window chunking: every document split into CHUNK-token
    * windows (last = remainder), one row per chunk with an order-sensitive
    * rolling fingerprint. Scalar + posexplode — zero shuffles; this is the
    * map-only shard-prep step before tokenized training shards. */
  def chunkPack(docs: DataFrame, chunk: Int = CHUNK): DataFrame = {
    // hash the doc's tokens ONCE (native fused expression) and chunk the
    // HASH array: each chunk's fingerprint folds its hash slice natively,
    // instead of re-deriving md5 per token inside an interpreted HOF per
    // chunk (13.7 -> ~6 s at the 100x replica)
    val hs = Text.tokenHashesFromText(col("text"))
    val nChunks = floor((size(col("_h")) + lit(chunk - 1)) / lit(chunk)).cast("int")
    docs
      .withColumn("_h", hs)
      .withColumn("_chunks",
        transform(sequence(lit(0), nChunks - 1),
          i => slice(col("_h"), i * chunk + 1, lit(chunk))))
      // outer + null-filter: same reason as explodeShingles — don't let the
      // optimizer rebuild the chunk array inside an inferred pre-Generate
      // filter (here only a constant-factor tax, but free to avoid)
      .select(col("doc_id"), posexplode_outer(col("_chunks")).as(Seq("chunk_idx", "c")))
      .filter(col("c").isNotNull)
      .select(col("doc_id"), col("chunk_idx"), size(col("c")).as("n_tokens"),
        Text.fingerprintFromHashes(col("c")).as("chunk_fp"))
  }

  /** Concat-and-cut sequence packing: within each (source, shard) stream,
    * documents concatenate in doc_id order and are cut at PACK_BUDGET-token
    * boundaries; each doc reports the packs its tokens land in. The window
    * is partitioned by (source, shard) — parallelism scales with shard
    * count, and the assignment is identical on any partitioning because
    * both the stream membership (hash) and the order (doc_id) are
    * data-derived. */
  def seqPack(docs: DataFrame, budget: Int = PACK_BUDGET,
              shards: Int = PACK_SHARDS,
              docsPerShard: Long = PACK_DOCS_PER_SHARD): DataFrame = {
    val n = docs.join(broadcast(packShardCounts(docs, base = shards, docsPerShard)),
        Seq("source"))
      .select(col("source"), col("doc_id"),
        Text.hash32(concat(lit("pack"), col("doc_id").cast("string"))) % col("n_shards"),
        size(Text.tokens(col("text"))).as("n_tokens"))
      .toDF("source", "doc_id", "shard", "n_tokens")
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n.withColumn("cum", sum("n_tokens").over(w))
      .select(col("source"), col("shard"), col("doc_id"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).cast("long")
          .as("pack_first"),
        floor((col("cum") - 1) / lit(budget.toDouble)).cast("long")
          .as("pack_last"))
  }

  /** Heavy-hitter counters per group in phase 1. k=256 against a 1/64
    * frequency threshold leaves a 4x guarantee margin (MG superset holds
    * for anything above N/(k+1) = N/257). */
  val HH_K = 256

  /** Frequency threshold: a token is a heavy hitter in its language when
    * its count reaches max(4, ceil(total_lang_tokens/64)). */
  val HH_DIV = 64

  /** X11 — exact per-language frequent tokens via the two-pass
    * Misra-Gries sketch ([[graft.functions.MisraGries]]). Phase 1 bounds
    * state to [[HH_K]] counters per language (no shuffle of the distinct-
    * token universe — the fatal cost of exact groupBy(token) at corpus
    * scale); the surviving keys are a guaranteed superset of every token
    * at or above the threshold. Phase 2 recounts ONLY those candidates
    * (broadcast equi-join) and applies the exact threshold, so the output
    * is precisely the true frequent-token set — replayable by the exact
    * SQL oracle despite the sketch's partitioning-dependent internals. */
  def heavyHitters(docs: DataFrame, k: Int = HH_K, div: Int = HH_DIV): DataFrame = {
    val toks = docs.select(col("lang"), explode(Text.tokens(col("text"))).as("token"))
    val mg = udaf(new graft.functions.MisraGries(k))
    val cand = toks.groupBy("lang")
      .agg(mg(col("token")).as("sketch"), count(lit(1)).as("total"))
      .select(col("lang"), col("total"), explode(map_keys(col("sketch"))).as("token"))
    toks.join(broadcast(cand), Seq("lang", "token"))
      .groupBy("lang", "token", "total")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= greatest(lit(4), ceil(col("total") / lit(div))))
      .select("lang", "token", "cnt")
  }

  /** X13 — deterministic epoch shuffle-and-shard: every document gets a
    * pseudo-random (shard, sortkey) from seeded hashes of its id, so
    * `repartition(shard) → sortWithinPartitions(sortkey) → write
    * partitionBy(shard)` yields a reproducible GLOBAL shuffle with no
    * global sort and no RNG state. The assignment is a pure row-local
    * function of (seed, doc_id) — partitioning-, engine- and rerun-
    * invariant (x7's mix-sampling argument), and a new seed reshuffles
    * the corpus for the next epoch. Shard count bounds write fan-out;
    * within-shard order is hash order. CurationSpec pins invariance,
    * seed sensitivity, and the sorted sharded layout write. */
  def shuffleShard(docs: DataFrame, shards: Int = 16, seed: Int = 42): DataFrame =
    docs.select(col("doc_id"),
      (Text.hash32(concat(lit(s"shard$seed:"), col("doc_id").cast("string")))
        % shards.toLong).as("shard"),
      Text.hash32(concat(lit(s"ord$seed:"), col("doc_id").cast("string")))
        .as("sortkey"))

  val queries: Map[String, Q] = Map(
    // ----- X13: deterministic epoch shuffle-and-shard assignment
    "x13_shuffle_shard" -> { (s, d) => shuffleShard(Tables.documents(s, d)) },
    // ----- X6: train/test decontamination — n-gram containment of every
    // corpus doc against the eval pool, with the exact-broadcast vs bloom
    // arm chosen by the engine on the pool's measured size (r16): at every
    // test sf the pool is far under EXACT_POOL_CAP, so this plans the same
    // broadcast semi-join as before (PlanSpec still sees it) and the
    // oracle is unchanged; a production-sized pool flips it to x15's shape
    "x6_decontaminate" -> { (s, d) =>
      decontaminateAutoFrom(atRestShingleSets(s, d)) },
    // ----- X15: the Bloom-prefiltered form — fixed-size sketch broadcast,
    // exact verify join over the candidate remainder; output == x6
    "x15_bloom_decontaminate" -> { (s, d) =>
      decontaminateBloomFrom(atRestShingleSets(s, d)) },
    // ----- X16: duplicate-span detection (exact-substring-dedup signal):
    // longest run of consecutive >=minDf-df shingle positions per doc
    "x16_dup_spans" -> { (s, d) =>
      dupSpanStats(Tables.documents(s, d), atRestShingleSets(s, d)) },
    // ----- D8: boilerplate n-gram detection — document frequency of every
    // 3-gram shingle, hotspots only
    "d8_ngram_hotspots" -> { (s, d) => hotspotNgramsFrom(atRestShingleSets(s, d)) },
    // ----- X8: per-doc boilerplate fraction (quality-filter input)
    "x8_boiler_fraction" -> { (s, d) => boilerFractionFrom(atRestShingleSets(s, d)) },
    // ----- X7: deterministic temperature mix-sampling per source domain
    "x7_mix_sample" -> { (s, d) => mixSampleSummary(Tables.documents(s, d)) },
    // ----- X9: context-window chunking (map-only shard prep)
    "x9_chunk_pack" -> { (s, d) => chunkPack(Tables.documents(s, d)) },
    // ----- X10: concat-and-cut sequence packing over sharded streams
    "x10_seq_pack" -> { (s, d) => seqPack(Tables.documents(s, d)) },
    // ----- X11: exact frequent tokens per language via two-pass Misra-Gries
    "x11_heavy_hitters" -> { (s, d) => heavyHitters(Tables.documents(s, d)) }
  )

  // ---------------------------------------------------------------- oracles

  private val shCte =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       th AS (SELECT doc_id, list_transform(t,
         x -> CAST(('0x'||substr(md5(x),1,8)) AS BIGINT)) AS h FROM tok),
       hsh AS (SELECT doc_id, list_transform(range(1, len(h)-1),
         i -> (h[i]*299 + h[i+1]*991 + h[i+2]) % 4294967291) AS hs FROM th),
       ds AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh)"""

  val oracles: Map[String, String] = Map(
    "x13_shuffle_shard" ->
      """SELECT doc_id,
           CAST(('0x'||substr(md5('shard42:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 16 AS shard,
           CAST(('0x'||substr(md5('ord42:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS sortkey
         FROM documents""",
    "x6_decontaminate" ->
      s"""$shCte,
          pool AS (SELECT DISTINCT unnest(sh) AS h FROM ds WHERE doc_id % $EVAL_MOD = 0),
          corpus AS (SELECT doc_id, unnest(sh) AS h FROM ds WHERE doc_id % $EVAL_MOD <> 0)
          SELECT doc_id, count(*) AS n_shared
          FROM corpus JOIN pool USING (h)
          GROUP BY 1 HAVING count(*) >= $MIN_SHARED""",
    // 0- vs 1-based shingle positions differ between engines but only the
    // RUN STRUCTURE reaches the output (pos - row_number is base-invariant)
    "x16_dup_spans" ->
      s"""$shCte,
          px AS (SELECT doc_id, pos, hs[pos] AS h
                 FROM (SELECT doc_id, hs,
                         unnest(range(1, len(hs)+1)) AS pos FROM hsh)),
          dfs AS (SELECT h FROM (SELECT doc_id, unnest(sh) AS h FROM ds)
                  GROUP BY 1 HAVING count(*) >= 2),
          shared AS (SELECT doc_id, pos FROM px JOIN dfs USING (h)),
          runs AS (SELECT doc_id,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                   FROM shared),
          rl AS (SELECT doc_id, grp, count(*) AS c FROM runs GROUP BY 1, 2),
          ag AS (SELECT doc_id, max(c) AS max_dup_run,
                   CAST(sum(c) AS BIGINT) AS n_shared FROM rl GROUP BY 1),
          tot AS (SELECT doc_id, count(*) AS n_shingles FROM px GROUP BY 1)
          SELECT t.doc_id, t.n_shingles,
            coalesce(n_shared, 0) AS n_shared,
            coalesce(max_dup_run, 0) AS max_dup_run,
            floor(coalesce(n_shared, 0)*1.0/t.n_shingles*1000000 + 0.5)/1000000
              AS dup_fraction
          FROM tot t LEFT JOIN ag USING (doc_id)""",
    // the Bloom prefilter is EXACT after the verify join, so the oracle is
    // x6's plain containment SQL — the sketch must be invisible in the rows
    "x15_bloom_decontaminate" ->
      s"""$shCte,
          pool AS (SELECT DISTINCT unnest(sh) AS h FROM ds WHERE doc_id % $EVAL_MOD = 0),
          corpus AS (SELECT doc_id, unnest(sh) AS h FROM ds WHERE doc_id % $EVAL_MOD <> 0)
          SELECT doc_id, count(*) AS n_shared
          FROM corpus JOIN pool USING (h)
          GROUP BY 1 HAVING count(*) >= $MIN_SHARED""",
    "d8_ngram_hotspots" ->
      s"""$shCte,
          ex AS (SELECT doc_id, unnest(sh) AS h FROM ds)
          SELECT h, count(*) AS df FROM ex GROUP BY 1 HAVING count(*) >= $HOT_DF""",
    "x8_boiler_fraction" ->
      s"""$shCte,
          ex AS (SELECT doc_id, unnest(sh) AS h FROM ds),
          hot AS (SELECT h FROM ex GROUP BY 1 HAVING count(*) >= $HOT_DF),
          pd AS (SELECT doc_id, count(*) AS n_boiler FROM ex JOIN hot USING (h) GROUP BY 1)
          SELECT ds.doc_id, len(sh) AS n_shingles,
            coalesce(n_boiler, 0) AS n_boiler,
            floor(coalesce(n_boiler, 0)*1.0/len(sh)*1000000 + 0.5)/1000000 AS boiler_ratio
          FROM ds LEFT JOIN pd ON ds.doc_id = pd.doc_id""",
    "x7_mix_sample" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         m AS (SELECT max(n_docs) AS mx FROM c),
         r AS (SELECT source, n_docs,
                 least(1.0, sqrt(mx*1.0/n_docs) * 0.5) AS rate FROM c, m),
         s AS (SELECT d.source, count(*) AS n_sampled
               FROM documents d JOIN r USING (source)
               WHERE CAST(('0x'||substr(md5('mix'||doc_id),1,8)) AS BIGINT) % 1000000
                     < CAST(floor(rate*1000000) AS BIGINT)
               GROUP BY 1)
         SELECT r.source, n_docs,
           floor(rate*1000000 + 0.5)/1000000 AS rate,
           coalesce(n_sampled, 0) AS n_sampled
         FROM r LEFT JOIN s ON r.source = s.source""",
    "x9_chunk_pack" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          ix AS (SELECT doc_id, t,
                   unnest(range(0, CAST(ceil(len(t)/$CHUNK.0) AS BIGINT))) AS chunk_idx
                 FROM tok),
          ch AS (SELECT doc_id, chunk_idx,
                   list_slice(t, chunk_idx*$CHUNK + 1, chunk_idx*$CHUNK + $CHUNK) AS c
                 FROM ix)
          SELECT doc_id, chunk_idx, len(c) AS n_tokens,
            list_reduce(list_concat([CAST(0 AS BIGINT)],
              list_transform(c, x -> CAST(('0x'||substr(md5(x),1,8)) AS BIGINT))),
              (a, b) -> (a*31 + b) % 1000000007) AS chunk_fp
          FROM ch""",
    "x10_seq_pack" ->
      s"""WITH sc AS (SELECT source,
                 greatest($PACK_SHARDS, CAST(ceil(count(*)*1.0/$PACK_DOCS_PER_SHARD) AS BIGINT)) AS n_shards
               FROM documents GROUP BY 1),
          n AS (SELECT d.source, doc_id,
                 CAST(('0x'||substr(md5('pack'||doc_id),1,8)) AS BIGINT) % n_shards AS shard,
                 len(string_split(text, ' ')) AS n_tokens
               FROM documents d JOIN sc ON d.source = sc.source),
          c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source, shard
                  ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM n)
          SELECT source, shard, doc_id, n_tokens,
            CAST(floor((cum - n_tokens)/$PACK_BUDGET.0) AS BIGINT) AS pack_first,
            CAST(floor((cum - 1)/$PACK_BUDGET.0) AS BIGINT) AS pack_last
          FROM c""",
    // exact replay: the two-pass MG output IS the true frequent set, so
    // the oracle needs no sketch — just the exact counts + threshold
    "x11_heavy_hitters" ->
      s"""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
                      FROM documents),
          tot AS (SELECT lang, count(*) AS total FROM tok GROUP BY 1),
          c AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2)
          SELECT c.lang, c.token, c.cnt
          FROM c JOIN tot USING (lang)
          WHERE c.cnt >= greatest(4, CAST(ceil(total/$HH_DIV.0) AS BIGINT))"""
  )
}
