package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class OrderedSpec extends SparkSpec {
  import spark.implicits._

  test("prCurve endpoints (stats_utils.py:141-210 shape)") {
    // scores 5..1; tp at scores 5,4,2; fp at 3,1
    val df = Seq((5.0, 1, 0, 1L), (4.0, 1, 0, 2L), (3.0, 0, 1, 3L), (2.0, 1, 0, 4L), (1.0, 0, 1, 5L))
      .toDF("score", "tp", "fp", "id")
    val out = Ordered.prCurve(df, col("score"), col("tp") === 1, col("fp") === 1, col("id"))
      .orderBy("rank")
      .select("rank", "precision", "recall")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(out.head == ((1, 1.0, 1.0 / 3)))          // best-score prefix: pure TP
    assert(out.last._2 == 3.0 / 5 && out.last._3 == 1.0) // full set: all tp recalled
    // recall is monotone nondecreasing along the sweep
    assert(out.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
  }

  test("bucketed prCurve converges to the exact sweep at the bucket edges") {
    val rows = (1 to 1000).map { i =>
      (i.toDouble, i > 300, i <= 300, i.toLong) // all tp above score 300
    }
    val df = rows.toDF("score", "tp", "fp", "id")
    val exact = Ordered.prCurve(df, col("score"), col("tp"), col("fp"), col("id"))
    val bucketed = Ordered.prCurveBucketed(df, col("score"), col("tp"), col("fp"),
      nBuckets = 10, minScore = 1.0, maxScore = 1001.0)
    val b = bucketed.orderBy(col("threshold").desc).collect()
    // descending thresholds accumulate monotone recall
    assert(b.map(_.getAs[Double]("recall")).sliding(2)
      .forall(w => w.length < 2 || w(0) <= w(1)))
    // the full-sweep endpoint matches the exact curve's endpoint
    val exactLast = exact.orderBy(col("rank").desc).limit(1)
      .select("precision", "recall").head
    val bLast = b.last
    assert(math.abs(bLast.getAs[Double]("precision") - exactLast.getDouble(0)) < 1e-12)
    assert(bLast.getAs[Double]("recall") == 1.0 && exactLast.getDouble(1) == 1.0)
    // threshold at 301+ is pure tp: precision 1
    assert(b.head.getAs[Double]("precision") == 1.0)
  }

  test("sessionize splits on gaps > threshold") {
    def ts(s: Long) = new Timestamp(s * 1000)
    val df = Seq((1L, ts(0)), (1L, ts(100)), (1L, ts(2000)), (1L, ts(2100)), (2L, ts(0)))
      .toDF("user_id", "ts")
    val out = Ordered.sessionize(df, "user_id", "ts", 600)
      .groupBy("user_id").agg(max("session_id").as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L))
  }

  test("recordHighs keeps strictly increasing running maxima") {
    val df = Seq((1, 1, 10.0), (1, 2, 5.0), (1, 3, 12.0), (1, 4, 12.0), (2, 1, 1.0))
      .toDF("g", "o", "v")
    val out = Ordered.recordHighs(df, "g", "o", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(out == Seq((1, 1), (1, 3), (2, 1)))
  }

  test("everyKth keeps rows at positions k, 2k, ...") {
    val df = (1 to 10).map(i => ("g", i)).toDF("g", "o")
    val out = Ordered.everyKth(df, "g", Seq("o"), 3).collect().map(_.getInt(1)).toSeq.sorted
    assert(out == Seq(3, 6, 9))
  }

  test("prCurveScalable equals the single-reducer exact sweep, ties included") {
    val rnd = new scala.util.Random(43)
    val df = (1 to 4000).map { i =>
      // coarse scores force cross-row ties that must not split buckets
      (math.floor(rnd.nextDouble() * 50) / 10.0, rnd.nextBoolean(), i.toLong)
    }.toDF("s", "isTp", "id")
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column,
                org.apache.spark.sql.Column, org.apache.spark.sql.Column,
                org.apache.spark.sql.Column) => org.apache.spark.sql.DataFrame) =
      f(df, col("s"), col("isTp"), !col("isTp"), col("id"))
        .select("rank", "ctp", "cfp", "precision", "recall")
        .collect().map(_.toSeq).toSet
    assert(run(Ordered.prCurveScalable) == run(Ordered.prCurve))
  }

  test("prCurveAuto dispatches on measured rows; both regimes equal the exact sweep") {
    val rnd = new scala.util.Random(77)
    val df = (1 to 500).map { i =>
      (math.floor(rnd.nextDouble() * 50) / 10.0, rnd.nextBoolean(), i.toLong)
    }.toDF("s", "isTp", "id")
    def run(out: org.apache.spark.sql.DataFrame) =
      out.select("rank", "ctp", "cfp", "precision", "recall")
        .collect().map(_.toSeq).toSet
    val exact = run(Ordered.prCurve(df, col("s"), col("isTp"), !col("isTp"), col("id")))
    // under the cap -> the plain exact window (no "_b" bucket column in
    // the plan), rows equal by construction
    val under = Ordered.prCurveAuto(df, col("s"), col("isTp"), !col("isTp"),
      col("id"), exactMax = 1000)
    assert(!under.queryExecution.analyzed.toString.contains("_b"),
      "small input must take the exact-window arm")
    assert(run(under) == exact)
    // past the cap -> the two-phase scalable form (bucket column present),
    // rows STILL identical — the dispatch is invisible to callers/oracles
    val over = Ordered.prCurveAuto(df, col("s"), col("isTp"), !col("isTp"),
      col("id"), exactMax = 100)
    assert(over.queryExecution.analyzed.toString.contains("_b"),
      "large input must take the scalable arm")
    assert(run(over) == exact)
    // parameter hygiene mirrors everyKthPacked's
    intercept[IllegalArgumentException] {
      Ordered.prCurveAuto(df, col("s"), col("isTp"), !col("isTp"), col("id"),
        exactMax = Int.MaxValue.toLong)
    }
  }

  test("everyKthPacked equals the windowed everyKth (uniform, skew, duplicates, fallbacks)") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(47)
    def multiset(out: org.apache.spark.sql.DataFrame): Seq[(String, Any)] =
      out.collect().map(r => (r.getString(0), r.get(1))).toSeq
        .sortBy(t => (String.valueOf(t._1), String.valueOf(t._2)))
    // unique packed keys per group — the registered w7 regime
    val df = (1 to 5000).map(i => (s"g${i % 3}", rnd.nextInt(1000000).toLong * 8 + i % 8))
      .toDF("g", "o")
    val win = multiset(Ordered.everyKth(df, "g", Seq("o"), 7).select("g", "o"))
    assert(multiset(Ordered.everyKthPacked(df, "g", col("o"), 7)) == win && win.nonEmpty)
    // duplicate-heavy packed values (80% of one group on ONE value): the
    // emitted VALUE multiset is still identical to the window's
    val dup = ((1 to 4000).map(i => (s"g${i % 2}", 123456789L)) ++
      (1 to 1000).map(i => (s"g${i % 2}", rnd.nextInt(1000000).toLong))).toDF("g", "o")
    val wDup = multiset(Ordered.everyKth(dup, "g", Seq("o"), 7).select("g", "o"))
    assert(multiset(Ordered.everyKthPacked(dup, "g", col("o"), 7)) == wDup)
    // oversized-cell guard: same data, cap forced tiny -> windowed fallback
    assert(multiset(Ordered.everyKthPacked(dup, "g", col("o"), 7, maxCellRows = 10)) == wDup)
    // null packed keys take the fallback and keep the window's NULLS FIRST
    val withNull = (1 to 500).map(i =>
      (s"g${i % 3}", if (i % 5 == 0) None else Some(i.toLong * 13)))
      .toDF("g", "o")
    val wNull = multiset(Ordered.everyKth(withNull, "g", Seq("o"), 7).select("g", "o"))
    assert(multiset(Ordered.everyKthPacked(withNull, "g", col("o"), 7)) == wNull)
    // null GROUP keys: handled natively via the escaped dictionary (a map
    // literal cannot key on null) — and the windowed forms' offset map
    // uses the same escape, so the fallback path is exact too
    val nullG = (1 to 600).map(i =>
      (if (i % 4 == 0) None else Some(s"g${i % 3}"), i.toLong * 11))
      .toDF("g", "o")
    val wNg = multiset(Ordered.everyKth(nullG, "g", Seq("o"), 7).select("g", "o"))
    assert(multiset(Ordered.everyKthPacked(nullG, "g", col("o"), 7)) == wNg)
    assert(multiset(Ordered.everyKthPacked(nullG, "g", col("o"), 7, maxCellRows = 10)) == wNg)
    assert(wNg.exists(_._1 == null), "fixture must exercise the null group")
    // empty input
    assert(Ordered.everyKthPacked(df.limit(0), "g", col("o"), 7).count() == 0)
    // fail fast on bad k
    intercept[IllegalArgumentException] {
      Ordered.everyKthPacked(df, "g", col("o"), 0)
    }
    // group-cardinality guard (VERDICT r14 #5): past the cell-inventory
    // bound the op must fall back to the plain per-group window — driver
    // state and the plan literal stay bounded no matter what a caller
    // groups by — and the fallback's output is still the window's
    val manyG = (1 to 4000).map(i => (s"g${i % 200}", i.toLong * 17)).toDF("g", "o")
    val wMany = multiset(Ordered.everyKth(manyG, "g", Seq("o"), 7).select("g", "o"))
    val guarded = Ordered.everyKthPacked(manyG, "g", col("o"), 7, maxCells = 50)
    assert(multiset(guarded) == wMany && wMany.nonEmpty)
    val gPlan = guarded.queryExecution.executedPlan.toString
    assert(gPlan.contains("Window") && !gPlan.contains("MapPartitions"),
      "past maxCells the packed path must yield to the per-group window")
  }

  test("scalable every-kth handles NULL bucketing keys like the window (mixed and all-null)") {
    // packed = o * 1000 + t is null exactly when o is, so a NULL packed key
    // takes everyKthPacked's fallback into the windowed two-phase form,
    // which routes it to the dedicated -1 bucket (the window's NULLS FIRST)
    val packed = col("o").cast("long") * 1000 + col("t")
    def multiset(out: org.apache.spark.sql.DataFrame): Seq[(String, Any)] =
      out.collect().map(r => (r.getString(0), r.get(1))).toSeq
        .sortBy(t => (String.valueOf(t._1), String.valueOf(t._2)))
    def windowed(df: org.apache.spark.sql.DataFrame, k: Int) =
      multiset(Ordered.everyKth(df, "g", Seq("o", "t"), k).select(col("g"), packed))
    // mixed: every 5th key null
    val mixed = (1 to 300).map(i =>
      (s"g${i % 3}", if (i % 5 == 0) None else Some(i * 37 % 997), i))
      .toDF("g", "o", "t")
    val wMixed = windowed(mixed, 7)
    val mixedOut = Ordered.everyKthPacked(mixed, "g", packed, 7)
    assert(multiset(mixedOut) == wMixed)
    assert(wMixed.exists(_._2 == null), "fixture must rank a null key")
    val plan = mixedOut.queryExecution.executedPlan.toString
    assert(plan.contains("Window") && !plan.contains("MapPartitions"),
      "a null packed key must take the windowed fallback")
    // all-null bucketing key: min/max agg sees null — must DEGRADE to the
    // single-bucket path, not drop rows (the r13 review catch)
    val allNull = (1 to 40).map(i => (s"g${i % 2}", None: Option[Int], i))
      .toDF("g", "o", "t")
    val wNull = windowed(allNull, 3)
    assert(multiset(Ordered.everyKthPacked(allNull, "g", packed, 3)) == wNull)
    assert(wNull.nonEmpty)
  }

  test("asofJoin picks the latest build row at or before each probe time") {
    val probe = Seq(("u1", 10L), ("u1", 20L), ("u1", 5L), ("u2", 50L))
      .toDF("k", "t")
    val build = Seq(("u1", 8L, 1.0), ("u1", 15L, 2.0), ("u1", 20L, 3.0), ("u3", 1L, 9.0))
      .toDF("k", "t", "q")
    val out = Ordered.asofJoin(probe, build, Seq("k"), "t", "q")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(out(("u1", 10L)) == 1.0)   // latest build <= 10 is t=8
    assert(out(("u1", 20L)) == 3.0)   // equal timestamps match (inclusive)
    assert(out(("u1", 5L)) == null)   // nothing at or before -> null
    assert(out(("u2", 50L)) == null)  // key with no build rows -> null
  }

  test("asofJoin matches the latest build row even when its payload is null (DuckDB ASOF)") {
    val probe = Seq(("u1", 10L)).toDF("k", "t")
    val build = Seq(("u1", 5L, Some(1.0)), ("u1", 8L, Option.empty[Double]))
      .toDF("k", "t", "q")
    val r = Ordered.asofJoin(probe, build, Seq("k"), "t", "q").head
    // the t=8 row is the match; its null payload must surface as null,
    // not fall back to the older t=5 value
    assert(r.isNullAt(r.fieldIndex("asof_q")))
  }
}
