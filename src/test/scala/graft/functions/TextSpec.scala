package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).head.get(0)

  test("hash32 is the first 8 md5 hex digits as a long (portable to DuckDB)") {
    // golden value cross-checked against DuckDB:
    //   SELECT CAST(('0x'||substr(md5('1:a b c'),1,8)) AS BIGINT) = 674514811
    assert(eval1(Text.hash32(lit("1:a b c"))) == 674514811L)
    assert(eval1(Text.hash32Builtin(lit("1:a b c"))) == 674514811L)
  }

  test("native Hash32 expression is bit-identical to the builtin composition") {
    import spark.implicits._
    assert(spark.catalog.functionExists("graft_hash32"), "extension not registered")
    val docs = (1 to 500).map(i => s"doc $i content ${i * 37}").toDF("t")
    val diff = docs.select(
        Text.hash32(col("t")).as("native"),
        Text.hash32Builtin(col("t")).as("builtin"))
      .filter(col("native") =!= col("builtin")).count()
    assert(diff == 0)
  }

  test("native TokenHashes fuses split+hash bit-identically (adversarial fuzz)") {
    assert(spark.catalog.functionExists("graft_token_hashes"), "extension not registered")
    val rnd = new scala.util.Random(0x70CE)
    val words = Seq("the", "a", "word", "längere", "日本語", "x", "", "1234")
    val adversarial = Seq(
      "",              // split("", " ", -1) = [""] — one empty token
      " ",             // ["", ""]
      "a",             // no spaces
      "a ",            // trailing empty kept (limit -1)
      " a",            // leading empty
      "a  b",          // interior empty
      "   ",           // all empties
      "日本語 テスト",   // multi-byte UTF-8 (0x20 never occurs mid-sequence)
      "tab\tand\nnewline stay intact") // only 0x20 splits
    val random = (1 to 500).map { _ =>
      (1 to rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ")
    }
    val docs = (adversarial ++ random).toDF("t")
    val diff = docs.select(
        Text.tokenHashesFromText(col("t")).as("native"),
        Text.tokenHashes(Text.tokens(col("t"))).as("composed"))
      .filter(not(col("native") <=> col("composed"))).count()
    assert(diff == 0, "fused TokenHashes diverged from transform(split(...), hash32)")
    // null text -> null array on both forms
    val nulls = Seq[Option[String]](None).toDF("t")
    assert(nulls.select(Text.tokenHashesFromText(col("t"))).head.isNullAt(0))
  }

  test("native RepetitionStats is bit-identical to the composed fold (fuzz incl. short docs)") {
    assert(spark.catalog.functionExists("graft_repstats"), "extension not registered")
    val rnd = new scala.util.Random(0xA14)
    val docs = (Seq("", "a", "a a", "x y", "a a a b b") ++
      (1 to 500).map { _ =>
        (0 to rnd.nextInt(40)).map(_ => "w" + rnd.nextInt(8)).mkString(" ")
      }).toDF("t")
      .withColumn("_h", Text.tokenHashesFromText(col("t")))
    val diff = docs.select(
        call_function("graft_repstats", col("_h")).as("native"),
        Text.repetitionCountsBuiltin(col("_h")).as("composed"))
      .filter(not(col("native") <=> col("composed"))).count()
    assert(diff == 0, "native RepetitionStats diverged from the HOF fold")
    // hand values: "a a a b b" -> n=5, top_tok=3, top_big: bigrams
    // (a,a)x2 (a,b) (b,b) -> 2
    val r = Seq("a a a b b").toDF("t")
      .withColumn("_h", Text.tokenHashesFromText(col("t")))
      .select(col("_h"), Text.repetitionCounts(col("_h")).as("r"))
      .select("r.n_tokens", "r.top_tok", "r.top_big").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 3L, 2L)))
    // null text -> null struct on both forms
    val nulls = Seq[Option[String]](None).toDF("t")
      .withColumn("_h", Text.tokenHashesFromText(col("t")))
    assert(nulls.select(call_function("graft_repstats", col("_h"))).head.isNullAt(0))
    assert(nulls.select(Text.repetitionCountsBuiltin(col("_h"))).head.isNullAt(0))
  }

  test("RepetitionStats equals an independent Scala recount (not just the HOF twin)") {
    // native-vs-composed proves the two engine paths agree; this proves
    // BOTH implement "max multiplicity": recount via a plain Scala map
    // over the same hashes
    val rnd = new scala.util.Random(0xBEEF)
    val texts = (1 to 200).map { _ =>
      (0 to rnd.nextInt(30)).map(_ => "t" + rnd.nextInt(6)).mkString(" ")
    }
    val rows = texts.toDF("t")
      .withColumn("_h", Text.tokenHashesFromText(col("t")))
      .select(col("_h"), Text.repetitionCounts(col("_h")).as("r"))
      .collect()
    rows.foreach { row =>
      val h = row.getSeq[Long](0)
      val r = row.getStruct(1)
      def topOf(xs: Seq[Long]) =
        if (xs.isEmpty) 0L else xs.groupBy(identity).values.map(_.size).max.toLong
      val bigs = h.sliding(2).withFilter(_.length == 2)
        .map(p => (p(0) * 991L + p(1)) % 4294967291L).toSeq
      assert(r.getLong(0) == h.length.toLong)
      assert(r.getLong(1) == topOf(h), s"top_tok mismatch for $h")
      assert(r.getLong(2) == topOf(bigs), s"top_big mismatch for $h")
    }
  }

  test("native RollingFingerprint is bit-identical to the HOF fold (fuzz)") {
    assert(spark.catalog.functionExists("graft_fp"), "extension not registered")
    val rnd = new scala.util.Random(0xF9)
    val docs = (Seq("", "a", "one two three") ++
      (1 to 500).map { _ =>
        (0 to rnd.nextInt(40)).map(_ => "w" + rnd.nextInt(50)).mkString(" ")
      }).toDF("t")
      .withColumn("_h", Text.tokenHashesFromText(col("t")))
    val diff = docs.select(
        call_function("graft_fp", col("_h")).as("native"),
        Text.fingerprint(Text.tokens(col("t"))).as("composed"))
      .filter(not(col("native") <=> col("composed"))).count()
    assert(diff == 0, "native fingerprint diverged from aggregate(transform(hash32))")
    val nulls = Seq[Option[String]](None).toDF("t")
      .withColumn("_h", Text.tokenHashesFromText(col("t")))
    assert(nulls.select(call_function("graft_fp", col("_h"))).head.isNullAt(0))
  }

  test("native SortedIntersectCount matches array_intersect on sorted-distinct fuzz") {
    assert(spark.catalog.functionExists("graft_isect"), "extension not registered")
    val rnd = new scala.util.Random(0x15EC)
    val rows = (1 to 500).map { _ =>
      def set() = (0 to rnd.nextInt(30)).map(_ => rnd.nextInt(40).toLong)
        .distinct.sorted
      (set(), set())
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq.empty[Long], Seq.empty[Long]))
    val df = rows.toDF("a", "b")
    val diff = df.select(
        call_function("graft_isect", col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .filter(not(col("native") <=> col("builtin"))).count()
    assert(diff == 0, "sorted merge diverged from array_intersect")
    // null propagation matches
    val nulls = Seq((Option.empty[Seq[Long]], Option(Seq(1L)))).toDF("a", "b")
    assert(nulls.select(call_function("graft_isect", col("a"), col("b"))).head.isNullAt(0))
    // jaccardSorted == jaccard on the same sets (both-empty excluded:
    // 0/0 throws in BOTH forms, and d4 pairs always have >= 1 shingle)
    val jd = df.filter(size(col("a")) + size(col("b")) > 0)
      .select(
        Text.jaccardSorted(col("a"), col("b")).as("s"),
        Text.jaccard(col("a"), col("b")).as("c"))
      .filter(not(col("s") <=> col("c"))).count()
    assert(jd == 0)
  }

  test("shingles produce overlapping word n-grams") {
    val out = eval1(Text.shingles(Text.tokens(lit("w1 w2 w3 w4 w5")), 3))
    assert(out == Seq("w1 w2 w3", "w2 w3 w4", "w3 w4 w5"))
  }

  test("native SortedShingleSet == composed sort(distinct(shingles3)) (fuzz incl. short/null)") {
    val rnd = new scala.util.Random(0x55aa)
    val docs = (0 until 300).map { i =>
      val n = rnd.nextInt(40) // includes 0,1,2-token docs
      // small vocab forces duplicate shingles so the dedup path is hit
      (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
    }
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
    val diff = df.select(
        call_function("graft_shingle_set", col("_th")).as("nat"),
        Text.sortedShingleSetBuiltin(col("_th")).as("cmp"))
      .filter(not(col("nat") <=> col("cmp"))).count()
    assert(diff == 0)
    // null propagates
    assert(df.limit(1).select(call_function("graft_shingle_set",
      lit(null).cast("array<bigint>"))).head.isNullAt(0))
  }

  test("native Shingles3 == composed shingleHashes3 transform (fuzz incl. short/null)") {
    val rnd = new scala.util.Random(0x33cc)
    val docs = (0 until 300).map { i =>
      val n = rnd.nextInt(40) // includes 0,1,2-token docs
      (i.toLong, (0 until n).map(_ => s"s${rnd.nextInt(8)}").mkString(" "))
    }
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
    // array-identical including ORDER (the positional contract x16 needs)
    val diff = df.select(
        call_function("graft_shingles", col("_th")).as("nat"),
        Text.shingleHashes3(col("_th")).as("cmp"))
      .filter(not(col("nat") <=> col("cmp"))).count()
    assert(diff == 0)
    assert(df.limit(1).select(call_function("graft_shingles",
      lit(null).cast("array<bigint>"))).head.isNullAt(0))
  }

  test("native MinHashSig == composed K-sweep minhashPerm (fuzz incl. short/null)") {
    val rnd = new scala.util.Random(0xbeef)
    val docs = (0 until 300).map { i =>
      val n = rnd.nextInt(40)
      (i.toLong, (0 until n).map(_ => s"t${rnd.nextInt(50)}").mkString(" "))
    }
    val K = 8
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
    val nat = df.select(col("doc_id"),
      call_function("graft_minhash_sig", col("_th"), lit(K)).as("sig"))
    val cmpCols = (1 to K).map(i => Text.minhashPerm(
      Text.shingleHashes3(col("_th")), 2L * i + 1, 97L * i).as(s"mh$i"))
    val cmp = df.select(col("doc_id") +: cmpCols: _*)
    val joined = nat.join(cmp, "doc_id")
    val diff = joined.filter(
      (1 to K).map(i => not(element_at(col("sig"), i) <=> col(s"mh$i")))
        .reduce(_ || _)).count()
    assert(diff == 0)
    // a doc with <3 tokens gives a NULL signature array and null mh cols
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
    assert(short.select(call_function("graft_minhash_sig", col("_th"), lit(K)))
      .head.isNullAt(0))
    // builtin fallback agrees with the native whole-array-null contract
    assert(short.select(Text.minhashSigBuiltin(col("_th"), K)).head.isNullAt(0))
  }

  test("native VocabCount == composed split+filter+isin ratio (adversarial fuzz)") {
    val vocab = Seq("the", "a", "of", "and", "to")
    val rnd = new scala.util.Random(0x0c4b)
    val pool = vocab ++ Seq("", "thee", "an", "x", "THE", "too", "of") ++
      (1 to 20).map(i => s"w$i")
    val docs = (0 until 300).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, (0 until n).map(_ => pool(rnd.nextInt(pool.length))).mkString(" "))
    } ++ Seq((900L, ""), (901L, " "), (902L, "the"), (903L, "the  the"),
      (904L, " the"), (905L, "the "))
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val diff = df.select(
        Text.vocabRatioFromText(col("text"), vocab).as("nat"),
        Text.vocabRatio(Text.tokens(col("text")), vocab).as("cmp"))
      .filter(not(col("nat") <=> col("cmp"))).count()
    assert(diff == 0)
    // null text propagates
    assert(df.limit(1).select(Text.vocabRatioFromText(
      lit(null).cast("string"), vocab)).head.isNullAt(0))
  }

  test("VocabCount counts with spark.testing set (its token path avoids UTF8String.compareTo)") {
    // Spark 4.1's UTF8String.compareTo throws when SparkEnvUtils.isTesting()
    // holds; the vocab sort and the per-token binary search must not call it
    val vc = VocabCount(org.apache.spark.sql.catalyst.expressions.Literal("x"),
      Seq("the", "a", "of", "and", "to"))
    val prev = System.setProperty("spark.testing", "true")
    try assert(vc.count(org.apache.spark.unsafe.types.UTF8String.fromString(
      "the cat of the hat to  a")) == 5L)
    finally {
      if (prev == null) System.clearProperty("spark.testing")
      else System.setProperty("spark.testing", prev)
    }
  }

  test("shingle builders propagate null (null in => null out), short docs => empty") {
    // the short-doc guards must NOT turn a null array into an empty one
    // (ADVICE r10): null input means "no document", not "empty document"
    val df = spark.range(1).select(
      lit(null).cast("array<string>").as("nt"),
      lit(null).cast("array<bigint>").as("nh"),
      array(lit("one")).as("short1"),
      array(lit(7L)).as("shorth"))
    val row = df.select(
      Text.shingles(col("nt"), 3).as("a"),
      Text.shingleHashes3(col("nh")).as("b"),
      Text.shingleHashes2(col("nh")).as("c"),
      Text.shingles(col("short1"), 3).as("d"),
      Text.shingleHashes3(col("shorth")).as("e"),
      Text.shingleHashes2(col("shorth")).as("f")).head
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2))
    assert(row.getSeq[String](3).isEmpty && row.getSeq[Long](4).isEmpty &&
      row.getSeq[Long](5).isEmpty)
  }

  test("minhash is permutation-stable and order-insensitive across shingle order") {
    def mh(text: String, i: Int) =
      eval1(Text.minhashPerm(Text.shingleHashes(
        Text.shingles(Text.tokens(lit(text)), 3)), 2L * i + 1, 97L * i))
    assert(mh("a b c d e", 1) == mh("a b c d e", 1))
    assert(mh("a b c d e", 1) != mh("x y z w v", 1))
    // different permutations give independent values
    assert(mh("a b c d e", 1) != mh("a b c d e", 2))
  }

  test("simhash: near-identical docs differ in few bits, disjoint docs in many") {
    def sh(s: String): Long =
      eval1(Text.simhash(Text.tokens(lit(s)), 16)).asInstanceOf[Long]
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely different words describing some other topic entirely now ok"
    assert(hamming(sh(base), sh(near)) < hamming(sh(base), sh(far)))
  }

  test("jaccard on distinct arrays") {
    val j = eval1(Text.jaccard(
      array_distinct(split(lit("a b c"), " ")),
      array_distinct(split(lit("b c d"), " ")))).asInstanceOf[Double]
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("fingerprint is order-sensitive (rolling, not bag-of-words)") {
    val f1 = eval1(Text.fingerprint(Text.tokens(lit("a b c"))))
    val f2 = eval1(Text.fingerprint(Text.tokens(lit("c b a"))))
    assert(f1 != f2)
  }
}
