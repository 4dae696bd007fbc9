package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** The at-rest store's contracts: fingerprint freshness (a changed corpus
  * can never serve stale tables), build-once ensure semantics, and the
  * consumer-equals-sibling equalities that justify oracle reuse
  * (x20 == x12, x21 == d3, x23 == x18 == d7). */
class AtRestSpec extends SparkSpec {
  import spark.implicits._

  // every fixture dir gets its own store under the shared root — purge
  // them at teardown so repeated test runs don't accumulate orphan stores
  // (the stale sweep only collects superseded fingerprints of the SAME
  // input path, and temp fixture paths never repeat)
  private val fixtures = scala.collection.mutable.ArrayBuffer.empty[String]
  override def afterAll(): Unit = {
    fixtures.foreach(d => try AtRest.purge(spark, d) catch { case _: Throwable => () })
    super.afterAll()
  }

  /** A small corpus with real near-dup structure: dup pairs, a shared
    * boilerplate shingle, a null text, a short (<3 token) doc, and ids on
    * both sides of the %5 old/new split. */
  private def corpus: Seq[(Long, String)] = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val alt = "completely different words appear in this other document about spark engines and parquet tables"
    (1L to 40L).map { i =>
      val t =
        if (i % 7 == 0) base // dup cluster across old+new ids
        else if (i % 11 == 0) alt + " extra token" + i
        else if (i == 13) null
        else if (i == 17) "tiny doc"
        else s"document number $i with its own mostly unique words w$i x$i y$i z$i plus the shared tail of common filler tokens"
      (i, t)
    }
  }

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("graft_atrest_fix").toString
    corpus.toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    fixtures += dir
    dir
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("x20/x21/x23 from the store equal their self-contained siblings") {
    val d = writeFixture()
    // build steps first (the bench's sorted order)
    AtRest.queries("x19_atrest_build")(spark, d).collect()
    AtRest.queries("x22_labels_build")(spark, d).collect()
    assert(rows(AtRest.queries("x20_atrest_tfidf")(spark, d)) ==
      rows(TextDedup.queries("x12_tfidf_topk")(spark, d)))
    assert(rows(AtRest.queries("x21_atrest_pairs")(spark, d)) ==
      rows(TextDedup.queries("d3_lsh_pairs")(spark, d)))
    assert(rows(AtRest.queries("x23_atrest_resolve")(spark, d)) ==
      rows(TextDedup.queries("x18_incremental_resolve")(spark, d)))
    // and x18 == d7 (the component-equivalence the oracle reuse rests on)
    assert(rows(AtRest.queries("x23_atrest_resolve")(spark, d)) ==
      rows(TextDedup.queries("d7_dedup_resolve")(spark, d)))
  }

  test("consumers are self-contained: ensure builds the store when absent") {
    val d = writeFixture()
    // no x19/x22 ran for this fingerprint — x23 must still produce the
    // full resolve (building signatures + labels on the way)
    assert(rows(AtRest.queries("x23_atrest_resolve")(spark, d)) ==
      rows(TextDedup.queries("d7_dedup_resolve")(spark, d)))
  }

  test("ensure is build-once; x19 rebuilds unconditionally") {
    val d = writeFixture()
    val sig = AtRest.ensureSignatures(spark, d)
    val m1 = Files.getLastModifiedTime(Paths.get(s"$sig/_SUCCESS")).toMillis
    AtRest.ensureSignatures(spark, d)
    val m2 = Files.getLastModifiedTime(Paths.get(s"$sig/_SUCCESS")).toMillis
    assert(m1 == m2, "second ensure must not rewrite")
    Thread.sleep(20)
    AtRest.queries("x19_atrest_build")(spark, d).collect()
    val m3 = Files.getLastModifiedTime(Paths.get(s"$sig/_SUCCESS")).toMillis
    assert(m3 > m2, "the build step must overwrite")
  }

  test("an EXTERNALLY rewritten corpus never gets memo-stale signatures") {
    // the dangerous rewrite is one Spark doesn't see (no recacheByPath):
    // a session that already built and read d's store must still build
    // the fresh store from the NEW bytes — which is why builds read raw
    // files and the store is keyed by their fingerprint
    val d = writeFixture()
    val oldShingles = AtRest.ensureShingleSets(spark, d) // warm d's store
    assert(spark.read.parquet(oldShingles).count() == corpus.length)
    val alt = Files.createTempDirectory("graft_atrest_alt").toString
    (corpus ++ Seq((201L, "late doc one"), (202L, "late doc two")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$alt/documents.parquet")
    // raw byte-level replace — invisible to the session's cache manager
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(): Unit
    }
    rmr(new java.io.File(s"$d/documents.parquet"))
    def cp(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(c => cp(c, new java.io.File(dst, c.getName)))
      } else Files.copy(src.toPath, dst.toPath)
    cp(new java.io.File(s"$alt/documents.parquet"),
      new java.io.File(s"$d/documents.parquet"))
    val sig = AtRest.ensureSignatures(spark, d)
    assert(spark.read.parquet(sig).count() == corpus.length + 2L,
      "signatures must reflect the externally rewritten corpus")
    assert(spark.read.parquet(AtRest.ensureShingleSets(spark, d)).count() ==
      corpus.length + 2L, "shingle sets must reflect the rewritten corpus")
  }

  test("resolve is read-only: a pure consumer call never sweeps") {
    // advisor r14: the sweep used to ride resolve(), so a consumer query
    // could delete files a concurrent session was still scanning; it now
    // fires only from write paths (ensure's build branch, x19/x22, preSeed)
    val d = writeFixture()
    val sig1 = AtRest.ensureSignatures(spark, d)
    val store1 = Paths.get(sig1).getParent
    (corpus :+ (98L, "another new document changing the fingerprint"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val st2 = AtRest.resolve(spark, d)
    assert(st2.dir != store1.toString, "fingerprint must change")
    assert(Files.exists(store1),
      "read-only resolve must not sweep the superseded store")
    AtRest.ensureSignatures(spark, d) // the BUILD branch sweeps
    assert(!Files.exists(store1), "the build path must sweep it")
  }

  test("publish commits via marker: an interrupted copy is invisible and rebuilt") {
    val d = writeFixture()
    // the corpses fabricated below are seconds old; the live-mover guard
    // (spark.graft.atrest.corpseMinAgeMs, default 30s) would refuse to
    // clean them — drop it for this test, restore after
    spark.conf.set("spark.graft.atrest.corpseMinAgeMs", "0")
    val sig = AtRest.ensureSignatures(spark, d)
    // a completed publish carries BOTH gates
    assert(Files.exists(Paths.get(s"$sig/_SUCCESS")))
    assert(Files.exists(Paths.get(s"$sig/${AtRest.CommitMarker}")),
      "publish must write the commit marker after the data move")
    assert(AtRest.present(spark, sig))
    val expected = spark.read.parquet(sig).count()

    // simulate the object-store failure mode VERDICT r15 #2 names: a
    // rename-as-copy that died mid-way — `_SUCCESS` arrived, a data file
    // did not, and the commit marker (written only after the full move)
    // never landed. Consumers must treat the table as ABSENT, and the
    // next ensure must clear the corpse and rebuild.
    Files.delete(Paths.get(s"$sig/${AtRest.CommitMarker}"))
    val aPart = new java.io.File(sig).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.delete(aPart.toPath)
    assert(Files.exists(Paths.get(s"$sig/_SUCCESS")),
      "fixture must look exactly like a half-copied dir that passed the old gate")
    assert(!AtRest.present(spark, sig),
      "an uncommitted table must be invisible to consumers")

    // consumer path falls back to ensure-build: full rows, marker restored
    val sig2 = AtRest.ensureSignatures(spark, d)
    assert(sig2 == sig)
    assert(AtRest.present(spark, sig))
    assert(spark.read.parquet(sig).count() == expected,
      "rebuild must restore the complete table over the corpse")

    // and a consumer QUERY (not just the raw ensure) self-heals the same way
    Files.delete(Paths.get(s"$sig/${AtRest.CommitMarker}"))
    assert(rows(AtRest.queries("x21_atrest_pairs")(spark, d)) ==
      rows(TextDedup.queries("d3_lsh_pairs")(spark, d)))
    assert(AtRest.present(spark, sig), "consumer ensure must re-commit")
    spark.conf.unset("spark.graft.atrest.corpseMinAgeMs")
  }

  test("a FRESH unmarked target is not corpse-cleaned (live-mover guard)") {
    // a concurrent publish on a copy-emulated-rename store can sit in its
    // data move long past the 2s marker grace; the cleaner must not
    // delete a target whose newest object is younger than the age
    // threshold. With the default 30s threshold, an ensure against a
    // just-fabricated corpse must FAIL (rename blocked by the fresh
    // debris, never committed) rather than delete it — fail-rather-than-
    // corrupt. The debris must survive untouched.
    val d = writeFixture()
    val sig = AtRest.ensureSignatures(spark, d)
    Files.delete(Paths.get(s"$sig/${AtRest.CommitMarker}"))
    val before = new java.io.File(sig).listFiles().map(_.getName).toSet
    val err = intercept[java.io.IOException] {
      AtRest.ensureSignatures(spark, d)
    }
    assert(err != null)
    assert(new java.io.File(sig).listFiles().map(_.getName).toSet == before,
      "the fresh unmarked target must survive the failed ensure untouched")
    // once the debris is old enough (simulated via threshold 0), the same
    // ensure cleans and rebuilds
    spark.conf.set("spark.graft.atrest.corpseMinAgeMs", "0")
    try {
      val sig2 = AtRest.ensureSignatures(spark, d)
      assert(sig2 == sig && AtRest.present(spark, sig))
    } finally spark.conf.unset("spark.graft.atrest.corpseMinAgeMs")
  }

  test("a changed corpus gets a fresh store and the stale one is swept") {
    val d = writeFixture()
    val sig1 = AtRest.ensureSignatures(spark, d)
    val store1 = Paths.get(sig1).getParent
    // rewrite the corpus in place: one more doc -> new length/mtime
    (corpus :+ (99L, "a brand new document arriving in the next crawl batch"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val sig2 = AtRest.ensureSignatures(spark, d)
    assert(sig2 != sig1, "fingerprint must change with the corpus")
    assert(!Files.exists(store1), "superseded store must be swept")
    // and the fresh store serves the NEW corpus
    assert(spark.read.parquet(sig2).count() == corpus.length + 1L)
  }

  test("every store table's written schema is the one its readers declare") {
    val d = writeFixture()
    AtRest.preSeed(spark, d)
    AtRest.ensurePairScores(spark, d)
    val st = AtRest.resolve(spark, d)
    def cols(t: org.apache.spark.sql.types.StructType) = t.map(f => f.name -> f.dataType)
    for ((path, declared) <- Seq(st.sig -> TextDedup.SignatureSchema, st.tf -> TextDedup.TfSchema,
        st.df -> TextDedup.DfSchema, st.meta -> AtRest.MetaSchema, st.labels -> AtRest.LabelsSchema,
        st.pairScores -> TextDedup.PairScoresSchema))
      assert(cols(spark.read.parquet(path).schema) == cols(declared), path)
  }
}
