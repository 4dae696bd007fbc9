package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Tables rewritten in place under a session that already ran their
  * consumers must be served fresh: d4, x15, x8 and e3 answer from the new
  * bytes exactly as they do from a directory that only ever held them.
  * Their shared intermediates (pair scores, shingle sets, the ANN index)
  * are at-rest tables keyed by a fingerprint of the input table, so a
  * rewrite resolves to a fresh store. */
class AtRestStalenessSpec extends SparkSpec {

  private val src = s"${sys.props("user.home")}/testdata/sf0.001"
  private val names =
    Seq("d4_jaccard_verify", "x15_bloom_decontaminate", "x8_boiler_fraction", "e3_pq_ann")
  private val tables = Seq("documents", "embeddings")

  private def results(d: String): Map[String, Seq[String]] = names.map { n =>
    n -> SparkEntry.queries(n)(spark, d).collect().map(_.toSeq.mkString("|")).sorted.toSeq
  }.toMap

  private def rmr(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete(): Unit
  }

  private def cp(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => cp(c, new java.io.File(to, c.getName)))
    } else Files.copy(from.toPath, to.toPath): Unit

  /** Replace `to`'s `table` byte-level with `from`'s — invisible to the
    * session: no Spark API sees the rewrite. */
  private def replace(from: Path, to: Path, table: String): Unit = {
    val t = to.resolve(s"$table.parquet").toFile
    rmr(t)
    cp(from.resolve(s"$table.parquet").toFile, t)
  }

  test("d4/x15/x8/e3 follow an in-place rewrite of documents and embeddings") {
    val a = Files.createTempDirectory("graft_stale_a")
    tables.foreach(t => cp(new java.io.File(s"$src/$t.parquet"), a.resolve(s"$t.parquet").toFile))
    // the new data: a third of the corpus gone, every embedding reweighted
    // per dimension (a permutation would keep every dot product)
    val b = Files.createTempDirectory("graft_stale_b")
    spark.read.parquet(s"$src/documents.parquet").filter(col("doc_id") % 3 =!= 0)
      .coalesce(1).write.parquet(b.resolve("documents.parquet").toString)
    spark.read.parquet(s"$src/embeddings.parquet")
      .withColumn("embedding", transform(col("embedding"), (x, i) => x * (i % 4 + 1)))
      .coalesce(1).write.parquet(b.resolve("embeddings.parquet").toString)
    try {
      val old = results(a.toString)
      tables.foreach(replace(b, a, _))
      val expected = results(b.toString)
      names.foreach { n =>
        assert(old(n) != expected(n), s"$n: the two data sets must give different results")
      }
      val got = results(a.toString)
      names.foreach { n =>
        assert(got(n) == expected(n), s"$n served results of the replaced tables")
      }
    } finally for (d <- Seq(a, b); t <- tables)
      try AtRest.purge(spark, d.toString, t) catch { case _: Exception => () }
  }
}
