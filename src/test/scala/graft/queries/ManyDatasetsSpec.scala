package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Many-dataset access through the queries that once sat on session memos
  * (d2's signature frame, d8's shingle sets) must not grow the persisted
  * frame population: the shingle sets are now at-rest tables, one store
  * per dataset, so nothing is persisted at all — and every dataset keeps
  * answering correctly when revisited. */
class ManyDatasetsSpec extends SparkSpec {
  import spark.implicits._

  private def mkDataset(i: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_many_$i")
    (1L to 30L).map(j => (j, s"dataset $i doc $j " +
        (1 to 10).map(k => s"w${(j + k) % 7}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  test("d2 and d8 over 11 datasets persist no frame, and a revisited dataset answers the same") {
    val dirs = (0 until 11).map(mkDataset)
    val before = spark.sparkContext.getPersistentRDDs.size
    def d2(d: String) =
      TextDedup.queries("d2_minhash")(spark, d).collect()
    def d8(d: String) =
      Curation.queries("d8_ngram_hotspots")(spark, d).collect()

    val first2 = d2(dirs.head)
    val first8 = d8(dirs.head)
    dirs.tail.foreach { d => d2(d); d8(d) }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before, s"persisted frames grew: $before -> $after")
    // the first dataset still answers correctly from its own store
    assert(d2(dirs.head).toSeq == first2.toSeq)
    assert(d8(dirs.head).toSeq == first8.toSeq)
    dirs.foreach(AtRest.purge(spark, _))
  }
}
