package graft.operators

import graft.SparkTestBase
import graft.tables.Tables

/** Round-17: [[Similarity.bm25TopK]] gained a single-pass plan (one
  * tokenize into the (doc_id, w, tf) aggregate; dl = sum(tf), df =
  * per-term row count of the query-term slice — §2.3 "aggregate before
  * you shuffle") next to the original multi-pass plan. The two forms
  * feed the SAME exact-int64 statistics into the shared bm25Rank tail,
  * so they must be row-for-row identical at ANY size-threshold flip
  * point — this spec pins that on the real corpus + the canned query
  * set, which is what makes the size-conditional default safe.
  */
class Bm25FormSpec extends SparkTestBase {

  test("single-pass bm25TopK equals the multi-pass form row-for-row") {
    val docs = Tables.load(spark, sfDir, "documents")
    val q = {
      import spark.implicits._
      Similarity.bm25Queries.toDF("q_id", "term")
    }
    def rows(single: Boolean): Seq[String] =
      Similarity.bm25Plan(docs, q, 10, 1.2, 0.75, singlePass = single)
        .collect().map(_.toString).sorted.toSeq
    val single = rows(single = true)
    val multi = rows(single = false)
    assert(single.nonEmpty, "empty bm25 result")
    assert(single == multi,
      s"forms diverge:\nsingle=${single.take(5)}\nmulti=${multi.take(5)}")
  }

  test("single-pass bm25TopK leaves no (doc_id, w, tf) aggregate cached once consumed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a local corpus of this test only: no concurrent suite holds its plan
    val docs = Seq((1L, "hash join table scan"), (2L, "slow query scan scan"),
      (3L, "stream window agg hash")).toDF("doc_id", "text")
    val q = Similarity.bm25Queries.toDF("q_id", "term")
    assert(Similarity.bm25Plan(docs, q, 10, 1.2, 0.75, singlePass = true).collect().nonEmpty)
    val tf = docs.select(col("doc_id"), explode(expr(TextAnalysis.sparkWords)).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    assert(tf.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the single-pass tf aggregate is still in the CacheManager")
  }
}
