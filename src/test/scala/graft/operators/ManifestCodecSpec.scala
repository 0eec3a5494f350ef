package graft.operators

import graft.SparkTestBase

/** [[IndexLayout]]'s one manifest codec: values carrying `"` and `\`
  * round-trip, manifests in the earlier hand-written format still
  * decode, and the three stores that stamp manifests (the lexical
  * index, the merge table, the shard layout) read back column names
  * with both characters.
  */
class ManifestCodecSpec extends SparkTestBase {

  private val tricky = "a\"b\\c\\\"d"

  test("codec round-trip: quotes and backslashes in values, integers as digits") {
    val text = IndexLayout.encodeManifest(
      "name" -> tricky, "n" -> 42, "big" -> 1234567890123L, "empty" -> "")
    assert(IndexLayout.decodeManifest(text) ==
      Map("name" -> tricky, "n" -> "42", "big" -> "1234567890123", "empty" -> ""))
  }

  test("manifests in the earlier hand-written format still decode") {
    assert(IndexLayout.decodeManifest("""{"nShards":8,"seed":"42"}""") ==
      Map("nShards" -> "8", "seed" -> "42"))
    assert(IndexLayout.decodeManifest(
      """{"nShards":4,"seed":"s\"1","idCol":"id","schema":"id:BIGINT,text:STRING"}""") ==
      Map("nShards" -> "4", "seed" -> "s\"1", "idCol" -> "id",
        "schema" -> "id:BIGINT,text:STRING"))
    assert(IndexLayout.decodeManifest(
      """{"keyCols":"k1+k2","versionCols":"v","tombstoneCol":"is_tombstone"}""") ==
      Map("keyCols" -> "k1+k2", "versionCols" -> "v", "tombstoneCol" -> "is_tombstone"))
    assert(IndexLayout.decodeManifest(
      """{"ndocs":3,"ntok":17,"nBuckets":4,"idCol":"doc_id"}""")("idCol") == "doc_id")
    assert(IndexLayout.decodeManifest("""{"gram":5,"nBuckets":16}""")("gram") == "5")
  }

  test("lexical index: an id column named with a quote and a backslash survives append") {
    import spark.implicits._
    val idCol = "doc\"id\\x"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF(idCol, "text")
    val dir = tempDir("graft-manifest-lex").toString
    LexIndex.writeLexIndex(docs, dir, idCol = idCol, nBuckets = 2)
    // append re-tokenizes under the STORED id column
    LexIndex.appendLexIndex(Seq((3L, "gamma delta")).toDF(idCol, "text"), dir, batchId = 0L)
    val idx = LexIndex.readLexIndex(spark, dir)
    assert(idx.ndocs == 3L)
    val hits = LexIndex.probeLexIndex(Seq((1, "delta")).toDF("q_id", "term"), idx)
      .select($"doc_id").as[Long].collect().toSeq
    assert(hits == Seq(3L))
  }

  test("merge table: key and tombstone columns with a quote and a backslash") {
    import spark.implicits._
    val (k, t) = ("k\\ey", "del\"flag")
    val dir = tempDir("graft-manifest-merge").toString
    def apply(rows: Seq[(Long, Long, Boolean, String)]): Unit =
      ShardLayout.applyChangelog(spark, dir, rows.toDF(k, "ver", t, "payload"),
        keyCols = Seq(k), versionCols = Seq("ver"), tombstoneCol = t)
    apply(Seq((1L, 1L, false, "a"), (2L, 1L, false, "b")))
    // the second apply validates the stored manifest against the call
    apply(Seq((1L, 2L, true, ""), (2L, 2L, false, "b2")))
    val live = ShardLayout.readMerged(spark, dir)
      .select(org.apache.spark.sql.functions.col(k), $"payload")
      .as[(Long, String)].collect().toSeq
    assert(live == Seq((2L, "b2")))
  }

  test("shard layout: an id column with a quote and a backslash is manifest-authoritative") {
    import spark.implicits._
    val idCol = "row\"id\\x"
    val dir = tempDir("graft-manifest-shards").toString
    ShardLayout.writeShuffledShards((1L to 20L).map(i => (i, s"t$i")).toDF(idCol, "text"),
      idCol, dir, nShards = 2, seed = "s\"1")
    ShardLayout.appendShuffledShards((21L to 24L).map(i => (i, s"t$i")).toDF(idCol, "text"),
      idCol, dir)
    ShardLayout.compactShuffledShards(spark, dir)
    assert(ShardLayout.readShuffledShards(spark, dir).count() == 24L)
  }
}
