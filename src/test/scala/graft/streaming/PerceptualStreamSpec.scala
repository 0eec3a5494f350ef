package graft.streaming

import graft.SparkTestBase
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** ST25: streamed perceptual probes equal the sequential batch
  * probe+append replay, and cross-batch visibility holds (a batch-2
  * asset re-wrapping batch-1 content is flagged purely via the
  * appended keys).
  */
class PerceptualStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("ST25: streamed perceptual probe+append == sequential batch replay; later batches see earlier ones") {
    val dir = tempDir("graft-pstream").toString
    // seed index: originals below 300
    val originals = Multimodal.imagePayloads(spark, sfDir)
    Multimodal.writePerceptualIndex(
      originals.where($"doc_id" < 300), "doc_id", "payload", dir + "/idx")
    // batch 1: originals 300+ (new assets); batch 2: RE-WRAPPED twins
    // of 250–349 — 250–299 collide with the seed, 300–349 with batch 1
    val b1 = originals.where($"doc_id" >= 300).select($"doc_id", $"payload")
    val b2 = Multimodal.payloadsWithContainer(spark, sfDir,
        containerShift = 1, idOffset = 1000000000L)
      .where($"doc_id" >= 1000000250L && $"doc_id" < 1000000350L)
      .select($"doc_id", $"payload")
    b1.coalesce(1).write.parquet(s"$dir/in/f1")
    Thread.sleep(1100)
    b2.coalesce(1).write.parquet(s"$dir/in/f2")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/f*")
    val q = Streams.perceptualProbeStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3))).toSet
    val streamed = keyed(spark.read.parquet(s"$dir/out"))
    // sequential replay on a fresh index
    val rdir = tempDir("graft-pstream-r").toString
    Multimodal.writePerceptualIndex(
      originals.where($"doc_id" < 300), "doc_id", "payload", rdir)
    val r1 = keyed(Multimodal.probePerceptualIndex(b1, "doc_id", "payload",
      Multimodal.readPerceptualIndex(spark, rdir)))
    Multimodal.appendPerceptualIndex(b1, "doc_id", "payload", rdir)
    val r2 = keyed(Multimodal.probePerceptualIndex(b2, "doc_id", "payload",
      Multimodal.readPerceptualIndex(spark, rdir)))
    assert(streamed == (r1 ++ r2) && streamed.nonEmpty,
      s"streamed=${streamed.size} replay=${(r1 ++ r2).size}")
    // cross-batch visibility: some b2 twins (of 300–349) matched
    // BATCH-1 content that was never in the seed index
    assert(r2.exists { case (nid, iid, h, _) =>
      h == 0 && iid >= 300 && iid < 350 && nid == iid + 1000000000L },
      "batch-2 re-wraps of batch-1 content were not flagged via appended keys")
  }

  test("ST26: streamed novelty == sequential replay; batch 2's novelty sees batch 1's content") {
    import graft.tables.Tables
    val dir = tempDir("graft-novstream").toString
    val docs = Tables.load(spark, sfDir, "documents")
    graft.operators.GramIndex.writeGramIndex(
      docs.where($"doc_id" < 300), s"$dir/idx", gram = 8, nBuckets = 8)
    val b1 = docs.where($"doc_id" >= 300 && $"doc_id" < 400).select($"doc_id", $"text")
    // batch 2 contains a verbatim copy of a BATCH-1 doc under a new id:
    // its novelty must be 0 purely via batch 1's appended counts
    val b2 = docs.where($"doc_id" >= 400).select($"doc_id", $"text")
      .unionByName(docs.where($"doc_id" === 350)
        .select(lit(888888L).as("doc_id"), $"text"))
    b1.coalesce(1).write.parquet(s"$dir/in/f1")
    Thread.sleep(1100)
    b2.coalesce(1).write.parquet(s"$dir/in/f2")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/f*")
    val q = Streams.noveltyStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = keyed(spark.read.parquet(s"$dir/out"))
    // sequential replay on a fresh index
    val rdir = tempDir("graft-novreplay").toString
    graft.operators.GramIndex.writeGramIndex(
      docs.where($"doc_id" < 300), s"$rdir/idx", gram = 8, nBuckets = 8)
    val r1 = keyed(graft.operators.GramIndex.noveltyFromIndex(
      b1, graft.operators.GramIndex.readGramIndex(spark, s"$rdir/idx")))
    graft.operators.GramIndex.appendGramIndex(b1, s"$rdir/idx", batchId = 0L)
    val r2 = keyed(graft.operators.GramIndex.noveltyFromIndex(
      b2, graft.operators.GramIndex.readGramIndex(spark, s"$rdir/idx")))
    assert(streamed == (r1 ++ r2) && streamed.nonEmpty,
      s"streamed=${streamed.size} replay=${(r1 ++ r2).size}")
    assert(streamed.exists { case (id, _, _, ppm) => id == 888888L && ppm == 0L },
      "a verbatim copy of batch-1 content did not score 0 novelty in batch 2")
  }
}
