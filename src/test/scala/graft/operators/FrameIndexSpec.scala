package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** O57 persisted video-frame index: day-2 probe parity with the
  * oracle-gated batch m10 (restricted to cross-split pairs), the
  * union-df boilerplate cap, append visibility under replay,
  * tombstone/compaction lifecycle, and the ST28 streaming loop's
  * exactly-once trigger.
  */
class FrameIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("probe == the batch m10 over the union corpus, restricted to cross-split pairs") {
    val dir = tempDir("graft-fidx").toString
    val all = Multimodal.videoPayloads(spark, sfDir)
    Multimodal.writeFrameIndex(all.where($"doc_id" < 400), dir)
    val probe = triples(Multimodal.probeFrameIndex(
      all.where($"doc_id" >= 400), Multimodal.readFrameIndex(spark, dir)))
    // m10 emits vid_a < vid_b over the union; with the split at 400
    // the cross-split slice is exactly (vid_a < 400 <= vid_b) — map
    // to the probe's (new_id, idx_id)
    val m10 = graft.SparkEntry.queries("m10_video_frame_dup")(spark, sfDir)
    val expect = m10.where($"vid_a" < 400 && $"vid_b" >= 400)
      .select($"vid_b", $"vid_a", $"n_shared")
    assert(probe == triples(expect) && probe.nonEmpty,
      s"probe != m10 cross-split slice (${probe.size} vs ${expect.count()})")
  }

  test("union-df boilerplate cap: holders split across index and batch still count together") {
    // a boilerplate frame held by 40 indexed + 40 batch videos: each
    // side alone is under FrameDfCap=64, the UNION df (80) is over —
    // the probe must exclude it (a per-side cap would let 1,600
    // cross pairs through). Texts share EXACTLY the first 50 bytes
    // (one uniform stsz sample = frame 0); suffixes are unique so no
    // other frames collide.
    def mk(ids: Range, tag: String) = ids.map { i =>
      (i.toLong, "BOILERPLATE_BLACK_FRAME_PADDING_TO_EXACTLY_50BYTES" +
        f"_$tag$i%06d_unique_tail_content_beyond_the_shared_frame")
    }.toDF("doc_id", "text")
    val idxDocs = mk(0 until 40, "i")
    val batchDocs = mk(1000 until 1040, "b")
    // plus one REAL re-mux pair across the split: identical full text
    val real = Seq(
      (500L, "a completely different body shared verbatim across the split, long enough for frames"),
      (1500L, "a completely different body shared verbatim across the split, long enough for frames")
    ).toDF("doc_id", "text")
    val dir = tempDir("graft-fidx-cap").toString
    Multimodal.writeFrameIndex(
      Multimodal.videoPayloadsOf(idxDocs.union(real.where($"doc_id" === 500L))), dir)
    val probe = triples(Multimodal.probeFrameIndex(
      Multimodal.videoPayloadsOf(batchDocs.union(real.where($"doc_id" === 1500L))),
      Multimodal.readFrameIndex(spark, dir)))
    assert(probe.forall { case (n, i, _) => n == 1500L && i == 500L },
      s"boilerplate-only pairs leaked through the union-df cap: ${probe.take(5)}")
    assert(probe.size == 1, s"expected exactly the real re-mux pair, got $probe")
  }

  test("union-df counts a video probed while already indexed ONCE (the shared-id dedupe)") {
    // 63 indexed holders of one frame; the batch re-probes holder 62
    // and adds new holder 1000 — union holders = {0..62, 1000} = 64
    // = FrameDfCap, so the frame is ELIGIBLE. A df that double-counts
    // the re-probed video (63 + 2 = 65) would wrongly exclude it and
    // drop every real pair.
    def mk(ids: Seq[Long]) = ids.map { i =>
      (i, "BOILERPLATE_BLACK_FRAME_PADDING_TO_EXACTLY_50BYTES" +
        f"_x$i%06d_unique_tail_content_beyond_the_shared_frame")
    }.toDF("doc_id", "text")
    val dir = tempDir("graft-fidx-dd").toString
    Multimodal.writeFrameIndex(Multimodal.videoPayloadsOf(mk(0L until 63L)), dir)
    val probe = Multimodal.probeFrameIndex(
      Multimodal.videoPayloadsOf(mk(Seq(62L, 1000L))),
      Multimodal.readFrameIndex(spark, dir))
    val hits = triples(probe)
    // new holder 1000 pairs with all 63 indexed; re-probed 62 pairs
    // with the other 62 (new_id != idx_id filters the self-match)
    assert(hits.count(_._1 == 1000L) == 63,
      s"frame at exactly dfCap was excluded — union df double-counted: ${hits.size}")
    assert(hits.count { case (n, i, _) => n == 62L && i != 62L } == 62)
  }

  test("append makes day-2 videos probe-visible; replayed appends don't change results") {
    val dir = tempDir("graft-fidx2").toString
    val all = Multimodal.videoPayloads(spark, sfDir)
    Multimodal.writeFrameIndex(all.where($"doc_id" < 300), dir)
    val kept = all.where($"doc_id" >= 300 && $"doc_id" < 400)
    Multimodal.appendFrameIndex(kept, dir)
    // a day-3 re-mux of a DAY-2 video (content absent from the seed):
    // re-mux = same text under a new id => identical frame bytes
    val day2Twin = Multimodal.videoPayloadsOf(
      graft.tables.Tables.load(spark, sfDir, "documents")
        .where($"doc_id" >= 300 && $"doc_id" < 400)
        .select(($"doc_id" + 2000000000L).as("doc_id"), $"text"))
    val idx = Multimodal.readFrameIndex(spark, dir)
    val hits = triples(Multimodal.probeFrameIndex(day2Twin, idx))
    // every re-muxed twin with >= 1 indexable frame pairs with its
    // original via the APPENDED keys
    val framed = Multimodal.frameKeys(kept).select($"doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val twinHits = hits.filter { case (n, i, _) => n == i + 2000000000L }
    assert(twinHits.map(_._2) == framed && framed.size > 50,
      s"${twinHits.size} of ${framed.size} appended videos matched their re-mux")
    // replay the append: duplicate key rows absorbed by the probe
    Multimodal.appendFrameIndex(kept, dir)
    assert(triples(Multimodal.probeFrameIndex(day2Twin,
      Multimodal.readFrameIndex(spark, dir))) == hits,
      "a replayed append changed probe results")
  }

  test("tombstones mask immediately; compaction applies them and keeps probes stable") {
    val dir = tempDir("graft-fidx3").toString
    val all = Multimodal.videoPayloads(spark, sfDir)
    Multimodal.writeFrameIndex(all, dir)
    // double-append (simulated replay) then take down video 5 — a
    // known cross-pair holder (5, 450) on this corpus
    Multimodal.appendFrameIndex(all.where($"doc_id" === 450), dir)
    Multimodal.tombstoneFrameIndex(Seq(5L).toDF("doc_id"), "doc_id", dir)
    val twin5 = Multimodal.videoPayloadsOf(
      graft.tables.Tables.load(spark, sfDir, "documents")
        .where($"doc_id" === 5L)
        .select(($"doc_id" + 3000000000L).as("doc_id"), $"text"))
    val masked = triples(Multimodal.probeFrameIndex(twin5,
      Multimodal.readFrameIndex(spark, dir)))
    assert(!masked.exists(_._2 == 5L), "a tombstoned video surfaced as a frame dup")
    Multimodal.compactFrameIndex(spark, dir)
    val idx = Multimodal.readFrameIndex(spark, dir)
    assert(triples(Multimodal.probeFrameIndex(twin5, idx)) == masked,
      "compaction changed probe results")
    assert(idx.where($"doc_id" === 5L).isEmpty, "tombstoned rows survived compaction")
    assert(idx.groupBy($"doc_id", $"fk").count().where($"count" > 1).isEmpty,
      "replayed append rows survived compaction")
  }

  test("ST28 frameDupTrigger: probe-before-append across batches, replay skips whole") {
    val dir = tempDir("graft-fidx-st28").toString
    val docs = graft.tables.Tables.load(spark, sfDir, "documents")
    Multimodal.writeFrameIndex(
      Multimodal.videoPayloadsOf(docs.where($"doc_id" < 300)), s"$dir/idx")
    // batch 0: ids 300..349 re-muxed from seed content 0..49 (cross
    // hits) — batch 1 then re-muxes BATCH-0 content (visible only via
    // batch 0's append)
    val b0 = Multimodal.videoPayloadsOf(docs.where($"doc_id" < 50)
      .select(($"doc_id" + 300L).as("doc_id"), $"text"))
    val b1 = Multimodal.videoPayloadsOf(docs.where($"doc_id" < 50)
      .select(($"doc_id" + 600L).as("doc_id"), $"text"))
    graft.streaming.Streams.frameDupTrigger(b0, 0L, s"$dir/idx", s"$dir/out")
    graft.streaming.Streams.frameDupTrigger(b1, 1L, s"$dir/idx", s"$dir/out")
    val out = spark.read.parquet(s"$dir/out")
    // batch 1's twins hit BOTH the seed (id-600) and batch 0 (id-300)
    val pairs = triples(out.select($"new_id", $"idx_id", $"n_shared"))
    val viaB0 = pairs.count { case (n, i, _) => n >= 600 && i == n - 300 }
    assert(viaB0 > 30, s"batch-0 appends not visible to batch 1 ($viaB0)")
    // no intra-batch pairs (probe-before-append)
    assert(!pairs.exists { case (n, i, _) => (n >= 600) == (i >= 600) && i >= 300 },
      "intra-batch pair emitted — probe ran after append")
    // full replay: marker present -> nothing changes
    graft.streaming.Streams.frameDupTrigger(b1, 1L, s"$dir/idx", s"$dir/out")
    assert(triples(spark.read.parquet(s"$dir/out")
      .select($"new_id", $"idx_id", $"n_shared")) == pairs,
      "a replayed trigger changed the output")
  }
}
