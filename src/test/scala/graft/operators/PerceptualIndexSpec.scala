package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** O54 persisted perceptual band index: day-2 probe parity with the
  * oracle-gated in-query m09 (restricted to cross-split pairs), the
  * re-wrap invariance contract, append visibility, and the pruned
  * probe read.
  */
class PerceptualIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def keyed(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3))).toSet

  test("probe == the batch m09 restricted to cross-split pairs; every re-wrap caught at Hamming 0") {
    // split m09's own union corpus: index the originals, probe their
    // deterministically RE-WRAPPED twins (same body, neighbor
    // container, id + 1e9) — the probe must reproduce exactly the
    // cross-split slice of the oracle-gated m09 result
    val dir = tempDir("graft-pidx").toString
    val originals = Multimodal.imagePayloads(spark, sfDir)
    val twins = Multimodal.payloadsWithContainer(spark, sfDir,
      containerShift = 1, idOffset = 1000000000L)
    Multimodal.writePerceptualIndex(originals, "doc_id", "payload", dir)
    val probe = keyed(Multimodal.probePerceptualIndex(twins, "doc_id", "payload",
      Multimodal.readPerceptualIndex(spark, dir)))
    // m09 emits id_a < id_b, so cross-split rows are exactly
    // (id_a < 1e9 <= id_b) — map to the probe's (new_id, idx_id)
    val m09 = graft.SparkEntry.queries("m09_perceptual_near_dup")(spark, sfDir)
    val expect = m09.where($"id_a" < 1000000000L && $"id_b" >= 1000000000L)
      .select($"id_b", $"id_a", $"hamming", $"cross_container")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3))).toSet
    assert(probe == expect && probe.nonEmpty,
      s"probe != m09 cross-split slice (${probe.size} vs ${expect.size})")
    // the invariance contract itself: every HASHABLE asset's
    // re-wrapped twin is found against the stored index at Hamming 0
    // (a sub-60-byte body has no aHash — in either container — and is
    // out of scope for the perceptual modality, exactly as in m09)
    def hashableIds(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", graft.functions.GraftExpressions.avgHash60($"payload").as("a"))
      .where($"a".isNotNull).select($"doc_id").collect().map(_.getLong(0)).toSet
    val n = (hashableIds(originals) &
      hashableIds(twins).map(_ - 1000000000L)).size
    val zero = probe.filter { case (nid, iid, h, _) => h == 0 && nid == iid + 1000000000L }
    assert(zero.size == n && n > 400,
      s"${zero.size} of $n hashable re-wraps caught at Hamming 0")
  }

  test("append makes day-2 keepers probe-visible; replayed appends don't duplicate pairs") {
    val dir = tempDir("graft-pidx2").toString
    val all = Multimodal.imagePayloads(spark, sfDir)
    Multimodal.writePerceptualIndex(all.where($"doc_id" < 300), "doc_id", "payload", dir)
    // day-2 keepers appended; a later batch re-wrapping THEIR content
    // must collide purely via the appended keys
    val kept = all.where($"doc_id" >= 300 && $"doc_id" < 350)
    Multimodal.appendPerceptualIndex(kept, "doc_id", "payload", dir)
    val later = Multimodal.payloadsWithContainer(spark, sfDir,
      containerShift = 2, idOffset = 2000000000L)
      .where($"doc_id" - 2000000000L >= 300 && $"doc_id" - 2000000000L < 350)
    val idx = Multimodal.readPerceptualIndex(spark, dir)
    val hits = keyed(Multimodal.probePerceptualIndex(later, "doc_id", "payload", idx))
    // expected: keepers hashable in BOTH containers (a sub-60-byte
    // body has no aHash and is out of the perceptual modality)
    def hashableIds(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", graft.functions.GraftExpressions.avgHash60($"payload").as("a"))
      .where($"a".isNotNull).select($"doc_id").collect().map(_.getLong(0)).toSet
    val expectN = (hashableIds(kept) & hashableIds(later).map(_ - 2000000000L)).size
    assert(expectN > 40)
    assert(hits.count { case (nid, iid, h, _) =>
      h == 0 && nid == iid + 2000000000L } == expectN,
      "appended keepers not visible to the next probe")
    // replay the append (the at-least-once caveat): band keys are a
    // SET — the probe's distinct absorbs the duplicate rows
    Multimodal.appendPerceptualIndex(kept, "doc_id", "payload", dir)
    val replayed = keyed(Multimodal.probePerceptualIndex(later, "doc_id", "payload",
      Multimodal.readPerceptualIndex(spark, dir)))
    assert(replayed == hits, "a replayed append changed probe results")
  }

  test("tombstones mask immediately; compaction applies them, dedupes replays, and keeps probes stable") {
    val dir = tempDir("graft-pidx4").toString
    val originals = Multimodal.imagePayloads(spark, sfDir)
    Multimodal.writePerceptualIndex(originals, "doc_id", "payload", dir)
    // double-append a batch (simulated replay — duplicate band keys)
    val kept = originals.where($"doc_id" >= 300 && $"doc_id" < 320)
    Multimodal.appendPerceptualIndex(kept, "doc_id", "payload", dir)
    Multimodal.appendPerceptualIndex(kept, "doc_id", "payload", dir)
    val twins = Multimodal.payloadsWithContainer(spark, sfDir,
      containerShift = 1, idOffset = 1000000000L)
    // take down asset 7: its re-wrap must stop matching IMMEDIATELY
    Multimodal.tombstonePerceptualIndex(
      Seq(7L).toDF("doc_id"), "doc_id", dir)
    val masked = keyed(Multimodal.probePerceptualIndex(twins, "doc_id", "payload",
      Multimodal.readPerceptualIndex(spark, dir)))
    assert(!masked.exists(_._2 == 7L), "a tombstoned asset surfaced as a near-dup")
    assert(masked.nonEmpty)
    // compaction: tombstones applied, replay duplicates deduped, one
    // row per (doc_id, band) — and the probe is value-stable
    Multimodal.compactPerceptualIndex(spark, dir)
    val idx = Multimodal.readPerceptualIndex(spark, dir)
    assert(keyed(Multimodal.probePerceptualIndex(twins, "doc_id", "payload", idx)) == masked,
      "compaction changed probe results")
    assert(idx.where($"doc_id" === 7L).isEmpty, "tombstoned rows survived compaction")
    val dup = idx.groupBy($"doc_id", $"band").count().where($"count" > 1)
    assert(dup.isEmpty, "replayed append rows survived compaction")
  }

  test("a probe reads only its band-key buckets (DPP over the (band, pfx) dirs)") {
    val dir = tempDir("graft-pidx3").toString
    Multimodal.writePerceptualIndex(
      Multimodal.imagePayloads(spark, sfDir), "doc_id", "payload", dir)
    val resolved = IndexLayout.resolveDir(spark, dir)
    val totalParts = {
      val bands = new java.io.File(resolved).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("band="))
      bands.map(b => b.listFiles().count(f =>
        f.isDirectory && f.getName.startsWith("pfx="))).sum
    }
    assert(totalParts > 8, s"index should span many (band, pfx) dirs, got $totalParts")
    // a single-asset probe carries 4 band keys; DPP prunes band and
    // pfx as independent IN-filters, so it reads at most 4 bands x
    // 4 pfx = 16 of the buckets. The batch must stay parquet-backed
    // with a selective predicate (the day-2 shape) for the DPP rule
    // to fire — a local/limit relation constant-folds it away (the
    // BandIndexSpec lesson).
    val one = Multimodal.payloadsWithContainer(spark, sfDir,
      containerShift = 1, idOffset = 1000000000L)
      .where($"doc_id" === 1000000007L)
    val probed = Multimodal.probePerceptualIndex(one, "doc_id", "payload",
      Multimodal.readPerceptualIndex(spark, dir))
    probed.collect()
    assert(probed.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"))
    val scans = collectFileScans(probed.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(resolved)))
    assert(scans.nonEmpty, "no index scan in the probe plan")
    val parts = scans.map(_.metrics.get("numPartitions").map(_.value).getOrElse(0L)).max
    assert(parts <= 16 && parts < totalParts,
      s"single-asset probe read $parts of $totalParts buckets")
  }

  private def collectFileScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = plan match {
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      collectFileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      collectFileScans(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      collectFileScans(r.child)
    case other => other.children.flatMap(collectFileScans)
  }
}
