package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The persisted band index (d11's production posture): build once at
  * corpus-write time through the routed sink, probe daily batches
  * against the stored files. Pins (1) probe candidates == the
  * in-query rebuild's candidates, (2) the probe plan never scans the
  * corpus — day-2 cost is independent of corpus text size, and
  * (3) the (band, pfx) hive layout actually partition-prunes: a probe
  * whose batch hits few buckets reads few index files.
  */
class BandIndexSpec extends SparkTestBase {

  // NOT cached: CacheManager would substitute InMemoryRelation into
  // test 3's parquet-backed batch, and DPP's runtime subquery does
  // not fire over a cached filtering side (filters degrade to
  // true-literal pruning — 64/64 files read instead of 16).
  private lazy val docs = Tables.load(spark, sfDir, "documents")
  // the d11 split: ~20% "day-2 batch", the rest is the standing corpus
  private lazy val corpus = docs.filter(col("doc_id") % 5 =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % 5 === 0)

  private lazy val indexPath = {
    val dir = tempDir("graft-band-index").toString
    Dedup.writeBandIndex(corpus, "doc_id", "text", dir)
    dir
  }

  test("probe against the stored index equals the in-query rebuild") {
    val index = Dedup.readBandIndex(spark, indexPath)
    val stored = Dedup.probeBandIndex(batch, "doc_id", "text", index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the rebuild-in-query derivation d11 uses (no persistence)
    val nb = Dedup.bandKeys(batch, "doc_id", "text")
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
    val ib = Dedup.bandKeys(corpus, "doc_id", "text")
      .select(col("doc_id").as("idx_id"), col("band"), col("bh"))
    val rebuilt = nb.join(ib, Seq("band", "bh"))
      .select(col("new_id"), col("idx_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == rebuilt)
    assert(stored.nonEmpty, "near-dups must exist for the pin to mean anything")
  }

  test("day-2 probe plan scans ONLY the index — the corpus is never re-shingled") {
    val index = Dedup.readBandIndex(spark, indexPath)
    // in-memory batch: any parquet scan in the plan would be corpus rebuild
    val localBatch = spark.createDataFrame(
      batch.select("doc_id", "text").collect().toIndexedSeq.map(r =>
        (r.getLong(0), r.getString(1))))
      .toDF("doc_id", "text")
    val probe = Dedup.probeBandIndex(localBatch, "doc_id", "text", index)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(800))
    assert(plan.contains(indexPath.split('/').last), plan.take(800))
  }

  test("(band, pfx) layout dynamically prunes: a narrow probe reads few buckets") {
    val index = Dedup.readBandIndex(spark, indexPath)
    val totalDirs = {
      // data lives in the manifest-resolved version directory
      val root = new java.io.File(IndexLayout.resolveDir(spark, indexPath))
      root.listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles().filter(_.isDirectory)).length
    }
    assert(totalDirs > 8, s"layout should fan out into buckets, got $totalDirs")
    // a ONE-document batch probes at most 4 (band, pfx) buckets. The
    // batch is parquet-backed with a selective filter — the day-2
    // shape — which is what lets the DPP rule fire (a local relation
    // would be constant-folded, erasing the selective predicate).
    val oneId = batch.select("doc_id").limit(1).head().getLong(0)
    val one = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") === oneId).select("doc_id", "text")
    val probe = Dedup.probeBandIndex(one, "doc_id", "text", index)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    // dynamic partition pruning must be planned on the index scan...
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(1200))
    // ...and take effect: band and pfx prune as independent IN-filters
    // (the cross product, not the pairwise set), so a one-doc batch
    // with 4 band keys reads at most 4 bands x 4 pfx = 16 of the
    // 64 buckets — a 4x scan cut here, and the mechanism that keeps
    // the day-2 read O(buckets probed) at a wider prefix.
    val scans = collectFileScans(probe.queryExecution.executedPlan)
    val idxScan = scans.find(_.toString.contains(indexPath.split('/').last))
    assert(idxScan.isDefined, s"no index scan among ${scans.size} scans")
    // assert on partition DIRECTORIES, not raw file count — a bucket
    // may hold several part-files under higher write parallelism, and
    // the pruning contract is per-(band, pfx) bucket
    val dirsRead = idxScan.get.metrics.get("numPartitions")
      .fold(fail("index scan exposes no numPartitions metric"))(_.value)
    assert(dirsRead <= 16 && dirsRead < totalDirs,
      s"probe read $dirsRead index buckets of $totalDirs")
  }

  test("ST6's stream probe consumes the same stored index (batch plan)") {
    val index = Dedup.readBandIndex(spark, indexPath)
    val st6 = graft.streaming.Streams.dupCandidatesStream(batch, index)
      .select(col("doc_id").as("new_id"), col("corpus_id").as("idx_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = Dedup.probeBandIndex(batch, "doc_id", "text", index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(st6 == probe)
  }

  // QueryStageExec nodes are leaves (their plan is not a child), so a
  // plain collect() misses scans inside materialized AQE stages —
  // recurse through stage/exchange wrappers explicitly.
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
