package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** O51 persisted lexical index: stored-probe parity with the
  * corpus-rescan BM25, measured bucket pruning, epoch lifecycle, and
  * the JVM hash twin the driver routing depends on.
  */
class LexIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")
  private def queries = Similarity.bm25Queries.toDF("q_id", "term")

  private lazy val indexPath: String = {
    val dir = tempDir("graft-lexidx").toString
    LexIndex.writeLexIndex(docs, dir, nBuckets = 16)
    dir
  }

  test("hash60Jvm is bit-equal to the hash60 Column over corpus terms") {
    val viaPlan = docs
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("t"))
      .distinct()
      .select(col("t"), graft.functions.PortableHash.hash60(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(viaPlan.nonEmpty)
    viaPlan.foreach { case (t, h) =>
      assert(graft.functions.PortableHash.hash60Jvm(t) == h, s"hash drift on '$t'")
    }
  }

  test("stored probe == corpus-rescan BM25") {
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val rescan = keyed(Similarity.bm25TopK(docs, queries))
    val idx = LexIndex.readLexIndex(spark, indexPath)
    val driverRouted = keyed(LexIndex.probeLexIndex(queries, idx))
    assert(driverRouted == rescan && rescan.nonEmpty,
      s"driver-routed probe != rescan (${driverRouted.size} vs ${rescan.size})")
  }

  test("a probe reads only its query-term bucket partitions of postings AND terms") {
    val idx = LexIndex.readLexIndex(spark, indexPath)
    val totalBuckets = new java.io.File(
      IndexLayout.resolveDir(spark, s"$indexPath/store") + "/postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(totalBuckets > 2, s"index should span several buckets, got $totalBuckets")
    val qTerms = Similarity.bm25Queries.map(_._2).distinct
    val qBuckets = qTerms
      .map(t => (graft.functions.PortableHash.hash60Jvm(t) % idx.nBuckets).toInt)
      .distinct.size
    val probed = LexIndex.probeLexIndex(queries, idx)
    probed.collect()
    def partsOf(sub: String): Long = {
      val scans = collectFileScans(probed.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(sub)))
      assert(scans.nonEmpty, s"no $sub scan in the probe plan")
      scans.map(_.metrics.get("numPartitions").map(_.value).getOrElse(0L)).max
    }
    val postParts = partsOf("postings")
    val termParts = partsOf("terms")
    assert(postParts <= qBuckets && postParts < totalBuckets,
      s"probe read $postParts of $totalBuckets posting buckets (query spans $qBuckets)")
    assert(termParts <= qBuckets && termParts < totalBuckets,
      s"probe read $termParts of $totalBuckets term buckets (query spans $qBuckets)")
  }

  test("STORED hybrid serving == the in-query s14: O51 lexical probe x O46 binary probe, RRF-fused") {
    // the production serving path end-to-end from PERSISTED indexes:
    // BM25 from the lexical index, ANN from the sign-sketch sidecar
    // at nprobe = k (every cell probed — the parity regime), fused by
    // rrfFuse — must reproduce the oracle-gated in-query s14 exactly
    val annDir = tempDir("graft-hybrid-ann").toString
    val emb = Tables.load(spark, sfDir, "embeddings")
    VectorIndex.writeAnnIndex(emb, "vec_id", "embedding", annDir,
      k = 16, m = 4, kSub = 8, storeSigs = true)
    val bm = LexIndex.probeLexIndex(queries, LexIndex.readLexIndex(spark, indexPath))
      .select(col("q_id").cast("int").as("q"), col("doc_id").as("id"), col("rn"))
    val probes = emb.orderBy(col("vec_id")).limit(10)
    val ann = VectorIndex.probeSignIndex(probes, "vec_id", "embedding",
        VectorIndex.readAnnIndex(spark, annDir), nprobe = 16, hammingTopM = 50, topK = 5)
      .where(col("p_id").between(1, 4))
      .select(col("p_id").cast("int").as("q"), col("n_id").as("id"), col("rn"))
    val stored = Similarity.rrfFuse(bm, ann, "q", "id", "rn", k = 5)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val inQuery = graft.SparkEntry.queries("s14_hybrid_rrf")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stored == inQuery && stored.nonEmpty,
      s"stored hybrid != in-query s14 (${stored.size} vs ${inQuery.size})")
  }

  test("epoch rewrite: readers resolve the new epoch; the manifest is authoritative") {
    val dir = tempDir("graft-lexidx2").toString
    LexIndex.writeLexIndex(docs.where($"doc_id" < 100), dir, nBuckets = 8)
    val i1 = LexIndex.readLexIndex(spark, dir)
    assert(i1.nBuckets == 8 && i1.ndocs == 100)
    // rewrite with a different corpus slice AND bucket regime — the
    // handle re-read must see the new manifest, not caller memory
    LexIndex.writeLexIndex(docs.where($"doc_id" < 250), dir, nBuckets = 4)
    val i2 = LexIndex.readLexIndex(spark, dir)
    assert(i2.nBuckets == 4 && i2.ndocs == 250,
      s"stale epoch: nBuckets=${i2.nBuckets} ndocs=${i2.ndocs}")
    // probe parity against the rescan of the SAME slice
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(keyed(LexIndex.probeLexIndex(queries, i2)) ==
      keyed(Similarity.bm25TopK(docs.where($"doc_id" < 250), queries)))
  }

  test("day-2 append: append-then-probe == full-rewrite probe row-for-row; compaction preserves it") {
    // the O51 ingestion story: index the first 300 docs, APPEND the
    // rest in two batches (posting/df-delta files + stats-delta
    // manifests — one BATCH pass each, zero corpus rescans), and the
    // probe must be bit-equal to a full rewrite over the union —
    // corpus-global ndocs/ntok/df included, which is exactly what a
    // naive incremental index gets wrong (stale statistics)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val dir = tempDir("graft-lexappend").toString
    LexIndex.writeLexIndex(docs.where($"doc_id" < 300), dir, nBuckets = 8)
    LexIndex.appendLexIndex(docs.where($"doc_id" >= 300 && $"doc_id" < 400), dir, batchId = 0L)
    LexIndex.appendLexIndex(docs.where($"doc_id" >= 400), dir, batchId = 1L)
    val fullDir = tempDir("graft-lexfull").toString
    LexIndex.writeLexIndex(docs, fullDir, nBuckets = 8)
    val appended = LexIndex.readLexIndex(spark, dir)
    val full = LexIndex.readLexIndex(spark, fullDir)
    assert(appended.ndocs == full.ndocs && appended.ntok == full.ntok,
      s"appended stats (${appended.ndocs}, ${appended.ntok}) != full rewrite " +
        s"(${full.ndocs}, ${full.ntok})")
    val viaAppend = keyed(LexIndex.probeLexIndex(queries, appended))
    val viaFull = keyed(LexIndex.probeLexIndex(queries, full))
    assert(viaAppend == viaFull && viaAppend.nonEmpty,
      s"append-then-probe != full-rewrite probe (${viaAppend.size} vs ${viaFull.size})")
    // compaction merges the df-delta files + stats manifests into one
    // epoch; probe results identical, and one df row per term remains
    LexIndex.compactLexIndex(spark, dir)
    val compacted = LexIndex.readLexIndex(spark, dir)
    assert(keyed(LexIndex.probeLexIndex(queries, compacted)) == viaFull,
      "compaction changed probe results")
    assert(compacted.ndocs == full.ndocs && compacted.ntok == full.ntok)
    val split = compacted.terms.groupBy($"bucket", $"term").count().where($"count" > 1)
    assert(split.isEmpty, "compacted epoch still holds split df rows")
  }

  test("append replay is a no-op — batch-keyed ledger, surviving compaction") {
    val dir = tempDir("graft-lexreplay").toString
    LexIndex.writeLexIndex(docs.where($"doc_id" < 300), dir, nBuckets = 8)
    val batch = docs.where($"doc_id" >= 300 && $"doc_id" < 400)
    LexIndex.appendLexIndex(batch, dir, batchId = 7L)
    val i1 = LexIndex.readLexIndex(spark, dir)
    val rows1 = i1.postings.count()
    val probe1 = LexIndex.probeLexIndex(queries, i1)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // an at-least-once driver re-delivers the same batch: same id ->
    // structural no-op (no new files, no stats drift, same probe)
    LexIndex.appendLexIndex(batch, dir, batchId = 7L)
    val i2 = LexIndex.readLexIndex(spark, dir)
    assert(i2.postings.count() == rows1 && i2.ndocs == i1.ndocs && i2.ntok == i1.ntok,
      "replayed append changed the index")
    // ...and still a no-op AFTER compaction merged the batch into the
    // base (the ledger carries into the new epoch)
    LexIndex.compactLexIndex(spark, dir)
    LexIndex.appendLexIndex(batch, dir, batchId = 7L)
    val i3 = LexIndex.readLexIndex(spark, dir)
    assert(i3.ndocs == i1.ndocs && i3.ntok == i1.ntok,
      "replay after compaction re-appended an already-merged batch")
    val probe3 = LexIndex.probeLexIndex(queries, i3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(probe3 == probe1, "replays drifted the probe results")
  }

  test("tombstones: masked at the next probe; compaction applies them with EXACT recomputed stats") {
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val dir = tempDir("graft-lextomb").toString
    LexIndex.writeLexIndex(docs, dir, nBuckets = 8)
    // take down the docs the queries actually rank, so the mask is
    // observable: the current top-1 per query must vanish
    val before = LexIndex.probeLexIndex(queries, LexIndex.readLexIndex(spark, dir))
    val victims = before.where($"rn" === 1).select($"doc_id").distinct()
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    LexIndex.tombstoneLexIndex(victims, "doc_id", dir)
    // masked IMMEDIATELY (same epoch, pending tombstones): no victim
    // surfaces; survivors still ranked under the (stale, documented)
    // pre-compaction statistics
    val masked = LexIndex.probeLexIndex(queries, LexIndex.readLexIndex(spark, dir))
    assert(masked.where($"doc_id".isin(victimIds.toSeq: _*)).isEmpty,
      "a tombstoned doc surfaced in a pending-tombstone probe")
    assert(masked.count() > 0)
    // compaction applies permanently: probe == a FRESH index over the
    // retained corpus, statistics recomputed exactly
    LexIndex.compactLexIndex(spark, dir)
    val compacted = LexIndex.readLexIndex(spark, dir)
    assert(compacted.tombstones.isEmpty, "tombstones not consumed by compaction")
    val freshDir = tempDir("graft-lextomb2").toString
    LexIndex.writeLexIndex(docs.where(!$"doc_id".isin(victimIds.toSeq: _*)),
      freshDir, nBuckets = 8)
    val fresh = LexIndex.readLexIndex(spark, freshDir)
    assert(compacted.ndocs == fresh.ndocs && compacted.ntok == fresh.ntok,
      s"compacted stats (${compacted.ndocs}, ${compacted.ntok}) != fresh rebuild " +
        s"(${fresh.ndocs}, ${fresh.ntok})")
    assert(keyed(LexIndex.probeLexIndex(queries, compacted)) ==
      keyed(LexIndex.probeLexIndex(queries, fresh)),
      "post-compaction probe != fresh rebuild over the retained corpus")
  }

  test("auto-sized nBuckets: derived from the measured token count, manifest-recorded, probe parity") {
    val dir = tempDir("graft-lexauto").toString
    LexIndex.writeLexIndex(docs, dir) // nBuckets = 0 -> auto
    val idx = LexIndex.readLexIndex(spark, dir)
    assert(idx.nBuckets == LexIndex.autoBuckets(idx.ntok),
      s"manifest nBuckets ${idx.nBuckets} != autoBuckets(${idx.ntok})")
    assert(idx.nBuckets >= 16)
    // the sizing rule itself: floor 16, ~2^20 tokens per bucket, pow2,
    // capped — per-bucket volume stays ~flat as the corpus grows
    assert(LexIndex.autoBuckets(0L) == 16)
    assert(LexIndex.autoBuckets(1L << 24) == 16)
    assert(LexIndex.autoBuckets(1L << 26) == 64)
    assert(LexIndex.autoBuckets(1L << 36) == 65536)
    assert(LexIndex.autoBuckets(Long.MaxValue) == (1 << 18))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(keyed(LexIndex.probeLexIndex(queries, idx)) ==
      keyed(Similarity.bm25TopK(docs, queries)))
  }

  test("edge cases: unmatched terms probe empty; an empty corpus is refused loudly") {
    val idx = LexIndex.readLexIndex(spark, indexPath)
    val ghost = Seq((1, "zzznotaword"), (1, "alsonotaword")).toDF("q_id", "term")
    assert(LexIndex.probeLexIndex(ghost, idx).isEmpty)
    // an empty corpus would publish an epoch whose zero-row hive
    // stores carry no schema (unreadable at the first probe) and
    // whose avgdl is 0/0 — the writer must refuse, not half-publish
    val dir = tempDir("graft-lexempty").toString
    val e = intercept[IllegalArgumentException] {
      LexIndex.writeLexIndex(docs.where($"doc_id" < 0), dir, nBuckets = 4)
    }
    assert(e.getMessage.contains("empty"))
    // ...and nothing was published: the path has no resolvable epoch
    intercept[RuntimeException] { LexIndex.readLexIndex(spark, dir) }
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
