package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.operators.{IndexLayout => IL}

/** O52: the persisted token-GRAM index — t28's repeated-interval
  * report productionized for INCREMENTAL use, the way O51 does BM25
  * and the O13 band index does MinHash banding. t28 answers "which
  * token intervals repeat ANYWHERE in this corpus" with one batch
  * pass; a live ingestion pipeline asks the incremental question:
  * "which intervals of these NEW docs duplicate the existing corpus
  * (or each other)" — without rescanning the corpus.
  *
  * Layout (the O51 conventions): `grams/` holds (bucket, g, c) —
  * per-8-gram position counts, hive `bucket=` dirs with
  * bucket = hash60(g) mod nBuckets — under the O30 versioned-epoch
  * lifecycle, plus a `_GRAMS` manifest (gram width, nBuckets,
  * authoritative — the O43 discipline).
  *
  * Probe plan at 100 TB: the batch's grams broadcast (micro-batch /
  * probe-doc bounded); the stored side is hit with a broadcast join
  * keyed (bucket, g), so dynamic partition pruning restricts the scan
  * to the batch's buckets and NOTHING corpus-scaled shuffles; a
  * position is covered iff stored count + within-batch count ≥ 2, and
  * the island stitching is t28's own per-doc window. Output is
  * bounded by the batch's duplicated content.
  *
  * Append ([[appendGramIndex]]) lands the batch's (bucket, g, c) rows
  * as NEW files in the current epoch — readers SUM per gram across
  * files — with BATCH-KEYED idempotence (IndexLayout's append
  * ledger + stage-then-move): a replayed at-least-once micro-batch
  * is a structural no-op, so a replayed singleton gram can never be
  * double-counted across the ≥2 threshold and falsely flagged as
  * repeated. Writes and compactions publish through
  * [[IndexLayout.rewrite]], appends and takedowns land through
  * [[IndexLayout.appendInto]] (the epoch protocol is stated there).
  * [[compactGramIndex]] rewrites the epoch with merged counts,
  * carrying the ledger forward so late replays of already-merged
  * batches stay no-ops.
  *
  * Takedown ([[takedownGramIndex]]) is the retention obligation in
  * count-index form: a NEGATIVE-count delta append (the store has no
  * per-doc rows for an id tombstone to mask) — deleted content stops
  * covering at the very next probe because every reader sums counts,
  * and compaction drops zeroed grams permanently.
  */
object GramIndex {

  final case class GramIndexHandle(grams: DataFrame, gram: Int, nBuckets: Int)

  private val MetaName = "_GRAMS"

  private def bucketOf(nBuckets: Int): Column =
    pmod(PortableHash.hash60(col("g")), lit(nBuckets.toLong)).cast("int")

  private[operators] def gramsOf(docs: DataFrame, gram: Int): DataFrame =
    docs
      .withColumn("_ids", graft.functions.GraftExpressions.bpeEncode(col("text")))
      .filter(size(col("_ids")) >= gram)
      .select(col("doc_id"), posexplode(
        graft.functions.GraftExpressions.idGrams(col("_ids"), gram))
        .as(Seq("p", "g")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("g"))

  /** [[IndexLayout.autoBuckets]] over the distinct-gram count. */
  private[operators] def autoBuckets(nGrams: Long): Int = IL.autoBuckets(nGrams)

  /** Build + publish a fresh epoch. `nBuckets = 0` (the default)
    * auto-sizes from the measured distinct-gram count so per-bucket
    * probe reads stay ~flat as the corpus grows ([[autoBuckets]]);
    * the manifest records the chosen value and stays authoritative.
    */
  def writeGramIndex(
      docs: DataFrame,
      path: String,
      gram: Int = 8,
      nBuckets: Int = 0): Unit = {
    require(gram > 0 && nBuckets >= 0, "writeGramIndex: gram must be > 0, nBuckets >= 0")
    val spark = docs.sparkSession
    // counts are bucket-independent (bucket is a pure function of g),
    // so compute them once, measure, THEN attach the bucket column
    val counts0 = gramsOf(docs, gram)
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .cache()
    val nGrams = counts0.count()
    // a zero-gram corpus (empty, or all docs shorter than `gram`)
    // would publish an epoch whose zero-row hive store carries no
    // schema — unreadable at the first probe; fail loudly instead
    require(nGrams > 0,
      "writeGramIndex: the corpus yields no grams (empty, or every " +
        s"doc shorter than $gram tokens) — refusing to publish an " +
        "unreadable epoch; guard upstream")
    val nb = if (nBuckets > 0) nBuckets else autoBuckets(nGrams)
    val counts = counts0
      .withColumn("bucket", bucketOf(nb))
      .select(col("bucket"), col("g"), col("c"))
    IL.rewrite(spark, s"$path/grams", keep = 1) { (_, next) =>
      graft.sinks.RoutedSink.standard().write(s"parquet:$next:by:bucket", counts)
      // the manifest records the DERIVED bucket count (nb), never the
      // caller arg — under auto-sizing the arg is 0, and a 0 in the
      // authoritative manifest would poison every probe's pmod routing
      IL.writeManifest(spark, next, MetaName, "gram" -> gram, "nBuckets" -> nb)
    }
    counts0.unpersist() // the CACHED frame, not the derived projection
  }

  def readGramIndex(spark: SparkSession, path: String): GramIndexHandle = {
    val dir = IL.resolveDir(spark, s"$path/grams")
    val meta = IL.readManifest(spark, dir, MetaName).getOrElse(
      sys.error(s"readGramIndex: $dir has no $MetaName manifest"))
    def intOf(k: String): Int =
      meta.get(k).map(_.toInt).getOrElse(sys.error(s"readGramIndex: malformed $MetaName: $meta"))
    GramIndexHandle(spark.read.parquet(dir), intOf("gram"), intOf("nBuckets"))
  }

  /** Repeated-interval report for `batch` against the stored corpus
    * PLUS the batch itself: a position is covered iff its gram's
    * stored count + within-batch count ≥ 2, islands stitched per doc
    * exactly as t28. CONTRACT: `batch` is DISJOINT from the indexed
    * corpus (the ingestion shape — new docs against the past); under
    * that contract the result equals t28 over (corpus ∪ batch)
    * restricted to the batch's docs (GramIndexSpec pins the
    * equality), with zero corpus rescans. Probing already-indexed
    * docs double-counts their own grams (stored AND batch side) and
    * over-covers — don't. Output: (doc_id, start_pos, end_pos,
    * len_tokens).
    */
  def probeGramIndex(batch: DataFrame, index: GramIndexHandle): DataFrame = {
    // NOT cached: the batch is trigger/probe-bounded, so recomputing
    // its grams for the two consumers below is cheap — while a cache
    // here would leak one pinned relation per micro-batch in a
    // long-running gramProbeStream (nothing could unpersist it after
    // the lazy result frame escapes this call)
    val bg = gramsOf(batch, index.gram).withColumn("bucket", bucketOf(index.nBuckets))
    val batchCounts = bg.groupBy(col("bucket"), col("g"))
      .agg(count(lit(1)).as("bc"))
    val stored = index.grams
      // restrict FIRST (broadcast semi-join on the batch's gram set,
      // which also lets DPP prune the bucket dirs at the scan), THEN
      // sum per gram — an appended epoch holds several files per gram
      // (see appendGramIndex) and the sum restores the
      // one-row-per-gram contract over the (batch-bounded) survivors.
      // Aggregating below the join would scan+shuffle the whole
      // corpus-scaled index on every probe.
      .join(broadcast(batchCounts.select(col("bucket"), col("g"))),
        Seq("bucket", "g"), "left_semi")
      .groupBy(col("bucket"), col("g")).agg(sum(col("c")).as("sc"))
    val covered = bg
      .join(broadcast(batchCounts), Seq("bucket", "g"))
      .join(stored, Seq("bucket", "g"), "left")
      .withColumn("_tot", coalesce(col("sc"), lit(0L)) + col("bc"))
      .where(col("_tot") >= 2)
      .select(col("doc_id"), col("p"))
    val wI = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val out = covered
      .withColumn("_grp", col("p") - row_number().over(wI))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(
        min(col("p")).as("start_pos"),
        (max(col("p")) + (index.gram - 1).toLong).as("end_pos"),
        (max(col("p")) - min(col("p")) + index.gram.toLong).as("len_tokens"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"), col("len_tokens"))
    out
  }

  /** Day-2 ingestion: land the batch's gram counts as new files in
    * the CURRENT epoch (no read-modify-write — readers sum per gram).
    * Validated against the manifest's gram/nBuckets, never trusted
    * from the caller. EXACTLY-ONCE under at-least-once replays:
    * `batchId` keys IndexLayout's append ledger — a replayed batch
    * returns immediately, and a crash at any point mid-append replays
    * to the identical end state (stage-then-move under deterministic
    * file names), so a replayed singleton gram can never cross the ≥2
    * repeated threshold. Fails loudly if a concurrent rewrite flipped
    * the epoch mid-append.
    */
  /** Shared novelty tail (the stored leg here and Curation's rescan
    * leg both end in it): per-doc gram totals AND covered counts in
    * ONE pass over the batch gram stream — a left join against the
    * broadcast covered set feeding a single combinable agg, so the
    * batch is gram-exploded once per leg with no cache to leak.
    * Output: (doc_id, n_grams, n_covered, novelty_ppm), exact int64.
    */
  private[operators] def noveltyTail(
      bg: DataFrame, covSet: DataFrame, keys: Seq[String]): DataFrame =
    bg.join(broadcast(covSet.withColumn("_hit", lit(1L))), keys, "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_covered"))
      .withColumn("novelty_ppm",
        expr("(n_grams - n_covered) * 1000000L div n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_covered"), col("novelty_ppm"))

  /** t30's novelty scoring served from the STORED index — zero corpus
    * rescans (the probeGramIndex shape): per batch doc, the exact-ppm
    * fraction of its token-8-grams absent from the indexed corpus.
    * Covered = the gram's NET stored count ≥ 1 — against the PAST
    * only (unlike [[probeGramIndex]]'s ≥ 2-with-self, within-batch
    * repeats don't cover), and by the SUM of its rows, never row
    * existence: a taken-down doc ([[takedownGramIndex]]) leaves
    * (positive, negative) row pairs in the epoch until compaction
    * merges them away, and an existence test would keep "covering"
    * content the retention system already deleted. Plan: batch gram
    * set broadcasts, stored side left-semi-restricted (DPP prunes the
    * buckets) THEN summed per gram (batch-bounded survivors only),
    * covered set broadcasts back onto the one-pass [[noveltyTail]].
    * Output: (doc_id, n_grams, n_covered, novelty_ppm) —
    * GramIndexSpec pins equality with the oracle-gated t30 on the
    * same corpus/batch split.
    */
  def noveltyFromIndex(batch: DataFrame, index: GramIndexHandle): DataFrame = {
    val bg = gramsOf(batch, index.gram).withColumn("bucket", bucketOf(index.nBuckets))
    val bset = bg.select(col("bucket"), col("g")).distinct()
    val covSet = index.grams
      .join(broadcast(bset), Seq("bucket", "g"), "left_semi")
      .groupBy(col("bucket"), col("g")).agg(sum(col("c")).as("_sc"))
      .where(col("_sc") >= 1L)
      .select(col("bucket"), col("g"))
    noveltyTail(bg, covSet, Seq("bucket", "g"))
  }

  /** Where the index's append ledger lives: the `grams` store's root,
    * whose CURRENT epoch holds the `_appends` markers. The streams'
    * two-phase trigger ([[graft.streaming.Streams]]) keys its replay
    * guard here — once `batch-N` is committed, probing batch N again
    * is WRONG (the index now contains the batch's own counts, so
    * every batch position would reach stored + batch ≥ 2).
    */
  def ledgerRoot(path: String): String = s"$path/grams"

  def appendGramIndex(batch: DataFrame, path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val idx = readGramIndex(spark, path)
    IL.appendInto(spark, s"$path/grams", "appendGramIndex") { dir =>
      if (!IL.appendCommitted(spark, dir, batchId)) {
        // cached: the batch agg feeds the isEmpty probe AND the staged
        // write (the writeGramIndex counts0 lesson — without it every
        // streamed trigger tokenizes and aggregates its batch twice)
        val counts = gramsOf(batch, idx.gram)
          .groupBy(col("g")).agg(count(lit(1)).as("c"))
          .withColumn("bucket", bucketOf(idx.nBuckets))
          .select(col("bucket"), col("g"), col("c"))
          .cache()
        try if (!counts.isEmpty) IL.stageMoveAppend(counts, dir, "bucket", batchId)
        finally counts.unpersist()
        IL.commitAppend(spark, dir, batchId)
      }
    }
  }

  /** True when `takedownId` already applied to the CURRENT epoch. */
  def takedownCommitted(spark: SparkSession, path: String, takedownId: Long): Boolean =
    IL.appendCommitted(spark, IL.resolveDir(spark, s"$path/grams"), takedownId, "takedown")

  /** Takedown / retention deletion for a COUNT index (O52's answer to
    * tombstoneLexIndex): the store holds aggregate gram counts, not
    * per-doc postings, so an id tombstone cannot mask anything —
    * instead the deletion is a NEGATIVE-count delta append. The caller
    * passes the doc rows being deleted (the retention pipeline holds
    * them — it is removing them from the corpus store in the same
    * transaction); their gram counts land negated as new files in the
    * current epoch, and because every reader already SUMS counts per
    * gram across files, the deleted content stops covering at the very
    * next probe ([[probeGramIndex]] net counts; [[noveltyFromIndex]]
    * covers on net >= 1) — read-time correctness, compaction-time
    * reclamation, exactly the tombstone contract. Idempotent under its
    * own ledger namespace (`takedown-<id>` — disjoint from ingestion
    * batch ids, so a takedown can never be masked by a same-numbered
    * micro-batch) with the same stage-then-move crash story as
    * [[appendGramIndex]]. CONTRACT (single-application): each doc is
    * taken down ONCE, under one takedownId, and must actually be in
    * the index — double-deletion (two different ids covering the same
    * doc) drives net counts negative and silently UNDER-covers other
    * docs' identical grams; the ledger only absorbs replays of the
    * SAME takedownId. [[compactGramIndex]] merges the deltas and drops
    * zeroed grams permanently.
    */
  def takedownGramIndex(docs: DataFrame, path: String, takedownId: Long): Unit = {
    val spark = docs.sparkSession
    val idx = readGramIndex(spark, path)
    IL.appendInto(spark, s"$path/grams", "takedownGramIndex") { dir =>
      if (!IL.appendCommitted(spark, dir, takedownId, "takedown")) {
        val neg = gramsOf(docs, idx.gram)
          .groupBy(col("g")).agg((count(lit(1)) * lit(-1L)).as("c"))
          .withColumn("bucket", bucketOf(idx.nBuckets))
          .select(col("bucket"), col("g"), col("c"))
          .cache() // isEmpty probe + staged write share one computation
        try if (!neg.isEmpty) IL.stageMoveAppend(neg, dir, "bucket", takedownId, "takedown")
        finally neg.unpersist()
        IL.commitAppend(spark, dir, takedownId, "takedown")
      }
    }
  }

  /** Epoch repair: rewrite with one merged row per gram (append files
    * summed), restoring probe-side read efficiency; grams whose net
    * count reached zero through [[takedownGramIndex]] deltas are
    * DROPPED — the permanent application of the takedown. Refuses to
    * publish an empty epoch (a fully-taken-down corpus must be retired
    * by deleting the index, not by publishing an unreadable zero-row
    * hive store — the writeGramIndex guard's compaction twin). The
    * append ledger (ingestion AND takedown markers) carries into the
    * new epoch so a late replay of an already-merged batch stays a
    * no-op.
    *
    * CORRUPTION DETECTION: a net count < 0 cannot arise under
    * [[takedownGramIndex]]'s single-application contract — it is
    * evidence the contract was violated (the same doc deleted under
    * two different takedownIds, or a never-indexed doc "deleted"),
    * which silently UNDER-covers other docs' identical grams in
    * [[probeGramIndex]]/[[noveltyFromIndex]]. Compaction is the one
    * place the full net view is already being computed, so it FAILS
    * LOUDLY here instead of silently dropping the negative rows and
    * erasing the evidence: the epoch is left unpublished, the deltas
    * stay on disk for forensics, and the operator must reconcile
    * (rebuild from the corpus store, or append compensating counts)
    * before compaction can proceed.
    */
  def compactGramIndex(spark: SparkSession, path: String): Unit =
    IL.rewrite(spark, s"$path/grams", keep = 1, carryLedger = true) { (_, next) =>
      val idx = readGramIndex(spark, path)
      // cached: the corpus-scale merge agg feeds the corruption probe,
      // the empty-epoch probe AND the write — without the cache the
      // expensive half of the compaction would run three times (the
      // writeGramIndex counts0 lesson)
      val net = idx.grams.groupBy(col("bucket"), col("g")).agg(sum(col("c")).as("c"))
        .cache()
      // the try/finally wraps the REQUIRES too: a corruption/empty-epoch
      // refusal must not strand the corpus-scale aggregate in the block
      // manager (a service catching the error and retrying would leak
      // one cached frame per failed compaction)
      try {
        val corrupt = net.where(col("c") < 0L).limit(3)
          .collect().map(r => s"gram=${r.get(1)} net=${r.get(2)}")
        require(corrupt.isEmpty,
          "compactGramIndex: net gram counts < 0 detected (e.g. " +
            corrupt.mkString("; ") + ") — a takedown contract violation " +
            "(double-deletion under two takedownIds, or takedown of a " +
            "never-indexed doc); refusing to compact away the evidence. " +
            "Reconcile the index against the corpus store first.")
        val merged = net.where(col("c") > 0L)
        require(!merged.isEmpty,
          "compactGramIndex: every gram's net count is <= 0 (the whole " +
            "corpus was taken down) — refusing to publish an unreadable " +
            "empty epoch; delete the index instead")
        graft.sinks.RoutedSink.standard().write(s"parquet:$next:by:bucket", merged)
      } finally net.unpersist()
      IL.writeManifest(spark, next, MetaName, "gram" -> idx.gram, "nBuckets" -> idx.nBuckets)
    }
}
