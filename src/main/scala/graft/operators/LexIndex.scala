package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.operators.{IndexLayout => IL}

/** O51: the persisted LEXICAL index — BM25 serving without a corpus
  * rescan, the same productionization step the ANN path got in O29/
  * O46. [[Similarity.bm25TopK]] recomputes tf/df/doc-lengths from the
  * corpus per call; a serving stack builds them ONCE and probes a
  * stored, bucket-partitioned layout — ONE versioned epoch holds all
  * of it (a reader can never pair new postings with old statistics):
  *
  *   store/vNNN/postings/  (bucket, term, doc_id, tf, dl)  hive `bucket=` dirs
  *   store/vNNN/terms/     (bucket, term, df)              hive `bucket=` dirs
  *   store/vNNN/_LEXSTATS  manifest: exact-int ndocs/ntok + nBuckets + idCol
  *                         (written BEFORE the publish flip)
  *   store/vNNN/_LEXSTATS_APPEND-*  per-append ndocs/ntok deltas
  *   store/vNNN/_appends/  batch-keyed append ledger (replay no-ops)
  *
  * Epoch READS are torn-proof (one atomic `_CURRENT` flip covers all
  * stores + manifests). Mid-APPEND reads are forward-consistent by
  * write order (df → stats → postings → marker, see appendLexIndex):
  * a visible posting always has its statistics; a reader may briefly
  * see statistics that lead the postings — bounded, and resolved at
  * its next handle re-read.
  *
  * The doc length rides ON the posting row (the Lucene norm-in-posting
  * trade: +8 bytes per posting) instead of a separate doclens store —
  * so a probe touches NOTHING corpus-scaled besides the pruned posting
  * buckets themselves: the earlier layout's `join(doclens, "doc_id")`
  * shuffled a corpus-sized table per probe, which is exactly the
  * shuffle a 100 TB serving path cannot afford.
  *
  * bucket = hash60(term) mod nBuckets, so a probe touches ONLY the
  * bucket directories its query terms hash to — at 100 TB the
  * corpus-scaled postings store is read |query-term buckets| / nBuckets
  * sparsely (measured in LexIndexSpec via the scan's numPartitions
  * metric), the terms store likewise. nBuckets auto-sizes with the
  * corpus at write time (see [[autoBuckets]]) so per-bucket probe
  * reads stay ~flat as the corpus grows; the manifest records the
  * chosen value and is AUTHORITATIVE (the O43 discipline) — probes
  * derive routing from it, never from caller args. All stored
  * quantities are exact int64 (tf/df/dl/ndocs/ntok); scoring reuses
  * [[Similarity.bm25Rank]] VERBATIM, so probe results are bit-equal to
  * the corpus-rescan form (spec-pinned) — the avgdl division, the one
  * ln, the rounded-rank discipline all live in that one definition.
  *
  * Day-2 ingestion ([[appendLexIndex]]): a NEW-docs batch lands its
  * posting/df-delta files into the current epoch (batch-keyed
  * idempotent stage-then-move — a replayed micro-batch is a no-op,
  * see IndexLayout's append ledger) plus a per-append ndocs/ntok
  * delta manifest; readers SUM df per (bucket, term) across files and
  * the stats across manifests, so appended docs score under corpus-
  * global statistics without a full rewrite. CONTRACT: appended docs
  * are DISJOINT from the indexed corpus (the ingestion shape — new
  * docs only; re-appending an indexed doc would double its postings).
  * [[compactLexIndex]] rewrites the epoch with merged df rows and a
  * merged manifest, carrying the append ledger forward.
  *
  * Lifecycle: writes and compactions publish through
  * [[IndexLayout.rewrite]], appends land through
  * [[IndexLayout.appendInto]] (the epoch protocol is stated there).
  */
object LexIndex {

  final case class LexIndexHandle(
      postings: DataFrame,
      terms: DataFrame,
      ndocs: Long,
      ntok: Long,
      nBuckets: Int,
      tombstones: Option[DataFrame] = None)

  private val MetaName = "_LEXSTATS"
  private val AppendMetaPrefix = "_LEXSTATS_APPEND-"

  /** [[IndexLayout.autoBuckets]] over the measured token count. */
  private[operators] def autoBuckets(ntok: Long): Int = IL.autoBuckets(ntok)

  private def bucketOf(nBuckets: Int): Column =
    pmod(PortableHash.hash60(col("term")), lit(nBuckets.toLong)).cast("int")

  private def tokenize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(expr(s"filter(split($textCol, ' '), x -> x <> '')")).as("term"))

  /** Build + publish a fresh epoch. `nBuckets = 0` (the default)
    * auto-sizes from the measured token count ([[autoBuckets]]).
    */
  def writeLexIndex(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      nBuckets: Int = 0): Unit = {
    require(nBuckets >= 0, s"writeLexIndex: nBuckets must be >= 0, got $nBuckets")
    val spark = docs.sparkSession
    // cache the AGGREGATED postings, not the raw token stream: the
    // (doc, term, tf) relation is what all three consumers below
    // (doc lengths + stats, the postings write, the df agg) actually
    // need, and it is strictly smaller than the exploded tokens — at
    // 100 TB a cached token stream IS the corpus, while this is one
    // map-side-combinable agg over it, consumed three times
    val post0 = tokenize(docs, idCol, textCol)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val dls = post0.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val statsRow = dls.agg(
      coalesce(sum(col("dl")), lit(0L)).as("ntok"),
      count(lit(1)).as("ndocs")).head()
    val (ntok, ndocs) = (statsRow.getLong(0), statsRow.getLong(1))
    // an index over nothing would publish an epoch whose zero-row
    // hive-partitioned stores carry no schema (unreadable) and whose
    // BM25 statistics are undefined (avgdl = 0/0) — fail loudly at
    // build time rather than at some later probe
    require(ndocs > 0,
      "writeLexIndex: the corpus is empty — refusing to publish an " +
        "unreadable/statistics-free epoch; guard upstream")
    val nb = if (nBuckets > 0) nBuckets else autoBuckets(ntok)

    val post = post0
      .join(dls, "doc_id")
      .withColumn("bucket", bucketOf(nb))
      .select(col("bucket"), col("term"), col("doc_id"), col("tf"), col("dl"))
    val terms = post0.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn("bucket", bucketOf(nb))
      .select(col("bucket"), col("term"), col("df"))

    // ONE versioned root holds both stores, so readers can never pair
    // new postings with old statistics (a torn cross-store read would
    // silently mis-normalize scores); the manifest lands BEFORE the
    // publish flip, so a published epoch is always readable
    IL.rewrite(spark, s"$path/store", keep = 1) { (_, next) =>
      val sink = graft.sinks.RoutedSink.standard()
      sink.write(s"parquet:$next/postings:by:bucket", post)
      sink.write(s"parquet:$next/terms:by:bucket", terms)
      IL.writeManifest(spark, next, MetaName,
        "ndocs" -> ndocs, "ntok" -> ntok, "nBuckets" -> nb, "idCol" -> idCol)
    }
    post0.unpersist()
  }

  private def metaLong(meta: Map[String, String], k: String, where: String): Long =
    meta.get(k).map(_.toLong).getOrElse(sys.error(s"readLexIndex: malformed $where: $meta"))

  /** The manifest's recorded id column (append/compact re-tokenize
    * under the ORIGINAL id contract, never the caller's).
    */
  private def metaIdCol(meta: Map[String, String]): String =
    meta.getOrElse("idCol", "doc_id")

  /** Resolve the CURRENT epoch (one atomic flip covers postings,
    * terms AND the stats manifests). ndocs/ntok = the base manifest
    * plus every per-append delta manifest, so appended docs are
    * scored under corpus-global statistics.
    */
  def readLexIndex(spark: SparkSession, path: String): LexIndexHandle = {
    val dir = IL.resolveDir(spark, s"$path/store")
    val meta = IL.readManifest(spark, dir, MetaName).getOrElse(
      sys.error(s"readLexIndex: $dir has no $MetaName manifest"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val deltas = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      // exclude a crashed writeMeta's `.tmp` — counting a delta whose
      // atomic rename never happened would drift ndocs/ntok ahead of
      // the (never-landed) postings
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith(AppendMetaPrefix) && !n.endsWith(".tmp")
      }
      .sortBy(_.getPath.getName)
      .map { st =>
        val name = st.getPath.getName
        val s = IL.readManifest(spark, dir, name).get
        (metaLong(s, "ndocs", name), metaLong(s, "ntok", name))
      }
    LexIndexHandle(
      postings = spark.read.parquet(s"$dir/postings"),
      terms = spark.read.parquet(s"$dir/terms"),
      ndocs = metaLong(meta, "ndocs", MetaName) + deltas.map(_._1).sum,
      ntok = metaLong(meta, "ntok", MetaName) + deltas.map(_._2).sum,
      nBuckets = metaLong(meta, "nBuckets", MetaName).toInt,
      tombstones =
        if (IL.hasTombstones(spark, s"$path/store"))
          Some(IL.readTombstones(spark, s"$path/store", "doc_id"))
        else None)
  }

  /** Register documents for DELETION from the lexical index — the
    * takedown/retention obligation of a 100 TB serving corpus (the
    * O24 tombstone discipline applied to O51). The very next
    * [[readLexIndex]] masks them from every probe — a taken-down doc
    * never surfaces in a ranking even before the compaction that
    * removes its postings — and [[compactLexIndex]] applies them
    * permanently, recomputing df/ndocs/ntok EXACTLY from the retained
    * postings. Until that compaction the corpus-global statistics
    * still include the tombstoned docs: a bounded, conservative
    * staleness (slightly deflated idf / perturbed avgdl for the
    * survivors), never a surfaced deleted doc.
    */
  def tombstoneLexIndex(ids: DataFrame, idCol: String, path: String): Unit =
    IL.addTombstones(ids, idCol, "doc_id", s"$path/store")

  /** Day-2 ingestion: land a NEW-docs batch into the CURRENT epoch —
    * posting rows (with their dl) and per-term df deltas as appended
    * files, ndocs/ntok as a delta manifest — with batch-keyed
    * idempotence: a replayed `batchId` is a structural no-op (the
    * at-least-once foreachBatch contract, see IndexLayout's ledger).
    * The batch MUST be disjoint from the indexed corpus (class doc).
    * Cost: one agg pass over the BATCH — never the corpus.
    */
  def appendLexIndex(
      docs: DataFrame,
      path: String,
      batchId: Long,
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    IL.appendInto(spark, s"$path/store", "appendLexIndex") { dir =>
      val meta = IL.readManifest(spark, dir, MetaName).getOrElse(
        sys.error(s"appendLexIndex: $dir has no $MetaName manifest"))
      if (!IL.appendCommitted(spark, dir, batchId)) appendBatch(docs, dir, meta, batchId, textCol)
    }
  }

  private def appendBatch(
      docs: DataFrame, dir: String, meta: Map[String, String], batchId: Long,
      textCol: String): Unit = {
    val spark = docs.sparkSession
    val nb = metaLong(meta, "nBuckets", MetaName).toInt
    val idCol = metaIdCol(meta)
    val post0 = tokenize(docs, idCol, textCol)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val dls = post0.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val statsRow = dls.agg(
      coalesce(sum(col("dl")), lit(0L)).as("ntok"),
      count(lit(1)).as("ndocs")).head()
    val (dNtok, dNdocs) = (statsRow.getLong(0), statsRow.getLong(1))
    if (dNdocs == 0L) { post0.unpersist(); return } // an all-empty batch appends nothing
    val post = post0
      .join(dls, "doc_id")
      .withColumn("bucket", bucketOf(nb))
      .select(col("bucket"), col("term"), col("doc_id"), col("tf"), col("dl"))
    val terms = post0.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn("bucket", bucketOf(nb))
      .select(col("bucket"), col("term"), col("df"))
    // Write order is load-bearing for CONCURRENT READERS (ST23
    // re-reads the handle every trigger; appends don't flip an epoch,
    // so a reader can land mid-append): df deltas first, then the
    // stats manifest, then the postings, then the ledger marker.
    // Statistics therefore never LAG a visible posting — a doc is
    // never scored with df/ndocs older than itself. A mid-append
    // reader may briefly see statistics that LEAD the postings
    // (existing docs scored under the union's corpus-global stats) —
    // a bounded forward-consistent perturbation that resolves at the
    // next trigger, never a dropped or stat-less doc. Every step is
    // idempotent under the batchId key, so a crash anywhere replays
    // to the identical end state.
    IL.stageMoveAppend(terms, s"$dir/terms", "bucket", batchId)
    IL.writeManifest(spark, dir, f"$AppendMetaPrefix$batchId%020d",
      "ndocs" -> dNdocs, "ntok" -> dNtok)
    IL.stageMoveAppend(post, s"$dir/postings", "bucket", batchId)
    post0.unpersist()
    IL.commitAppend(spark, dir, batchId)
  }

  /** Epoch repair after an append/tombstone run: rewrite with ONE df
    * row per (bucket, term), one file set per bucket and a single
    * merged stats manifest — restoring the compact probe-side read
    * shape — and APPLY pending tombstones permanently: the tombstoned
    * docs' postings leave the store, and df/ndocs/ntok are recomputed
    * EXACTLY from the retained postings (one keyed agg — a compaction
    * is a rewrite anyway), so post-compaction statistics equal a
    * fresh build over the retained corpus (spec-pinned). Only the
    * tombstone FILES present at entry are consumed and deleted after
    * publish — ids arriving mid-compaction survive to the next cycle
    * (the O24 snapshot discipline). The append ledger carries into
    * the new epoch so late replays of already-merged batches stay
    * no-ops.
    */
  def compactLexIndex(spark: SparkSession, path: String): Unit = {
    val root = s"$path/store"
    val tombFiles = IL.tombstoneFiles(spark, root)
    IL.rewrite(spark, root, keep = 1, carryLedger = true) { (cur, next) =>
      val idx = readLexIndex(spark, path)
      val idCol = metaIdCol(IL.readManifest(spark, cur.get, MetaName).get)
      val retained =
        if (tombFiles.isEmpty) idx.postings
        else idx.postings.join(
          spark.read.parquet(tombFiles.map(_.toString): _*).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      val (mergedTerms, ndocs, ntok) =
        if (tombFiles.isEmpty)
          // no deletions: df deltas just merge, stats are already exact
          (idx.terms.groupBy(col("bucket"), col("term")).agg(sum(col("df")).as("df")),
            idx.ndocs, idx.ntok)
        else {
          // deletions change df per term AND the corpus-global stats —
          // recompute both exactly from the retained postings
          val t = retained.groupBy(col("bucket"), col("term"))
            .agg(count(lit(1)).as("df"))
          val st = retained.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
            .agg(coalesce(sum(col("dl")), lit(0L)).as("ntok"),
              count(lit(1)).as("ndocs")).head()
          (t, st.getLong(1), st.getLong(0))
        }
      require(ndocs > 0,
        "compactLexIndex: tombstones empty the corpus — refusing to " +
          "publish an unreadable/statistics-free epoch; rebuild instead")
      val sink = graft.sinks.RoutedSink.standard()
      sink.write(s"parquet:$next/postings:by:bucket", retained)
      sink.write(s"parquet:$next/terms:by:bucket", mergedTerms)
      IL.writeManifest(spark, next, MetaName,
        "ndocs" -> ndocs, "ntok" -> ntok, "nBuckets" -> idx.nBuckets, "idCol" -> idCol)
    }
    IL.deleteTombstoneFiles(spark, root, tombFiles)
  }

  /** BM25 top-k against the stored index. `queries`: (q_id, term)
    * rows, benchmark-sized. The query terms' bucket set is collected
    * to the driver — the distinct values of the probe's own bucket
    * column, so at most `nBuckets` rows whatever the query workload
    * (a bounded routing table, the probeAnnIndex pattern) — and
    * pushed as a static `bucket IN (...)` filter: partition pruning
    * at plan time.
    *
    * EVERY broadcast here is query-bounded, never corpus-bounded: the
    * terms store (corpus-VOCABULARY-scaled — far too big to broadcast
    * whole, even one bucket of it) is first restricted with a
    * left-semi join against the broadcast distinct query terms, THEN
    * df is summed per (bucket, term) — which both bounds the
    * broadcast at |distinct query terms| rows and restores the
    * one-row-per-term contract over an appended epoch's df-delta
    * files. Doc lengths ride on the posting rows (class doc), so no
    * corpus-scaled relation shuffles at all. Results are bit-equal to
    * [[Similarity.bm25TopK]] on the indexed corpus (LexIndexSpec pins
    * row equality and measures the pruning).
    */
  def probeLexIndex(
      queries: DataFrame,
      index: LexIndexHandle,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // a null query term has no bucket — drop it before anything
    // touches it
    val q = queries.where(col("term").isNotNull)
      .select(col("q_id"), col("term"))
      .withColumn("bucket", bucketOf(index.nBuckets))
    val buckets = q.select(col("bucket")).distinct().collect().map(_.getInt(0)).sorted.toSeq
    val post = index.postings.where(col("bucket").isin(buckets: _*))
    val terms = index.terms.where(col("bucket").isin(buckets: _*))
    val termsQ = terms
      .join(broadcast(q.select(col("bucket"), col("term")).distinct()),
        Seq("bucket", "term"), "left_semi")
      .groupBy(col("bucket"), col("term")).agg(sum(col("df")).as("df"))
    val matched = post
      .join(broadcast(q), Seq("bucket", "term"))
    // pending-tombstone mask: applied to the MATCHED postings (already
    // query-bounded), so a taken-down doc never enters the ranking —
    // the anti-join's right side is takedown-list sized, never the
    // corpus. Stats still include tombstoned docs until compaction
    // (bounded, conservative; see tombstoneLexIndex).
    val masked = index.tombstones.fold(matched)(t =>
      matched.join(t, Seq("doc_id"), "left_anti"))
    val scored = masked
      .join(broadcast(termsQ), Seq("bucket", "term"))
      .withColumn("ntok", lit(index.ntok))
      .withColumn("ndocs", lit(index.ndocs))
    Similarity.bm25Rank(scored, k, k1, b)
  }
}
