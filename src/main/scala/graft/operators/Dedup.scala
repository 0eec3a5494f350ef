package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Lsh, VectorFunctions}
import graft.tables.Tables

/** Deduplication suite for a training-data pipeline (SURVEY.md §2.3).
  *
  * Scale design: no operator ever forms a global cross join. Candidate
  * generation is always an equi-join on a blocking key (content hash,
  * LSH band, simhash segment, hyperplane bucket) so the shuffle is
  * keyed and bounded; exact verification runs only on candidates.
  *
  * Hashing is engine-neutral on purpose: every hash is derived from
  * md5 hex substrings, which DuckDB computes identically, so d02/d03
  * carry full value-level oracles (round 1 used xxhash64 and had
  * none). MinHash works on the 16-char hex strings directly —
  * lexicographic min of fixed-width lowercase hex equals numeric min
  * of the underlying 64-bit value in both engines.
  */
object Dedup {

  /** Non-empty word tokens. */
  private val wordsExpr = "filter(split(text, ' '), x -> x <> '')"

  /** Distinct word-3-gram shingles as an ARRAY per doc, built narrow
    * and codegen'd: the WordShingles expression (X5) tokenizes and
    * emits distinct 3-grams in one pass over the UTF-8 bytes, so
    * posting-list construction needs NO shuffle at all (round 1 used
    * posexplode + lead() windows — a doc_id shuffle + sort — plus a
    * global distinct) and no interpreted HOF lambdas (~3x faster than
    * the filter/transform/array_distinct chain; equivalence
    * spec-pinned). Docs under 3 words have no 3-grams and are
    * dropped, matching the oracle's CASE..ELSE [].
    */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame =
    // single-row-group corpus files scan as ONE split; spread the
    // rows first so the shingle expression runs at session width
    // (no-op on a many-split production scan — see fanOutSmallScan)
    Ops.fanOutSmallScan(docs)
      // the "has >= 3 words" gate runs BEFORE the shingle projection
      // as the one-byte-pass WordCount expression — filtering on
      // size(sh) > 0 after the select pays the full shingle build
      // TWICE per row (Filter+Project collapse shares no
      // subexpressions); semantically identical (WordCountSpec pins
      // the tokenizer agreement)
      .where(graft.functions.GraftExpressions.wordCount(col("text")) >= 3)
      .select(
        col("doc_id"),
        graft.functions.GraftExpressions.wordShingles(col("text"), 3, distinct = true).as("sh")
      )

  private[graft] def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    shingleArrays(Tables.load(spark, dir, "documents"))

  /** Benchmark decontamination (d16's engine): per-train-doc count and
    * fraction of distinct word-3-gram shingles that appear anywhere in
    * `evalDocs` (both frames: doc_id + text), with the contaminated
    * flag decided in exact integers (2·n_hit >= n_spans, i.e. >= 50%
    * overlap). The corpus-sized work is one explode + one semi-join +
    * one keyed agg; the eval universe is benchmark-sized and
    * broadcasts — past broadcast capacity, [[Joins.bloomSemiJoin]]
    * slots in on the same shingle key. Docs under 3 words have no
    * shingles and are dropped (nothing to measure).
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame): DataFrame =
    decontaminateShingled(shingleArrays(train), shingleArrays(evalDocs))

  /** d17/d18 shared core: maximal cross-doc-duplicated 8-gram
    * intervals per doc — (doc_id, st, en, n_windows) with 1-based
    * word indices, en inclusive. Input must carry a `wd` word-array
    * column (see d17's plan notes for the shapes; factored so the cut
    * LIST (d17) and the cut APPLICATION (d18) cannot drift).
    */
  private def dupSpanIslands(docs: DataFrame): DataFrame = {
    val pos = docs.where(size(col("wd")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(wd) - 7), i -> concat_ws(' ', slice(wd, i, 8)))")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("s"))
    val dup = pos.select(col("doc_id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select(col("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    pos.join(dup, Seq("s"), "left_semi")
      .withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).as("st"), (max(col("p")) + 7).as("en"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("st"), col("en"), col("n_windows"))
  }

  private def decontaminateShingled(train: DataFrame, evalSh: DataFrame): DataFrame = {
    val evalU = evalSh.select(explode(col("sh")).as("s")).distinct()
    val hits = train.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(evalU, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    decontamAssemble(train, hits)
  }

  /** Shared verdict tail of the decontamination variants: per-doc span
    * totals left-joined with the hit counts, overlap + the integer
    * contaminated rule (2·n_hit >= n_spans — no fp threshold drift).
    */
  private def decontamAssemble(train: DataFrame, hits: DataFrame): DataFrame =
    train.select(col("doc_id"), size(col("sh")).cast("long").as("n_spans"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("doc_id"), col("n_spans"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_spans"), 6).as("overlap"),
        (col("n_hit") * 2 >= col("n_spans")).cast("int").as("contaminated"))

  /** [[decontaminate]] for an eval universe PAST broadcast-hash
    * capacity — the full-harness configuration (every benchmark ever
    * published, deduplicated, is low-GB of distinct shingles: near the
    * default 8 GB broadcast ceiling, and over it with margin on
    * smaller executors). The membership probe routes through
    * [[Joins.bloomSemiJoin]]: the eval shingle universe aggregates into
    * a distributed Bloom filter whose codegen'd might_contain
    * prefilters the corpus-sized exploded-shingle stream BEFORE the
    * shuffle — only the ~fpp false-positive sliver plus the true hits
    * reach the exact semi-join that restores exact semantics. Values
    * are bit-identical to [[decontaminate]] (d19 pins that under
    * d16's own oracle); the trade is one extra pass over the eval
    * side (filter build, benchmark-sized) for a corpus-stream shuffle
    * cut from all-shingles to hits+fpp — at 100 TB train vs GB eval,
    * orders of magnitude. `expectedItems` skips the self-sizing count
    * when the harness cardinality is known.
    *
    * Caching contract: both internal shingle frames are `.cache()`d
    * because each feeds multiple consumers — and BOTH are unpersisted
    * before returning, because the returned verdict frame is eagerly
    * materialized through [[Ops.checkpointFrame]] (truncated lineage;
    * executor-local blocks, or reliable checkpoints under
    * `spark.graft.checkpoint.reliable`). Repeated invocations in a
    * long-lived session therefore no longer accumulate executor
    * storage; the verdict itself is one narrow row per train doc —
    * the thing you'd have to materialize anyway to act on it.
    */
  def decontaminateAtScale(
      train: DataFrame,
      evalDocs: DataFrame,
      expectedItems: Option[Long] = None,
      fpp: Double = 0.03
  ): DataFrame = {
    // Both shingle frames serve multiple consumers, so both are
    // cached: trainSh feeds the hits branch AND the n_spans branch
    // (uncached, the corpus would be shingled twice); evalU feeds
    // the self-sizing count, the Bloom build, and the exact verify
    // join (uncached, three eval-side pipelines each with their own
    // distinct shuffle — against the scaladoc's "one extra pass over
    // the eval side"). The verdict is then materialized EAGERLY so
    // both caches can be dropped before returning — the previous
    // lazy-return + "caller remembers clearCache()" contract leaked
    // executor storage across repeated invocations.
    val trainSh = shingleArrays(train).cache()
    val evalU = shingleArrays(evalDocs).select(explode(col("sh")).as("s"))
      .distinct().cache()
    val hits = Joins.bloomSemiJoin(
        trainSh.select(col("doc_id"), explode(col("sh")).as("s")),
        "s", evalU, "s", expectedItems, fpp)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    val verdict = Ops.checkpointFrame(decontamAssemble(trainSh, hits), eager = true)
    trainSh.unpersist()
    evalU.unpersist()
    verdict
  }

  /** The n-gram Jaccard dedup: exact word-3-gram Jaccard pairs via
    * [[Ops.jaccardPairs]]. The canned d04 (and d06/d08/d12's pairs)
    * is this with `maxPostingsPerToken = None`: at sf0.01 the hottest
    * shingle reaches ~25 docs and exactness is the point of the oracle.
    * The default is the 100 TB configuration, a hot-shingle cap on
    * candidate GENERATION — a boilerplate shingle shared by k docs
    * emits k² candidate rows uncapped, so at corpus scale the cap
    * bounds the posting self-join. Jaccard values for surviving pairs
    * stay exact (the verify adds the hot shingles both docs hold);
    * pairs whose ONLY shared shingles are boilerplate are dropped — a
    * recall trade-off, never a value error (DedupScaleSpec pins both).
    * Caching note: the posting list is cached — see
    * [[Ops.jaccardPairs]] (clearCache() between repeated invocations).
    */
  def ngramJaccardAtScale(
      docs: DataFrame,
      threshold: Double = 0.4,
      maxPostingsPerToken: Option[Int] = Some(1000)
  ): DataFrame =
    Ops.jaccardPairs(shingleArrays(docs), "doc_id", "sh", threshold, maxPostingsPerToken)

  /** Ordered containment pairs ([[Ops.containmentPairs]]) with an
    * optional hot-shingle cap on candidate generation, as in
    * [[ngramJaccardAtScale]]. The canned d15 is this uncapped, with
    * `containment` rounded to 6 dp and the rows sorted for its oracle
    * (DedupScaleSpec pins row/count identity).
    */
  def containmentAtScale(
      docs: DataFrame,
      threshold: Double = 0.8,
      maxPostingsPerToken: Option[Int] = None
  ): DataFrame =
    Ops.containmentPairs(shingleArrays(docs), "doc_id", "sh", threshold, maxPostingsPerToken)

  /** 16 minhash "permutations": per shingle, perm i is the first 16
    * hex chars of md5(s || "|i"). DuckDB computes the identical
    * string, so min() agrees byte-for-byte.
    */
  private val numPerms = 16

  /** MinHash(16) + LSH(4 bands x 4 rows) candidate pairs from a
    * (doc_id, s) posting list. Banding makes candidate generation an
    * equi-join on the band hash (md5 of the concatenated row
    * minhashes keeps the bucket key narrow at scale); the returned
    * pair list may contain band-collision duplicates (bounded by the
    * band count, 4) — consumers dedupe via semi-join or distinct.
    */
  /** Per-row minhash band keys: the IDENTICAL (band, bh) derivation
    * as [[minhashCandidates]] but computed with array_min over the
    * per-doc shingle array instead of a groupBy — no aggregation, no
    * shuffle, one row in → four band rows out. That makes it legal on
    * an append-mode STREAM (Structured Streaming forbids unwatermarked
    * aggregation) and the shape for banding one new document against
    * an existing index at ingestion time (Streams.dupCandidatesStream,
    * ST6). min over a groupBy of exploded postings == array_min over
    * the distinct shingle array (same set, same ordering) —
    * DedupScaleSpec pins value equality on real docs.
    */
  def bandKeys(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandKeysFromShingles(
      docs
        .where(graft.functions.GraftExpressions.wordCount(col(textCol)) >= 3)
        .select(
          col(idCol),
          graft.functions.GraftExpressions.wordShingles(col(textCol), 3, distinct = true)
            .as("_sh")),
      idCol, "_sh")

  /** [[bandKeys]] over an already-computed shingle-array relation —
    * lets callers that need shingles anyway (d11's exact verify)
    * compute them ONCE, cache, and feed both the banding and the
    * verify from the same relation (the round-2 d02 lesson).
    */
  def bandKeysFromShingles(sh: DataFrame, idCol: String, shCol: String): DataFrame = {
    // All 16 permutation minima in ONE codegen pass (X8 MinHashHex) —
    // the HOF chain (array_min over transform) is CodegenFallback and
    // traverses the shingle array 16 times with an interpreted lambda;
    // value equality with that chain is spec-pinned (MinHashSpec).
    sh.select(col(idCol),
      graft.functions.GraftExpressions.minHashHex(col(shCol), numPerms).as("_mh"))
      .select(
        col(idCol),
        posexplode(
          array((0 until 4).map(bnd =>
            md5(concat_ws("|",
              (bnd * 4 until bnd * 4 + 4).map(r => element_at(col("_mh"), r + 1)): _*))
          ): _*)
        ).as(Seq("band", "bh"))
      )
  }

  /** The band index's lifecycle ([[IndexLayout.KeySetIndex]]): rows
    * (doc_id, band, bh, pfx) under hive (band, pfx) dirs, where `pfx`
    * is the first hex char of the band hash — band-count × 16
    * directories.
    */
  private val BandIndex = new IndexLayout.KeySetIndex("BandIndex", "doc_id", "band", "pfx")

  private def bandIndexKeys(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandKeys(docs, idCol, textCol).withColumnRenamed(idCol, "doc_id")
      .withColumn("pfx", substring(col("bh"), 1, 1))

  /** Persist the standing corpus band index — the production form of
    * d11's "standing corpus whose (band, bh) index would be
    * precomputed and stored". Written through the pattern-routed sink
    * (S3) as a versioned epoch (the [[IndexLayout.KeySetIndex]]
    * lifecycle: a rewrite never touches live data, and a corpus that
    * yields no band keys raises instead of publishing an unreadable
    * epoch). Day-2 ingestion probes the stored files and NEVER
    * re-shingles the corpus — index build cost is paid once, at
    * corpus-write time — and because the probe join carries `pfx` as
    * a key, DYNAMIC PARTITION PRUNING cuts the scan to only the
    * buckets the batch's band keys hit: the day-2 read is O(buckets
    * probed), not O(index). At 100 TB widen the prefix (2–3 hex chars
    * → 256–4096 buckets per band) so each directory stays file-pruned.
    */
  def writeBandIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String
  ): Unit = BandIndex.write(bandIndexKeys(docs, idCol, textCol), path)

  /** Day-N index maintenance (the day-3 story): after a batch's
    * near-dup verdicts are in and its KEPT docs selected (d12's
    * keeper rule), their band keys must join the standing index —
    * otherwise tomorrow's batch can near-duplicate today's keepers
    * undetected. Routed-sink APPEND into the current epoch's (band,
    * pfx) hive layout: new files land only in the buckets the kept
    * docs hash to, nothing existing is rewritten, and the very next
    * [[probeBandIndex]] sees day-2 keepers with zero corpus
    * recompute. Pass only the KEPT docs — appending dropped
    * near-dups would make the index flag every future re-ingest of
    * content it already rejected against a doc_id that no longer
    * exists downstream. Single-maintainer contract: serialize appends
    * and compactions in one maintenance queue; an append that a
    * compaction's publish overtakes raises.
    */
  def appendBandIndex(
      kept: DataFrame,
      idCol: String,
      textCol: String,
      path: String
  ): Unit = BandIndex.append(bandIndexKeys(kept, idCol, textCol), path)

  /** Register documents for DELETION from the persisted band index —
    * the takedown/retention obligation of a 100 TB training corpus.
    * The ids are appended to the index's tombstone set: the very next
    * [[readBandIndex]] masks them from every probe (batch and ST6
    * streaming — no waiting for a maintenance window), and the next
    * [[compactBandIndex]] applies them permanently (their band keys
    * leave the stored files; the consumed tombstone files are
    * reclaimed). d12's drop list is the natural producer.
    */
  def tombstoneBandIndex(ids: DataFrame, idCol: String, path: String): Unit =
    BandIndex.tombstone(ids, idCol, path)

  /** Periodic compaction for the append-maintained index: daily
    * appends leave one small file per (bucket, day), and a year of
    * them turns the probe's pruned read into a small-file storm.
    * Rewrites each (band, pfx) bucket into a single file — one
    * hash-repartition pass keyed on the bucket columns, so every
    * bucket's rows land in exactly one task (for a 100 TB index,
    * salt the repartition key to target N files per bucket instead).
    * The rewrite DISTINCTs (a replayed append leaves exact duplicate
    * rows), applies pending tombstones, and publishes a new epoch
    * atomically — see [[IndexLayout.KeySetIndex.compact]]. A
    * compaction whose tombstones cover every doc raises and leaves
    * the current epoch live.
    */
  def compactBandIndex(spark: SparkSession, path: String, keepVersions: Int = 1): Unit =
    BandIndex.compact(spark, path, keepVersions)

  /** Read a band index persisted by [[writeBandIndex]]. The result
    * feeds [[probeBandIndex]] (batch day-2) and
    * [[graft.streaming.Streams.dupCandidatesStream]] (ST6) unchanged —
    * one stored artifact serves both ingestion surfaces. The manifest
    * is resolved at read time and pending tombstones are masked
    * ([[IndexLayout.KeySetIndex.read]]); with none pending the plan
    * keeps its dynamic partition pruning (BandIndexSpec pins it).
    */
  def readBandIndex(spark: SparkSession, path: String): DataFrame =
    BandIndex.read(spark, path,
      col("doc_id"), col("band").cast("int"), col("pfx").cast("string"), col("bh"))

  /** Day-2 probe of a new batch against a PERSISTED band index:
    * band the batch per row (no aggregation), broadcast it against
    * the stored index, return distinct (new_id, idx_id) candidate
    * pairs. The corpus appears ONLY through its index files — cost is
    * O(batch + collisions) regardless of corpus size: the plan
    * contains no corpus scan, and the broadcast side dynamically
    * prunes the index's (band, pfx) partitions so unprobed buckets
    * are never read (both pinned by BandIndexSpec). Downstream exact
    * verification touches just the colliding ids.
    *
    * The banded batch — batch rows × num_bands — is broadcast, which
    * is what ENABLES the dynamic partition pruning (the DPP subquery
    * reuses that broadcast). The hint is safe because the day-2 batch
    * is ingestion-bounded (the contract here); a batch that
    * approaches corpus scale belongs to the in-query band join
    * ([[minhashLshAtScale]]), not to a probe.
    */
  def probeBandIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame
  ): DataFrame = {
    val nb = bandKeys(batch, idCol, textCol)
      .withColumn("pfx", substring(col("bh"), 1, 1))
      .select(col(idCol).as("new_id"), col("band"), col("pfx"), col("bh"))
    broadcast(nb)
      .join(index.select(col("doc_id").as("idx_id"), col("band"), col("pfx"), col("bh")),
        Seq("band", "pfx", "bh"))
      .where(col("new_id") =!= col("idx_id"))
      .select(col("new_id"), col("idx_id")).distinct()
  }

  /** Candidate pairs from a (doc_id, sh) shingle-ARRAY relation: band
    * keys via the one-pass MinHashHex derivation, equi-joined on
    * (band, bh). Since the round-3 continuation this replaces the
    * posting-groupBy signature path in d02/minhashLshAtScale — same
    * values (min over exploded postings == array minimum), one fewer
    * shuffle (no per-doc min aggregation), and the codegen pass
    * instead of 16 interpreted HOF traversals.
    */
  private[graft] def minhashCandidates(sh: DataFrame): DataFrame =
    bandPairs(bandKeysFromShingles(sh, "doc_id", "sh"), "doc_id")

  /** The banded equi-join: one (id_a, id_b) row with id_a < id_b per
    * shared (band, bh) bucket of a band-key frame (`idCol`, band, bh).
    * A pair that collides in several bands repeats (at most once per
    * band); consumers dedupe.
    */
  private[graft] def bandPairs(bands: DataFrame, idCol: String): DataFrame = {
    val la = bands.select(col(idCol).as("id_a"), col("band"), col("bh"))
    val lb = bands.select(col(idCol).as("id_b"), col("band"), col("bh"))
    la.join(lb, Seq("band", "bh")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** The pairwise exact-Jaccard verify: joins each side's set from
    * `sets` (`idCol`, `setCol` — one row per id, distinct elements)
    * onto (id_a, id_b) `pairs` and adds the unrounded `jaccard`
    * (|A∩B| via `size(array_intersect)`). Work per pair is linear in
    * the two sets and no posting list exists, so a hot element costs
    * nothing extra. Other columns of `pairs` pass through, and none
    * may be named `_ta`, `_tb` or `c`: the verify works in those and
    * drops them. m08 keeps its own verify because its joins also
    * carry each side's container format.
    */
  private[graft] def pairJaccard(
      pairs: DataFrame, sets: DataFrame, idCol: String, setCol: String): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("id_a"), col(setCol).as("_ta")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col(setCol).as("_tb")), "id_b")
      .withColumn("c", size(array_intersect(col("_ta"), col("_tb"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("_ta")) + size(col("_tb")) - col("c")))
      .drop("_ta", "_tb", "c")

  /** The 100 TB configuration of the minhash-LSH dedup (d02): LSH
    * banding for candidates, then exact Jaccard verified PAIRWISE via
    * array_intersect on the candidate pairs — the right verify when
    * band buckets cover most docs (a posting join restricted to
    * candidate docs would then degenerate toward the full self-join;
    * see docs/SCALING.md). Identical results to the canned d02
    * (DedupScaleSpec pins equality).
    *
    * Caches the shingle relation for its three consumers; call
    * `spark.catalog.clearCache()` after consuming the result when
    * invoking repeatedly in one session (Bench/Verify do).
    */
  def minhashLshAtScale(docs: DataFrame, threshold: Double = 0.4): DataFrame = {
    val sh = shingleArrays(docs).cache()
    pairJaccard(minhashCandidates(sh).distinct(), sh, "doc_id", "sh")
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The 100 TB configuration of the fuzzy edit-distance dedup (d14):
    * identical semantics, with an optional per-bucket cap on candidate
    * GENERATION — a dup group of size g lands its members in one LSH
    * bucket and emits g²/2 candidate pairs; at corpus scale a hot
    * bucket (boilerplate family, template spam) makes that quadratic.
    * `maxBucket > 0` keeps only the `maxBucket` lowest doc_ids per
    * (band, bh) bucket before pairing (deterministic, one window over
    * the SAME key the pair join shuffles on), bounding per-bucket
    * fanout at maxBucket²/2. Like [[ngramJaccardAtScale]]'s cap this
    * trades recall on oversized groups, never verified values —
    * surviving pairs carry the exact Levenshtein distance
    * (DedupScaleSpec pins cap=0 == canned d14).
    *
    * `maxDist > 0` additionally runs the BANDED DP (Spark's 3-arg
    * levenshtein): per-pair cost drops from O(la·lb) to O(la·maxDist),
    * and pairs whose distance exceeds maxDist are dropped — safe
    * whenever maxDist >= relThreshold * the longest doc compared
    * (then every dropped pair was already past the relative bound),
    * a recall trade otherwise. The knob that matters when dup groups
    * are large and documents long.
    */
  def fuzzyEditAtScale(
      docs: DataFrame,
      relThreshold: Double = 0.4,
      maxBucket: Int = 0,
      maxDist: Int = 0
  ): DataFrame = {
    val sh = shingleArrays(docs).cache()
    val bandsAll = bandKeysFromShingles(sh, "doc_id", "sh")
    val bands =
      if (maxBucket <= 0) bandsAll
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
        bandsAll.withColumn("_rn", row_number().over(w))
          .where(col("_rn") <= maxBucket).drop("_rn")
      }
    val cands = bandPairs(bands, "doc_id").distinct()
    val norm = docs
      .select(col("doc_id"), trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
    cands
      .join(norm.select(col("doc_id").as("id_a"), col("norm").as("_na")), "id_a")
      .join(norm.select(col("doc_id").as("id_b"), col("norm").as("_nb")), "id_b")
      // equal-string fast path: byte-identical pairs (the DOMINANT
      // case in a high-dup corpus) resolve with an O(n) compare
      // instead of the O(n²) DP — measured 546 s -> 97 s on the 10x
      // replicated corpus, values unchanged
      .withColumn("edit_dist",
        when(col("_na") === col("_nb"), lit(0L))
          .otherwise(
            (if (maxDist > 0) levenshtein(col("_na"), col("_nb"), maxDist)
             else levenshtein(col("_na"), col("_nb"))).cast("long")))
      // banded DP returns -1 past the threshold: those pairs drop
      .where(col("edit_dist") >= 0)
      .withColumn("max_len", greatest(length(col("_na")), length(col("_nb"))).cast("long"))
      .where(col("max_len") > 0)
      .withColumn("_rel", col("edit_dist").cast("double") / col("max_len"))
      .where(col("_rel") <= relThreshold)
      .select(col("id_a"), col("id_b"), col("edit_dist"), col("max_len"),
        round(col("_rel"), 6).as("rel_dist"))
  }

  /** Shared DuckDB CTE chain through `cands`: the d02 MinHash(16) +
    * LSH(4x4) banding over the shingle postings, used by every oracle
    * that starts from banded candidate pairs (d02, d14). Lazy so Qs
    * declared before it in `all` capture it safely at object init.
    */
  private lazy val sqlCandCtes: String = {
    val mhCols = (0 until numPerms)
      .map(i => s"min(substr(md5(s || '|$i'), 1, 16)) AS mh$i").mkString(",\n    ")
    val bandCases = (0 until 4).map { b =>
      val cat = (b * 4 until b * 4 + 4).map(r => s"mh$r").mkString(" || '|' || ")
      if (b < 3) s"WHEN $b THEN md5($cat)" else s"ELSE md5($cat)"
    }.mkString(" ")
    s"""$sqlShingleCtes,
        sig AS (SELECT doc_id,
          $mhCols
          FROM post GROUP BY doc_id),
        bands AS (SELECT doc_id, b AS band,
          CASE b $bandCases END AS bh
          FROM sig, (VALUES (0), (1), (2), (3)) AS t(b)),
        cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""
  }

  /** Shared DuckDB CTE prefix: words / shingle arrays / postings. */
  private val sqlShingleCtes =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(wd) >= 3 THEN list_distinct(list_transform(
      |    generate_series(1, len(wd) - 2), i -> wd[i] || ' ' || wd[i + 1] || ' ' || wd[i + 2]))
      |  ELSE [] END AS s FROM w),
      |post AS (SELECT doc_id, unnest(s) AS s FROM sh)""".stripMargin

  /** The ONE decontamination oracle, shared verbatim by d16 (broadcast
    * path) and d19 (bloom path) — the two queries gate different
    * physical plans against the same contract, so a threshold or
    * rounding tweak must hit both gates or neither (the SQL twin of
    * the decontamAssemble factoring).
    */
  private lazy val sqlDecontamOracle =
    s"""$sqlShingleCtes,
        ev AS (SELECT DISTINCT s FROM post WHERE doc_id % 10 = 0),
        tr AS (SELECT doc_id, s FROM post WHERE doc_id % 10 <> 0),
        hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
          FROM tr WHERE s IN (SELECT s FROM ev) GROUP BY doc_id),
        szs AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_spans
          FROM sh WHERE doc_id % 10 <> 0 AND len(s) > 0)
        SELECT szs.doc_id AS doc_id, szs.n_spans AS n_spans,
          COALESCE(h.n_hit, 0) AS n_hit,
          ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / szs.n_spans, 6) AS overlap,
          CAST(CASE WHEN COALESCE(h.n_hit, 0) * 2 >= szs.n_spans
            THEN 1 ELSE 0 END AS INT) AS contaminated
        FROM szs LEFT JOIN hits h USING (doc_id)
        ORDER BY doc_id"""

  val all: Seq[Q] = Seq(
    Q(
      "d01_dedup_exact",
      "Exact dedup groups by content hash (raw + whitespace-normalized)",
      (spark, dir) => {
        import spark.implicits._
        Tables.load(spark, dir, "documents")
          .groupBy(
            md5($"text").as("h_raw"),
            md5(lower(regexp_replace($"text", "\\s+", " "))).as("h_norm")
          )
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy($"h_raw")
      },
      Some("""SELECT md5(text) AS h_raw,
        md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h_norm,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1, 2 ORDER BY h_raw""")
    ),

    Q(
      "d02_dedup_minhash_lsh",
      "MinHash(16) + LSH(4 bands x 4 rows) candidates, exact-Jaccard verified",
      (spark, dir) => {
        import spark.implicits._
        // Round 13: the canned query IS the scale path now. The old
        // verify (posting lists restricted to candidate docs, then a
        // shingle-keyed self-join) is quadratic WITHIN a hot shingle's
        // candidate posting — the round-12 verdict named it the last
        // candidate-restricted posting self-join in the canned set,
        // and its shuffle amplification was d21's driver-env bench
        // breach. The pairwise array_intersect verify does per-pair
        // work linear in the two shingle arrays with no verify
        // shuffle at all beyond the candidate equi-joins; equality
        // with the posting-join form is spec-pinned
        // (DedupScaleSpec "pairwise verify == posting-join verify").
        minhashLshAtScale(Tables.load(spark, dir, "documents"))
          .orderBy($"id_a", $"id_b")
      },
      Some {
        s"""$sqlCandCtes,
        pairs AS (SELECT pa.doc_id AS id_a, pb.doc_id AS id_b, COUNT(*) AS c
          FROM post pa JOIN post pb ON pa.s = pb.s AND pa.doc_id < pb.doc_id
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh)
        SELECT p.id_a AS id_a, p.id_b AS id_b,
          ROUND(CAST(p.c AS DOUBLE) / (sa.n + sb.n - p.c), 6) AS jaccard
        FROM pairs p
        JOIN cands cd ON p.id_a = cd.id_a AND p.id_b = cd.id_b
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
        WHERE CAST(p.c AS DOUBLE) / (sa.n + sb.n - p.c) >= 0.4
        ORDER BY p.id_a, p.id_b"""
      }
    ),

    Q(
      "d03_dedup_simhash",
      "60-bit SimHash + pigeonhole (4x16-bit segments) Hamming<=3 pairs",
      (spark, dir) => {
        import spark.implicits._
        val docs = Tables.load(spark, dir, "documents")
          .withColumn("words", expr(wordsExpr))
        // per-token 60-bit hash from the first 15 md5 hex chars —
        // fits a signed BIGINT on both engines (DuckDB decodes the
        // same digits), so d03 carries a value-level oracle
        val tok = docs.select($"doc_id", explode($"words").as("w"))
          .withColumn("h", graft.functions.PortableHash.hash60($"w"))
        // native SimHashAgg: one 64-int buffer through the partial
        // aggregation instead of 64 long columns (X3, Expressions.scala).
        // Bits 60-63 of the input are always 0, so their balance is
        // strictly negative and the output bits stay 0 — the oracle
        // only folds bits 0..59.
        val sigs = tok.groupBy($"doc_id")
          .agg(graft.functions.GraftExpressions.simHashAgg($"h").as("sim"))
        // pigeonhole: hamming<=3 over 4 segments => >=1 identical segment
        val seg = sigs.select(
          $"doc_id", $"sim",
          posexplode(array((0 until 4).map(k =>
            shiftrightunsigned($"sim", k * 16).bitwiseAND(0xffffL)
          ): _*)).as(Seq("k", "seg"))
        )
        val a = seg.select($"doc_id".as("id_a"), $"sim".as("sim_a"), $"k", $"seg")
        val b = seg.select($"doc_id".as("id_b"), $"sim".as("sim_b"), $"k", $"seg")
        a.join(b, Seq("k", "seg")).where($"id_a" < $"id_b")
          .select($"id_a", $"id_b", $"sim_a", $"sim_b").distinct()
          .withColumn("hamming", bit_count($"sim_a".bitwiseXOR($"sim_b")))
          .filter($"hamming" <= 3)
          .select($"id_a", $"id_b", $"hamming".cast("int").as("hamming"))
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
          FROM documents),
        tok AS (SELECT doc_id, unnest(wd) AS wt FROM w),
        th AS (SELECT doc_id, ${graft.functions.PortableHash.sqlHash60("wt")} AS h
          FROM tok),
        bal AS (SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS b
          FROM th CROSS JOIN generate_series(0, 59) AS g(j) GROUP BY doc_id, j),
        sigs AS (SELECT doc_id,
            CAST(SUM(CASE WHEN b > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sim
          FROM bal GROUP BY doc_id),
        seg AS (SELECT doc_id, sim, k, (sim >> CAST(16 * k AS INT)) & 65535 AS sg
          FROM sigs CROSS JOIN generate_series(0, 3) AS gk(k)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sim_a, b.sim AS sim_b
          FROM seg a JOIN seg b ON a.k = b.k AND a.sg = b.sg AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
        ORDER BY id_a, id_b""")
    ),

    Q(
      "d04_dedup_ngram_jaccard",
      "Exact word-3-gram Jaccard >= 0.4 via shared-shingle candidates",
      (spark, dir) => {
        import spark.implicits._
        // The uncapped scale operator: shingles are DISTINCT per doc,
        // so the posting-list self-join counts |A ∩ B| directly — one
        // count(*) per pair, no array payloads through the shuffle.
        // (At 100 TB, substitute xxhash64 as the join key to shrink
        // the shuffle — kept as the exact string here, where
        // exactness is the oracle's point.)
        ngramJaccardAtScale(Tables.load(spark, dir, "documents"), 0.4, None)
          .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
          FROM documents),
        sh AS (SELECT doc_id,
          CASE WHEN len(wd) >= 3 THEN list_distinct(list_transform(
            generate_series(1, len(wd) - 2), i -> wd[i] || ' ' || wd[i + 1] || ' ' || wd[i + 2]))
          ELSE [] END AS s FROM w)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.4
        ORDER BY id_a, id_b""")
    ),

    Q(
      "d05_dedup_embedding",
      "Embedding cosine near-dup pairs via hyperplane-LSH buckets (fold-exact fp)",
      (spark, dir) => {
        import spark.implicits._
        // Round 1 blocked on `label` — but the corpus has a FIXED 10
        // labels, so per-label all-pairs is O(n^2/10): a scale-killer.
        // Now: 8-bit hyperplane signature buckets + multi-probe
        // (Hamming<=1 via 1-bit flips on side A), exact cosine verify.
        // Candidate volume is n^2 * 9/2^bits with bits free to grow
        // with log(n) (see Ops.embeddingCandidates + the linear-growth
        // spec); the exact cosine keeps the fold order bit-identical
        // to the DuckDB oracle.
        val e = Tables.load(spark, dir, "embeddings")
        val sigd = e.select($"vec_id", $"embedding", Lsh.signature("embedding", Lsh.planes8).as("sig"))
        val flips = sigd.select(
          $"vec_id".as("id_a"),
          explode(array(($"sig" +: (0 until 8).map(i => $"sig".bitwiseXOR(lit(1 << i)))): _*)).as("bucket")
        )
        val right = sigd.select($"vec_id".as("id_b"), $"sig".as("bucket"))
        val candIds = flips.join(right, Seq("bucket")).where($"id_a" < $"id_b")
          .select($"id_a", $"id_b").distinct()
        candIds
          .join(e.select($"vec_id".as("id_a"), $"embedding".as("ea")), Seq("id_a"))
          .join(e.select($"vec_id".as("id_b"), $"embedding".as("eb")), Seq("id_b"))
          .withColumn("cosine", VectorFunctions.cosine("ea", "eb"))
          .filter($"cosine" >= 0.3)
          .select($"id_a", $"id_b", round($"cosine", 6).as("cosine"))
          .orderBy($"id_a", $"id_b")
      },
      Some {
        val sig = Lsh.sqlSignature("embedding", Lsh.planes8)
        val cos = VectorFunctions.sqlCosine("ea.embedding", "eb.embedding")
        s"""WITH sigd AS (SELECT vec_id, $sig AS sig FROM embeddings),
        flips AS (SELECT vec_id AS id_a,
            unnest([sig] || list_transform(generate_series(0, 7), i -> xor(sig, (1 << CAST(i AS INT))))) AS bucket
          FROM sigd),
        cands AS (SELECT DISTINCT f.id_a, r.vec_id AS id_b
          FROM flips f JOIN sigd r ON f.bucket = r.sig AND f.id_a < r.vec_id)
        SELECT c.id_a, c.id_b, ROUND($cos, 6) AS cosine
        FROM cands c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
        WHERE $cos >= 0.3 ORDER BY id_a, id_b"""
      }
    ),

    Q(
      "d06_dup_clusters",
      "Duplicate clusters: connected components over exact-Jaccard>=0.4 pairs",
      // Edges are d04's verified duplicate pairs. Components via
      // min-label propagation: near-dup clusters are almost cliques,
      // so 2-3 diameter-bounded rounds in practice (hard cap 20). The
      // driver-side loop carries only the convergence COUNT, not data.
      (spark, dir) => clusterQuery(spark, dir, star = false),
      Some(d06OracleSql)
    ),

    Q(
      "d08_dup_clusters_star",
      "Duplicate clusters via large/small-star contraction (O(log n) rounds, diameter-proof)",
      // Same pairs, same output contract, same oracle — but the CC is
      // the star-contraction algorithm (O14): the configuration for
      // graphs whose components may be long chains (web-crawl dup
      // graphs), where min-label's diameter-bounded rounds blow up.
      // Oracle-gating it proves algorithm equivalence on real pairs,
      // not just the spec's synthetic graphs.
      (spark, dir) => clusterQuery(spark, dir, star = true),
      Some(d06OracleSql)
    ),

    Q(
      "d07_contamination",
      "Benchmark contamination: word-5-gram overlap of corpus docs vs an eval set",
      (spark, dir) => {
        import spark.implicits._
        // eval set proxy = the 20 lowest doc_ids; a real pipeline
        // plugs its benchmark suite in here. The distinct 5-gram pool
        // of the eval set is small (broadcastable at any corpus
        // scale), so the contamination check is a broadcast semi-join
        // per posting row — linear in the corpus, no shuffle until
        // the per-doc count.
        val docs = Tables.load(spark, dir, "documents")
        def grams(df: DataFrame) = df.select(
          col("doc_id"),
          explode(graft.functions.GraftExpressions.wordShingles(col("text"), 5, distinct = true)).as("g")
        )
        val benchGrams = grams(docs.where($"doc_id" < 20)).select($"g").distinct()
        val corpus = docs.where($"doc_id" >= 20)
        val post = grams(corpus)
        val sizes = corpus
          .where(graft.functions.GraftExpressions.wordCount($"text") >= 5)
          .select(
            $"doc_id",
            size(graft.functions.GraftExpressions.wordShingles($"text", 5, distinct = true))
              .cast("long").as("n_grams"))
        val hits = post.join(broadcast(benchGrams), Seq("g"), "left_semi")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated"))
        sizes.join(hits, Seq("doc_id"), "left")
          .withColumn("n_contaminated", coalesce($"n_contaminated", lit(0L)))
          .withColumn("_ratio", $"n_contaminated".cast("double") / $"n_grams")
          // flag on the UNROUNDED ratio — the oracle compares the raw
          // ratio to 0.5, and rounding first diverges in [0.4999995, 0.5)
          .withColumn("contamination", round($"_ratio", 6))
          .withColumn("flagged", $"_ratio" >= 0.5)
          .select($"doc_id", $"n_grams", $"n_contaminated", $"contamination", $"flagged")
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
          FROM documents),
        g5 AS (SELECT doc_id,
          CASE WHEN len(wd) >= 5 THEN list_distinct(list_transform(
            generate_series(1, len(wd) - 4),
            i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2] || ' ' || wd[i+3] || ' ' || wd[i+4]))
          ELSE [] END AS gs FROM w),
        bench AS (SELECT DISTINCT unnest(gs) AS g FROM g5 WHERE doc_id < 20),
        post AS (SELECT doc_id, unnest(gs) AS g FROM g5 WHERE doc_id >= 20),
        sizes AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams
          FROM g5 WHERE doc_id >= 20 AND len(gs) > 0),
        hits AS (SELECT post.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
          FROM post JOIN bench ON post.g = bench.g GROUP BY post.doc_id)
        SELECT s.doc_id AS doc_id, s.n_grams,
          COALESCE(h.n_contaminated, 0) AS n_contaminated,
          ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / s.n_grams, 6) AS contamination,
          (CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / s.n_grams) >= 0.5 AS flagged
        FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
        ORDER BY s.doc_id""")
    ),

    Q(
      "d10_dedup_semantic",
      "SemDeDup-style semantic dedup: coarse-cell assignment, within-cell cosine pairs",
      (spark, dir) => {
        import spark.implicits._
        // The SemDeDup shape (Abbas et al., 2023): cluster the
        // embedding space coarsely, then look for duplicates only
        // WITHIN a cluster — candidate generation is an equi-join on
        // the cell id, never a cross join. Cell count is the scale
        // knob: cells ~ n / target_cell_size keeps within-cell pair
        // volume bounded as the corpus grows. Centroids are the 8
        // lowest vec_ids (deterministic, oracle-reproducible); a
        // trained k-means quantizer slots in unchanged. Assignment is
        // the argmax-as-aggregation shape (min over (-cos, c_id)
        // structs — docs/SCALING.md records why not a window), and
        // only (id, cell) ints transit the pair shuffle; embeddings
        // are re-fetched per side for the exact verify.
        val e = Tables.load(spark, dir, "embeddings")
        val cents = e.orderBy($"vec_id").limit(8)
          .select($"vec_id".as("c_id"), $"embedding".as("ce"))
        val cells = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
          .crossJoin(broadcast(cents))
          .withColumn("negcos", -VectorFunctions.cosine("ne", "ce"))
          .groupBy($"n_id").agg(min(struct($"negcos", $"c_id")).as("_mc"))
          .select($"n_id", $"_mc.c_id".as("cell"))
        val pairs = cells.select($"n_id".as("id_a"), $"cell")
          .join(cells.select($"n_id".as("id_b"), $"cell"), Seq("cell"))
          .where($"id_a" < $"id_b")
        pairs
          .join(e.select($"vec_id".as("id_a"), $"embedding".as("ea")), Seq("id_a"))
          .join(e.select($"vec_id".as("id_b"), $"embedding".as("eb")), Seq("id_b"))
          .withColumn("cosine", VectorFunctions.cosine("ea", "eb"))
          .filter($"cosine" >= 0.3)
          .select($"id_a", $"id_b", $"cell", round($"cosine", 6).as("cosine"))
          .orderBy($"id_a", $"id_b")
      },
      Some {
        val cosNC = VectorFunctions.sqlCosine("e.embedding", "c.ce")
        val cos = VectorFunctions.sqlCosine("ea.embedding", "eb.embedding")
        s"""WITH c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
        a AS (SELECT e.vec_id AS n_id, c.c_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $cosNC DESC, c.c_id) AS rnc
          FROM embeddings e, c),
        cells AS (SELECT n_id, c_id AS cell FROM a WHERE rnc = 1),
        pr AS (SELECT x.n_id AS id_a, y.n_id AS id_b, x.cell
          FROM cells x JOIN cells y ON x.cell = y.cell AND x.n_id < y.n_id)
        SELECT pr.id_a, pr.id_b, pr.cell, ROUND($cos, 6) AS cosine
        FROM pr
        JOIN embeddings ea ON ea.vec_id = pr.id_a
        JOIN embeddings eb ON eb.vec_id = pr.id_b
        WHERE $cos >= 0.3 ORDER BY id_a, id_b"""
      }
    ),

    Q(
      "d09_dup_spans",
      "Exact duplicated-span detection: 8-word shingles shared across documents",
      (spark, dir) => {
        import spark.implicits._
        // The exact-substring dedup shape (Lee et al., "Deduplicating
        // Training Data Makes Language Models Better"): a span
        // duplicated ANYWHERE in the corpus is found by grouping the
        // corpus's K-word shingles and keeping those in >= 2 docs.
        // Everything is an explode + groupBy on the shingle key + one
        // semi-join back — linear in corpus size, the plan you'd run
        // at 100 TB (there, join on xxhash64(span) so only 8-byte keys
        // transit the shuffle; exact strings kept here for the
        // oracle). Output: per affected doc, how many of its spans are
        // duplicated elsewhere and the duplicated fraction — the
        // "cut list" a span-removal pass consumes.
        val sh = Tables.load(spark, dir, "documents")
          .where(graft.functions.GraftExpressions.wordCount($"text") >= 8)
          .select($"doc_id",
            graft.functions.GraftExpressions.wordShingles($"text", 8, distinct = true).as("sh"))
          .cache() // two consumers (postings + sizes); Verify/Bench clearCache()
        val posting = sh.select($"doc_id", explode($"sh").as("s"))
        // shingles are distinct per doc, so count(*) = distinct docs
        val dup = posting.groupBy($"s").agg(count(lit(1)).as("n_docs"))
          .where($"n_docs" >= 2).select($"s")
        val perDoc = posting.join(dup, Seq("s"), "left_semi")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
        sh.select($"doc_id", size($"sh").cast("long").as("n_spans"))
          .join(perDoc, Seq("doc_id"))
          .select($"doc_id", $"n_spans", $"n_dup",
            round($"n_dup".cast("double") / $"n_spans", 6).as("dup_frac"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
          FROM documents),
        sh AS (SELECT doc_id,
          CASE WHEN len(wd) >= 8 THEN list_distinct(list_transform(
            generate_series(1, len(wd) - 7),
            i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2] || ' ' || wd[i+3] || ' ' ||
                 wd[i+4] || ' ' || wd[i+5] || ' ' || wd[i+6] || ' ' || wd[i+7]))
          ELSE [] END AS s FROM w),
        sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        post AS (SELECT doc_id, unnest(s) AS sp FROM sh2),
        dup AS (SELECT sp FROM post GROUP BY sp HAVING COUNT(*) >= 2),
        perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
          FROM post WHERE sp IN (SELECT sp FROM dup) GROUP BY doc_id)
        SELECT s2.doc_id AS doc_id, CAST(len(s2.s) AS BIGINT) AS n_spans, p.n_dup,
          ROUND(CAST(p.n_dup AS DOUBLE) / len(s2.s), 6) AS dup_frac
        FROM sh2 s2 JOIN perdoc p ON p.doc_id = s2.doc_id
        ORDER BY doc_id""")
    ),

    Q(
      "d11_incremental_dedup",
      "Day-2 ingestion: a new batch banded per-row against the standing corpus band index",
      (spark, dir) => {
        import spark.implicits._
        // The incremental-dedup shape a production pipeline runs daily:
        // an engine-neutral hash splits docs into a NEW batch (~20%)
        // and the standing corpus whose (band, bh) index would be
        // precomputed and stored — which it now IS, as an artifact:
        // [[writeBandIndex]]/[[readBandIndex]]/[[probeBandIndex]]
        // persist the index hive-partitioned by (band, pfx) and probe
        // it with dynamic partition pruning (BandIndexSpec measures
        // 16/64 buckets read for a narrow batch). The canned query
        // keeps the self-contained rebuild form so the oracle stays a
        // single SQL statement. New docs derive band keys PER ROW
        // (bandKeys — the same no-aggregation derivation ST6 runs on a
        // stream) and equi-join the index; only collisions get the
        // exact-Jaccard verify. At 100 TB the batch never self-joins
        // and the corpus is touched only through its band index — cost
        // is O(batch + collisions), not O(corpus), and the index join
        // broadcasts the day's batch bands.
        def flagB(c: org.apache.spark.sql.Column) = pmod(
          graft.functions.PortableHash.hash60(concat(lit("inc|"), c.cast("string"))),
          lit(5L))
        // ONE cached shingle relation feeds the banding AND the exact
        // verify for both sides (the round-2 d02 lesson — the naive
        // form recomputed the shingle pass four times and cost 3.1s
        // at sf0.1; this shape runs in ~1s).
        val sh = shingleArrays(spark, dir).cache()
        // bands cached too: its 16 md5 minhash transforms are d11's
        // dominant cost and both split branches scan the same relation
        val bands = bandKeysFromShingles(sh, "doc_id", "sh")
          .withColumn("b", flagB($"doc_id")).cache()
        val newBands = bands.where($"b" === 0L)
          .select($"doc_id".as("new_id"), $"band", $"bh")
        val idxBands = bands.where($"b" =!= 0L)
          .select($"doc_id".as("idx_id"), $"band", $"bh")
        // no broadcast hint on the batch side: the canned split makes
        // it 20% of the corpus (corpus-LINEAR), so the decision is
        // AQE's — broadcast while the day's batch fits, shuffle on
        // (band, bh) past it. This is where the 100x probe observed
        // the broadcast→shuffle fallback; a hard hint would have
        // forced the build past executor memory instead.
        val cands = newBands.join(idxBands, Seq("band", "bh"))
          .select($"new_id".as("id_a"), $"idx_id".as("id_b")).distinct()
        pairJaccard(cands, sh, "doc_id", "sh")
          .filter($"jaccard" >= 0.4)
          .select($"id_a".as("new_id"), $"id_b".as("idx_id"), round($"jaccard", 6).as("jaccard"))
          .orderBy($"new_id", $"idx_id")
      },
      Some {
        val mhCols = (0 until numPerms)
          .map(i => s"min(substr(md5(s || '|$i'), 1, 16)) AS mh$i").mkString(",\n    ")
        val bandCases = (0 until 4).map { b =>
          val cat = (b * 4 until b * 4 + 4).map(r => s"mh$r").mkString(" || '|' || ")
          if (b < 3) s"WHEN $b THEN md5($cat)" else s"ELSE md5($cat)"
        }.mkString(" ")
        val splitHash = graft.functions.PortableHash.sqlHash60("'inc|' || CAST(doc_id AS VARCHAR)")
        s"""$sqlShingleCtes,
        spl AS (SELECT doc_id, CAST($splitHash % 5 AS BIGINT) AS sb FROM documents),
        sig AS (SELECT doc_id,
          $mhCols
          FROM post GROUP BY doc_id),
        bands AS (SELECT doc_id, b AS band,
          CASE b $bandCases END AS bh
          FROM sig, (VALUES (0), (1), (2), (3)) AS t(b)),
        nb AS (SELECT bd.doc_id AS new_id, bd.band, bd.bh
          FROM bands bd JOIN spl ON spl.doc_id = bd.doc_id WHERE spl.sb = 0),
        ib AS (SELECT bd.doc_id AS idx_id, bd.band, bd.bh
          FROM bands bd JOIN spl ON spl.doc_id = bd.doc_id WHERE spl.sb <> 0),
        cands AS (SELECT DISTINCT n.new_id, i.idx_id
          FROM nb n JOIN ib i ON n.band = i.band AND n.bh = i.bh),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        pairs AS (SELECT pa.doc_id AS new_id, pb.doc_id AS idx_id, COUNT(*) AS c
          FROM post pa
          JOIN spl qa ON qa.doc_id = pa.doc_id AND qa.sb = 0
          JOIN post pb ON pa.s = pb.s
          JOIN spl qb ON qb.doc_id = pb.doc_id AND qb.sb <> 0
          GROUP BY 1, 2)
        SELECT cd.new_id, cd.idx_id,
          ROUND(CAST(p.c AS DOUBLE) / (sa.n + si.n - p.c), 6) AS jaccard
        FROM cands cd
        JOIN pairs p ON p.new_id = cd.new_id AND p.idx_id = cd.idx_id
        JOIN sizes sa ON sa.doc_id = cd.new_id
        JOIN sizes si ON si.doc_id = cd.idx_id
        WHERE CAST(p.c AS DOUBLE) / (sa.n + si.n - p.c) >= 0.4
        ORDER BY cd.new_id, cd.idx_id"""
      }
    ),

    Q(
      "d13_sketch_accuracy",
      "Sketch-quality audit: minhash-estimated vs exact Jaccard per LSH candidate pair",
      (spark, dir) => {
        import spark.implicits._
        // The tuning loop behind every banding threshold: how good is
        // the 16-perm estimator actually? Estimated Jaccard = the
        // fraction of matching permutation minima — an exact integer
        // count on both engines (md5-derived minima, X8) — next to
        // the true Jaccard from the shingle arrays, with the absolute
        // error. At 100 TB this runs on a candidate SAMPLE and its
        // error distribution decides bands x rows; here it runs on
        // all LSH candidates and is value-level oracle-gated, which
        // q30's HLL (engine-specific sketch) could never be.
        val sh = shingleArrays(spark, dir).cache()
        val mh = sh.select($"doc_id",
          graft.functions.GraftExpressions.minHashHex($"sh", numPerms).as("mh"))
        val scored = minhashCandidates(sh).distinct()
          .join(mh.select($"doc_id".as("id_a"), $"mh".as("ma")), "id_a")
          .join(mh.select($"doc_id".as("id_b"), $"mh".as("mb")), "id_b")
          .withColumn("n_match",
            expr("size(filter(zip_with(ma, mb, (x, y) -> x = y), v -> v))").cast("int"))
        pairJaccard(scored, sh, "doc_id", "sh")
          .withColumn("est_jaccard", $"n_match".cast("double") / numPerms)
          .select($"id_a", $"id_b", $"n_match",
            round($"est_jaccard", 6).as("est_jaccard"),
            round($"jaccard", 6).as("jaccard"),
            round(abs($"est_jaccard" - $"jaccard"), 6).as("abs_err"))
          .orderBy($"id_a", $"id_b")
      },
      Some {
        val mhCols = (0 until numPerms)
          .map(i => s"min(substr(md5(s || '|$i'), 1, 16)) AS mh$i").mkString(",\n    ")
        val bandCases = (0 until 4).map { b =>
          val cat = (b * 4 until b * 4 + 4).map(r => s"mh$r").mkString(" || '|' || ")
          if (b < 3) s"WHEN $b THEN md5($cat)" else s"ELSE md5($cat)"
        }.mkString(" ")
        val matchSum = (0 until numPerms)
          .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""$sqlShingleCtes,
        sig AS (SELECT doc_id,
          $mhCols
          FROM post GROUP BY doc_id),
        bands AS (SELECT doc_id, b AS band,
          CASE b $bandCases END AS bh
          FROM sig, (VALUES (0), (1), (2), (3)) AS t(b)),
        cands AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
        mm AS (SELECT cd.id_a, cd.id_b,
            CAST($matchSum AS INT) AS n_match
          FROM cands cd
          JOIN sig a ON a.doc_id = cd.id_a
          JOIN sig b ON b.doc_id = cd.id_b),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        pairs AS (SELECT pa.doc_id AS id_a, pb.doc_id AS id_b, COUNT(*) AS c
          FROM post pa JOIN post pb ON pa.s = pb.s AND pa.doc_id < pb.doc_id
          GROUP BY 1, 2)
        SELECT m.id_a, m.id_b, m.n_match,
          ROUND(CAST(m.n_match AS DOUBLE) / $numPerms, 6) AS est_jaccard,
          ROUND(CAST(COALESCE(p.c, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(p.c, 0)), 6) AS jaccard,
          ROUND(ABS(CAST(m.n_match AS DOUBLE) / $numPerms -
            CAST(COALESCE(p.c, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(p.c, 0))), 6) AS abs_err
        FROM mm m
        LEFT JOIN pairs p ON p.id_a = m.id_a AND p.id_b = m.id_b
        JOIN sizes sa ON sa.doc_id = m.id_a
        JOIN sizes sb ON sb.doc_id = m.id_b
        ORDER BY m.id_a, m.id_b"""
      }
    ),

    Q(
      "d12_canonical_selection",
      "Canonical-doc selection per dup cluster: keep the longest (lowest-id tiebreak), list the drops",
      (spark, dir) => {
        import spark.implicits._
        // The last step of a dedup pipeline — turning clusters into an
        // actionable keep/drop list. Keeper per cluster = argmax
        // (n_chars, -doc_id), computed as min(struct(-n_chars,
        // doc_id)): the map-side-combinable aggregation shape (the
        // s04/SCALING.md rule), not a per-cluster sort. One broadcast
        // of the (cluster, keeper) frame joins the verdict back.
        val cl = clusterQuery(spark, dir, star = false)
        val meta = Tables.load(spark, dir, "documents").select($"doc_id", $"n_chars")
        val j = cl.join(meta, "doc_id")
        val keep = j.groupBy($"cluster_id")
          .agg(min(struct((-$"n_chars").as("negc"), $"doc_id".as("kid"))).as("_k"))
          .select($"cluster_id", $"_k.kid".as("keep_id"))
        // keep is one row per CLUSTER — corpus-linear, so no hard
        // broadcast hint: AQE broadcasts the verdict while it fits
        // and shuffles on cluster_id past capacity (both sides of
        // that join already share the cluster_id partitioning).
        j.join(keep, "cluster_id")
          .select($"doc_id", $"cluster_id", $"n_members", $"keep_id",
            ($"doc_id" =!= $"keep_id").as("to_drop"))
          .orderBy($"doc_id")
      },
      Some(s"""$d06OracleCtes,
        meta AS (SELECT cl.doc_id, cl.cluster_id, d.n_chars
          FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
        keep AS (SELECT cluster_id, doc_id AS keep_id,
            ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY n_chars DESC, doc_id ASC) AS rk
          FROM meta)
        SELECT m.doc_id, m.cluster_id,
          CAST(COUNT(*) OVER (PARTITION BY m.cluster_id) AS BIGINT) AS n_members,
          k.keep_id, m.doc_id <> k.keep_id AS to_drop
        FROM meta m JOIN keep k ON k.cluster_id = m.cluster_id AND k.rk = 1
        ORDER BY m.doc_id""")
    ),

    Q(
      "d14_fuzzy_edit_distance",
      "Fuzzy dedup: MinHash-LSH candidates verified by normalized Levenshtein distance",
      (spark, dir) => {
        import spark.implicits._
        // The record-linkage shape: candidate GENERATION is d02's
        // banded equi-join (never the O(n^2) pair space) and VERIFY is
        // character-level — Levenshtein over the whitespace-normalized
        // text, relative to the longer side. This catches
        // near-identical docs whose small in-place edits defeat the
        // exact-hash dedup (d01) while shingle overlap keeps LSH
        // recall high. levenshtein() is a codegen'd binary expression
        // evaluated ONLY on candidate pairs; the verify joins carry
        // (id, norm) strings, no arrays. At 100 TB: the candidate join
        // shuffles on (band, bh) exactly like d02 and the verify is
        // per-pair map work — for unbounded docs cap the compared
        // length (levenshtein cost is len_a*len_b per pair); corpus
        // docs here are <= ~600 chars so full norm is compared. The
        // canned query IS the uncapped scale operator.
        fuzzyEditAtScale(Tables.load(spark, dir, "documents"))
          .orderBy($"id_a", $"id_b")
      },
      Some {
        s"""$sqlCandCtes,
        n AS (SELECT doc_id,
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
        v AS (SELECT c.id_a, c.id_b,
            CAST(levenshtein(na.norm, nb.norm) AS BIGINT) AS edit_dist,
            CAST(greatest(len(na.norm), len(nb.norm)) AS BIGINT) AS max_len
          FROM cands c
          JOIN n na ON na.doc_id = c.id_a
          JOIN n nb ON nb.doc_id = c.id_b)
        SELECT id_a, id_b, edit_dist, max_len,
          ROUND(CAST(edit_dist AS DOUBLE) / max_len, 6) AS rel_dist
        FROM v WHERE max_len > 0 AND CAST(edit_dist AS DOUBLE) / max_len <= 0.4
        ORDER BY id_a, id_b"""
      }
    ),

    Q(
      "d15_containment",
      "Asymmetric n-gram containment pairs: doc A mostly inside doc B (Broder containment >= 0.8)",
      (spark, dir) => {
        import spark.implicits._
        // Broder's OTHER measure: containment |A∩B| / |A| — the one
        // resemblance (d04's Jaccard) misses. A short doc wrapped in
        // boilerplate (same article + different chrome, quote + long
        // reply) has low Jaccard but containment ≈ 1, and training
        // corpora want the WRAPPED copy flagged, not kept as "novel".
        // Ordered pairs: (id_a contained-in id_b). Same posting-list
        // core as d04 — the shared-shingle count IS |A∩B|, divided by
        // |A| instead of the union; one shingle-keyed join + one pair
        // agg, no array payloads through the shuffle. At 100 TB
        // containmentAtScale's hot-shingle cap (maxPostingsPerToken)
        // bounds the posting fanout as it does for d04.
        containmentAtScale(Tables.load(spark, dir, "documents"), 0.8)
          .select($"id_a", $"id_b", $"n_shared", $"n_a",
            round($"containment", 6).as("containment"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
          FROM documents),
        sh AS (SELECT doc_id,
          CASE WHEN len(wd) >= 3 THEN list_distinct(list_transform(
            generate_series(1, len(wd) - 2), i -> wd[i] || ' ' || wd[i + 1] || ' ' || wd[i + 2]))
          ELSE [] END AS s FROM w)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_shared,
          CAST(len(a.s) AS BIGINT) AS n_a,
          ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS containment
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        WHERE len(a.s) > 0
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8
        ORDER BY id_a, id_b""")
    ),

    Q(
      "d16_decontaminate",
      "Benchmark decontamination: per-train-doc 3-gram overlap against the eval shard's shingle universe",
      (spark, dir) => {
        import spark.implicits._
        // The train/eval contamination check every LLM corpus ships
        // with (the n-gram variant of GPT-3 appendix C / PaLM's
        // decontamination): docs whose shingles substantially overlap
        // the held-out eval set leak the benchmark into training.
        // Eval shard = doc_id % 10 == 0 (a stand-in for the external
        // benchmark table). The corpus-sized work is ONE explode +
        // ONE semi-join on the shingle key + ONE keyed agg — linear.
        // The eval side after distinct() is benchmark-sized (MBs even
        // for a full eval harness vs 100 TB of train), so Spark
        // broadcasts the semi-join build side; past broadcast capacity
        // the O25 bloomSemiJoin slots in on the same key. The
        // contaminated flag is decided in exact integers
        // (2*n_hit >= n_spans), so the 0.5 threshold cannot fp-drift
        // between engines.
        val sh = shingleArrays(spark, dir).cache()
        decontaminateShingled(sh.where($"doc_id" % 10 =!= 0),
            sh.where($"doc_id" % 10 === 0))
          .orderBy($"doc_id")
      },
      Some(sqlDecontamOracle),
    ),

    Q(
      "d17_dup_span_intervals",
      "Maximal duplicated-span intervals: the word ranges a span-removal pass cuts (gaps-and-islands over d09's windows)",
      (spark, dir) => {
        import spark.implicits._
        // d09 reports HOW MUCH of each doc is duplicated; the removal
        // pass needs WHERE. Each 8-word window position whose text
        // appears in >= 2 distinct docs is "covered"; consecutive
        // covered positions merge into one maximal interval
        // [start, start_of_last + 7] (1-based word indices) — the
        // exact-substring cut list of Lee et al. §4, per doc. Plan:
        // positional windows are built inside the scan projection (no
        // shuffle), the dup-window set is one distinct + count >= 2 on
        // the window key, membership is a semi-join on that key, and
        // islands are one window function partitioned by doc_id — the
        // per-task state is one document's positions. All corpus-sized
        // shuffles are keyed; at 100 TB join on xxhash64(window) so
        // 8-byte keys transit instead of 8-word strings (exact strings
        // kept here — exactness is the oracle's point).
        dupSpanIslands(Ops.fanOutSmallScan(Tables.load(spark, dir, "documents"))
            .withColumn("wd", expr(wordsExpr)))
          .select($"doc_id", $"st".cast("int").as("span_start"),
            $"en".cast("int").as("span_end"), $"n_windows")
          .orderBy($"doc_id", $"span_start")
      },
      Some("""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
          FROM documents),
        pos0 AS (SELECT doc_id, unnest(generate_series(1, len(wd) - 7)) AS p, wd
          FROM w WHERE len(wd) >= 8),
        pos AS (SELECT doc_id, p, array_to_string(wd[p:p+7], ' ') AS s FROM pos0),
        dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM pos)
          GROUP BY s HAVING COUNT(*) >= 2),
        dp AS (SELECT doc_id, p,
            p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
          FROM pos WHERE s IN (SELECT s FROM dup))
        SELECT doc_id, CAST(MIN(p) AS INT) AS span_start,
          CAST(MAX(p) + 7 AS INT) AS span_end,
          CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM dp GROUP BY doc_id, grp
        ORDER BY doc_id, span_start""")
    ),

    Q(
      "d18_span_removal",
      "Exact-substring removal: rebuild every doc with its duplicated spans CUT (d17's intervals applied)",
      (spark, dir) => {
        import spark.implicits._
        // The step that actually edits the corpus: d17 finds the
        // maximal duplicated word intervals; this cuts them and
        // re-emits the cleaned text (Lee et al.'s dedup transform,
        // not just its report). Interval application is an anti-join
        // of word positions against the island ranges — equi on
        // doc_id with the BETWEEN residual, so it plans as a keyed
        // join (islands per doc are few), never a cartesian; the
        // rebuild is one doc-keyed sort_array(collect_list) — at
        // 100 TB each group is ONE document's words, bounded by doc
        // length like every per-doc agg here. Docs fully covered by
        // duplication come back empty (n_kept=0), short docs (<8
        // words, no windows) come back untouched.
        val docs = Tables.load(spark, dir, "documents")
          .withColumn("wd", expr(wordsExpr))
        val islands = dupSpanIslands(docs).select($"doc_id", $"st", $"en")
        val words = docs.select($"doc_id", posexplode($"wd").as(Seq("p0", "wrd")))
          .select($"doc_id", ($"p0" + 1).as("p"), $"wrd")
        val kept = words.as("w").join(islands.as("i"),
            $"w.doc_id" === $"i.doc_id" && $"w.p" >= $"i.st" && $"w.p" <= $"i.en",
            "left_anti")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_kept"),
            array_join(expr("transform(array_sort(collect_list(struct(p, wrd))), x -> x.wrd)"), " ")
              .as("clean_text"))
        docs.select($"doc_id", size($"wd").cast("long").as("n_words"))
          .join(kept, Seq("doc_id"), "left")
          .select($"doc_id", $"n_words",
            coalesce($"n_kept", lit(0L)).as("n_kept"),
            coalesce($"clean_text", lit("")).as("clean_text"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
          FROM documents),
        pos0 AS (SELECT doc_id, unnest(generate_series(1, len(wd) - 7)) AS p, wd
          FROM w WHERE len(wd) >= 8),
        pos AS (SELECT doc_id, p, array_to_string(wd[p:p+7], ' ') AS s FROM pos0),
        dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM pos)
          GROUP BY s HAVING COUNT(*) >= 2),
        dp AS (SELECT doc_id, p,
            p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
          FROM pos WHERE s IN (SELECT s FROM dup)),
        islands AS (SELECT doc_id, MIN(p) AS st, MAX(p) + 7 AS en
          FROM dp GROUP BY doc_id, grp),
        words AS (SELECT doc_id, unnest(wd) AS wrd,
          unnest(generate_series(1, len(wd))) AS p FROM w),
        kept AS (SELECT wo.doc_id, wo.p, wo.wrd FROM words wo
          WHERE NOT EXISTS (SELECT 1 FROM islands i
            WHERE i.doc_id = wo.doc_id AND wo.p BETWEEN i.st AND i.en)),
        agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
          string_agg(wrd, ' ' ORDER BY p) AS clean_text
          FROM kept GROUP BY doc_id)
        SELECT w.doc_id AS doc_id, CAST(len(w.wd) AS BIGINT) AS n_words,
          COALESCE(a.n_kept, 0) AS n_kept,
          COALESCE(a.clean_text, '') AS clean_text
        FROM w LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id""")
    ),

    Q(
      "d19_decontam_bloom",
      "d16's decontamination through the Bloom-prefiltered membership probe — the past-broadcast-capacity eval-universe path, value-identical",
      (spark, dir) => {
        import spark.implicits._
        // d16's scaladoc names the scale path ("past broadcast
        // capacity the O25 bloomSemiJoin slots in on the same key") —
        // this query value-gates that path under d16's OWN oracle:
        // the Bloom filter prefilters the corpus-sized exploded
        // shingle stream (codegen'd might_contain, no shuffle), the
        // exact semi-join on survivors restores exact semantics, so
        // bloom-then-verify must be bit-identical to broadcast
        // semi-join. Same corpus split as d16 (eval = doc_id % 10).
        // fpp pinned (not the 0.03 default) so the gated artifact is
        // insensitive to a future default change.
        val docs = Tables.load(spark, dir, "documents")
        decontaminateAtScale(
            docs.where($"doc_id" % 10 =!= 0),
            docs.where($"doc_id" % 10 === 0),
            fpp = 0.01)
          .orderBy($"doc_id")
      },
      Some(sqlDecontamOracle)
    ),

    Q(
      "d21_cross_source_dup",
      "Cross-SOURCE near-duplicate matrix: per source pair, how many verified near-dup pairs span them",
      (spark, dir) => {
        import spark.implicits._
        // The curation question behind every multi-source mix: "how
        // much of source A is already in source B" (CC-vs-C4-style
        // overlap) — it decides which source to drop, dedup against,
        // or down-weight (t15's mix weights assume it's known). Same
        // machinery as d02 (banded candidates, exact-Jaccard >= 0.4
        // verify), then each verified pair is credited to its
        // UNORDERED source pair (least/greatest — a pair spanning
        // src3→src7 and one spanning src7→src3 are the same cell);
        // within-source pairs keep the diagonal (a = b), which is the
        // self-dup rate the off-diagonal cells are read against. At
        // 100 TB nothing here adds to d02's cost profile: one
        // banded equi-join for candidates, verify on collisions only,
        // and the matrix agg is |sources|² rows — driver-trivial.
        val docs = Tables.load(spark, dir, "documents")
        val src = docs.select($"doc_id", $"source")
        // d02's candidate+verify path verbatim — since round 13 that
        // is the pairwise array_intersect verify (minhashLshAtScale):
        // banded equi-join candidates, per-pair intersect on the two
        // shingle arrays, no posting self-join anywhere. The old
        // restricted-posting verify was quadratic inside a hot
        // shingle's candidate posting and amplified under driver-env
        // shuffle contention (the round-12 3.78x bench breach —
        // diagnosis in docs/SCALING.md).
        val pairs = minhashLshAtScale(docs).select($"id_a", $"id_b")
        pairs
          .join(src.select($"doc_id".as("id_a"), $"source".as("sa")), "id_a")
          .join(src.select($"doc_id".as("id_b"), $"source".as("sb")), "id_b")
          .select(least($"sa", $"sb").as("src_a"), greatest($"sa", $"sb").as("src_b"))
          .groupBy($"src_a", $"src_b")
          .agg(count(lit(1)).cast("long").as("n_pairs"))
          .orderBy($"src_a", $"src_b")
      },
      Some(s"""$sqlCandCtes,
        sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        pairs AS (SELECT pa.doc_id AS id_a, pb.doc_id AS id_b, COUNT(*) AS c
          FROM post pa JOIN post pb ON pa.s = pb.s AND pa.doc_id < pb.doc_id
          GROUP BY 1, 2),
        verified AS (SELECT cd.id_a, cd.id_b
          FROM cands cd
          JOIN pairs p ON p.id_a = cd.id_a AND p.id_b = cd.id_b
          JOIN sizes sa ON sa.doc_id = cd.id_a
          JOIN sizes sb ON sb.doc_id = cd.id_b
          WHERE CAST(p.c AS DOUBLE) / (sa.n + sb.n - p.c) >= 0.4)
        SELECT LEAST(da.source, db.source) AS src_a,
          GREATEST(da.source, db.source) AS src_b,
          CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM verified v
        JOIN documents da ON da.doc_id = v.id_a
        JOIN documents db ON db.doc_id = v.id_b
        GROUP BY 1, 2 ORDER BY src_a, src_b""")
    ),

    Q(
      "d22_leakage_safe_split",
      "Leakage-safe train/val/test split: near-dup clusters never straddle split boundaries",
      (spark, dir) => {
        import spark.implicits._
        // A random per-DOC split leaks: a near-duplicate pair lands
        // one copy in train and one in test, and the eval measures
        // memorization. The correct unit of assignment is the dup
        // CLUSTER — d06's connected components over verified
        // exact-Jaccard >= 0.4 pairs — with singletons as their own
        // cluster. Split = portable 60-bit hash of cluster_id#seed
        // mod 100 (< 80 train, < 90 val, else test): deterministic,
        // engine-replayable, and leakage-free BY CONSTRUCTION (the
        // split is a pure function of cluster_id). Cluster labels
        // are min-member doc_ids and singleton labels their own
        // doc_id, so label groups stay disjoint. At 100 TB this adds
        // exactly one doc_id-keyed left join + one hash to d06's
        // cost: the pair list is the posting equi-join, CC is
        // O(log n) keyed rounds, and the label frame (one row per
        // non-singleton doc) joins back on the same key the corpus
        // is already hashed on. No window, no driver state.
        // Round 11: pair generation routed through the banded
        // candidates (d21's shape verbatim) instead of the brute
        // all-pairs posting join — same verify threshold, postings
        // restricted to candidate docs, so the cost profile is
        // d02's at any corpus size. The ORACLE replays the same
        // banding, so a borderline pair the bands prune (measured:
        // 1 of 256 at sf0.1, 0 at sf0.01/sf0.001) is pruned on both
        // engines — cluster semantics stay engine-pinned, and the
        // leakage guarantee is "no LSH-caught near-dup pair
        // straddles", the guarantee every production LSH dedup
        // actually provides. Round 12: the candidate→verify→CC
        // derivation lives in [[dupClusterAssign]], shared verbatim
        // with d23 and the DataPipeline cells, so the "same cluster
        // unit" contract can no longer drift at the source level.
        leakageSplit(dupClusterAssign(Tables.load(spark, dir, "documents")))
          .select($"doc_id", $"cluster_id", $"split")
          .orderBy($"doc_id")
      },
      Some(s"""$d22OracleCtes,
        assigned AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
        b AS (SELECT doc_id, cluster_id,
          ${graft.functions.PortableHash.sqlHash60("CAST(cluster_id AS VARCHAR) || '#split7'")} % 100 AS bk
          FROM assigned)
        SELECT doc_id, cluster_id,
          CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val' ELSE 'test' END AS split
        FROM b ORDER BY doc_id""")
    ),

    Q(
      "d23_dup_weights",
      "Soft dedup: per-doc training weight 1e6/cluster_size instead of dropping duplicates",
      (spark, dir) => {
        import spark.implicits._
        // Hard dedup (keep one representative per cluster) throws
        // away signal when data is the constraint: the
        // data-constrained-scaling result is to DOWNWEIGHT repeats,
        // not drop them — each near-dup cluster contributes one
        // document's worth of gradient mass spread over its members.
        // weight_ppm = 1_000_000 div n_members (exact int64 floor
        // division, identical in Spark `div` and DuckDB `//`;
        // singletons = 1_000_000) — the sampler multiplies by ppm
        // and the fp never enters the gated frame. Cluster = d22's
        // unit exactly (banded minhash candidates -> exact
        // Jaccard >= 0.4 verify -> star CC; singletons their own
        // cluster), so the weight column composes with the
        // leakage-safe split on the SAME cluster ids at zero extra
        // cost: at 100 TB this adds one map-side-combined size agg
        // (one row per cluster) and one doc_id-keyed broadcast-able
        // join to machinery d22 already runs — [[dupClusterAssign]]
        // IS d22's machinery, called verbatim. No window, no driver
        // state.
        dupWeights(dupClusterAssign(Tables.load(spark, dir, "documents")))
          .select($"doc_id", $"cluster_id", $"n_members", $"weight_ppm")
          .orderBy($"doc_id")
      },
      Some(s"""$d22OracleCtes,
        assigned AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
        csize AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM assigned GROUP BY cluster_id)
        SELECT a.doc_id, a.cluster_id, c.n_members,
          CAST(1000000 // c.n_members AS BIGINT) AS weight_ppm
        FROM assigned a JOIN csize c ON c.cluster_id = a.cluster_id
        ORDER BY a.doc_id""")
    )
  )

  /** The d22/d23 cluster unit, extracted once so the leakage-safe
    * split, the soft-dedup weights, and any pipeline composing them
    * derive from the SAME clusters by construction (a spec pins the
    * parity; sharing the code makes it unbreakable at the source
    * level): banded minhash candidates (X8 band keys — never an
    * all-pairs posting join), postings restricted to candidate docs,
    * exact Jaccard >= 0.4 verify, star-contraction connected
    * components, singletons labeled by their own doc_id. One row per
    * input doc: (doc_id, cluster_id). At 100 TB the cost profile is
    * d02's: every join is band/doc_id-keyed, CC is O(log n) keyed
    * rounds, and the label frame is one row per non-singleton doc.
    */
  def dupClusterAssign(docs: DataFrame): DataFrame = {
    // Round 13: verified pairs come from the pairwise
    // array_intersect verify (the O13 scale path) — the former
    // restricted-posting self-join was quadratic within one hot
    // shingle's candidate posting (docs/SCALING.md round 13);
    // value-identical, spec-pinned in DedupScaleSpec, which keeps the
    // posting form as its reference.
    val pairs = minhashLshAtScale(docs).select(col("id_a"), col("id_b"))
    val labels = Clustering.connectedComponentsStar(pairs, "id_a", "id_b",
      idOut = "doc_id", labelOut = "cluster_id")._1
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
  }

  /** d22's split rule over a (doc_id, cluster_id) assignment: a pure
    * function of cluster_id (portable 60-bit hash of
    * `cluster_id#seed` mod 100), so no near-dup pair the clustering
    * caught can straddle a boundary — leakage-free BY CONSTRUCTION,
    * deterministic, engine-replayable. Adds `split`.
    */
  def leakageSplit(assigned: DataFrame, seed: String = "split7",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = pmod(
      graft.functions.PortableHash.hash60(
        concat(col("cluster_id").cast("string"), lit("#" + seed))),
      lit(100L))
    assigned.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** d23's soft-dedup weights over a (doc_id, cluster_id) assignment:
    * weight_ppm = 1_000_000 div cluster size (exact int64 floor
    * division; singletons = 1_000_000) — each cluster contributes one
    * document's worth of sampling mass spread over its members. Adds
    * `n_members` and `weight_ppm`; one map-side-combined size agg +
    * one cluster_id-keyed join.
    */
  def dupWeights(assigned: DataFrame): DataFrame = {
    val csize = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"))
    assigned.join(csize, "cluster_id")
      .withColumn("weight_ppm", expr("1000000L div n_members"))
  }

  /** The exact-Jaccard>=0.4 duplicate pair list (d04's verified
    * pairs) and the shared d06/d08 cluster query over them.
    */
  private def clusterQuery(spark: SparkSession, dir: String, star: Boolean): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccardAtScale(Tables.load(spark, dir, "documents"), 0.4, None)
      .select($"id_a", $"id_b")
    val labels =
      if (star) Clustering.connectedComponentsStar(pairs, "id_a", "id_b",
        idOut = "doc_id", labelOut = "cluster_id")._1
      else Clustering.connectedComponents(pairs, "id_a", "id_b",
        idOut = "doc_id", labelOut = "cluster_id")
    val win = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
    labels
      .withColumn("n_members", count(lit(1)).over(win).cast("long"))
      .orderBy($"doc_id")
  }

  /** Recursive-CTE DuckDB oracle shared by d06 and d08 (the two CC
    * algorithms must produce identical clusters). Lazy: declared
    * after `all`, which captures it during object init.
    */
  /** CTE prefix (through `cl`: doc_id → cluster_id) shared by the
    * d06/d08 cluster oracles and d12's canonical selection.
    */
  private lazy val d06OracleCtes: String = {
    val ctes = sqlShingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$ctes,
        sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        pc AS (SELECT pa.doc_id AS id_a, pb.doc_id AS id_b, COUNT(*) AS c
          FROM post pa JOIN post pb ON pa.s = pb.s AND pa.doc_id < pb.doc_id
          GROUP BY 1, 2),
        pairs AS (SELECT pc.id_a, pc.id_b FROM pc
          JOIN sizes sa ON sa.doc_id = pc.id_a
          JOIN sizes sb ON sb.doc_id = pc.id_b
          WHERE CAST(pc.c AS DOUBLE) / (sa.n + sb.n - pc.c) >= 0.4),
        sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        cl AS (SELECT n.src AS doc_id, LEAST(n.src, MIN(r.dst)) AS cluster_id
          FROM (SELECT DISTINCT src FROM sym) n
          LEFT JOIN reach r ON r.src = n.src GROUP BY n.src)"""
  }

  private lazy val d06OracleSql: String =
    s"""$d06OracleCtes
        SELECT doc_id, cluster_id,
          CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        FROM cl ORDER BY doc_id"""

  /** d22's cluster CTE prefix: the SAME recursive-CC replay as
    * [[d06OracleCtes]], but with pair generation routed through the
    * banded minhash candidates (sqlCandCtes) exactly as the Spark
    * side now does — so a borderline pair the bands prune is pruned
    * on BOTH engines at every scale, and the cluster/split contract
    * stays value-pinned (list_intersect over the distinct shingle
    * lists equals the restricted-posting pair count).
    */
  private lazy val d22OracleCtes: String = {
    val ctes = sqlCandCtes.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$ctes,
        pairs AS (SELECT cd.id_a, cd.id_b
          FROM cands cd
          JOIN sh sa ON sa.doc_id = cd.id_a
          JOIN sh sb ON sb.doc_id = cd.id_b
          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
            (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.4),
        sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        cl AS (SELECT n.src AS doc_id, LEAST(n.src, MIN(r.dst)) AS cluster_id
          FROM (SELECT DISTINCT src FROM sym) n
          LEFT JOIN reach r ON r.src = n.src GROUP BY n.src)"""
  }
}
