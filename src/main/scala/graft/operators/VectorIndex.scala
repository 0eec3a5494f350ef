package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, IntegerType}
import Clustering.{coarse, l2q, lloyd, nearest, subspaces, withQuantized}

/** The trained IVF+PQ ANN index, one implementation per lifecycle
  * step: train ([[trainIvfPq]] over [[Clustering]]'s Lloyd and
  * nearest-centroid assignment), encode ([[pqEncode]]), lay out the
  * cell-partitioned stores ([[cellStores]]), route a probe to its cells
  * ([[route]]), rank candidates by ADC ([[adcTopK]]) and maintain the
  * stored layout (tombstones, compaction).
  */
object VectorIndex {

  /** Product-quantization top-k ANN (s04's library form). Encodes the
    * corpus once as `m` one-byte codes (argmin squared-L2 against the
    * per-subspace slices of `centroids`), then ranks candidates by
    * asymmetric distance computation: a broadcast (probe, subspace,
    * code) → distance table joined to the code table and summed.
    * After encoding, the corpus side of every shuffle carries only
    * small ints — no float arrays — which is what makes PQ the
    * memory-bound 100 TB path (4 bytes/vector here vs 256 for raw
    * floats). Distances are nano-scaled BIGINTs (order-independent
    * sums). Columns in/out follow the cosineTopK contract; `adc_q`
    * is the scaled ADC distance (ascending = nearest).
    */
  def pqTopK(
      probes: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      probeId: String,
      probeVec: String,
      corpusId: String,
      corpusVec: String,
      centroidId: String,
      centroidVec: String,
      m: Int,
      subDim: Int,
      k: Int
  ): DataFrame = {
    val dim = m * subDim
    val books = subspaces(centroids.select(col(centroidId).as("_cid"), col(centroidVec).as("_cs")),
      m, dim, "_cs")
    val codes = pqEncode(corpus.select(col(corpusId).as("n_id"), col(corpusVec).as("_x")),
      books, m, dim)
    val dtab = adcTable(probes.select(col(probeId).as("p_id"), col(probeVec).as("pe")),
      books, m, dim)
    val w = Window.partitionBy(col("p_id")).orderBy(col("adc_q").asc, col("n_id"))
    codes.join(broadcast(dtab), Seq("m", "code"))
      .where(col("n_id") =!= col("p_id"))
      .groupBy(col("p_id"), col("n_id")).agg(sum(col("_dq")).as("adc_q"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .select(col("p_id").as(probeId), col("rn"), col("n_id").as(corpusId), col("adc_q"))
  }

  /** O27: IVF+PQ with TRAINED quantizers end-to-end — closes s06's
    * "trained centroids slot in unchanged" claim by actually
    * composing them: coarse cells come from [[Clustering.kmeansAssign]] (and
    * probes rank against ITS [[Clustering.kmeansCentroids]] frame), PQ codes
    * from [[Clustering.pqCodebooks]]; the query plan downstream of training is
    * s06's exactly — candidate generation joins cell ids, ranking
    * joins int codes against the broadcast per-probe distance table,
    * no float array transits a shuffle after encoding.
    *
    * The corpus-sized artifacts (cells = the inverted lists, codes =
    * the PQ code table) are localCheckpoint-ed: that IS the IVFPQ
    * index build — paid once, stored, probed cheaply — and it lets
    * the internal vector cache be unpersisted here instead of leaking.
    * Output: (p_id, rn, n_id, adc_q) — probe, rank, neighbor id,
    * nano-scaled integer ADC distance.
    */
  def ivfPqTrained(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      k: Int = 8,
      nprobe: Int = 2,
      m: Int = 4,
      kSub: Int = 8,
      iters: Int = 2,
      dim: Int = 64,
      topK: Int = 5,
      refine: Int = 0
  ): DataFrame = {
    // ONE quantization pass feeds every trained artifact: running
    // kmeansAssign, kmeansCentroids and pqCodebooks separately would
    // train the identical coarse Lloyd twice and re-quantize the
    // corpus three times — at 100 TB that's two wasted full-corpus
    // training sweeps. Every artifact is checkpointed EAGERLY while
    // the quantized corpus is still cached: a lazy checkpoint would
    // only materialize at the caller's terminal action — after the
    // release — recomputing the quantization once per artifact.
    val (cells, cents, books, codes) = withQuantized(corpus, idCol, vecCol) { ev =>
      val t = trainIvfPq(ev, k, m, kSub, iters, dim)
      (t.cells.graftCheckpointEager, t.cents.graftCheckpointEager, t.books,
        t.codes.graftCheckpointEager)
    }
    // probes rank the TRAINED centroids for their nprobe cells
    val p = probes.select(col(probeIdCol).as("p_id"), col(probeVecCol).as("pe"))
    val probeCells = route(p, cents, nprobe, cents.schema("_cid").dataType)
    // candidates from probed cells only; deliberately un-hinted (the
    // s06 rule: this side grows with nprobe x cell size — AQE sizes it)
    val candIds = cells.join(broadcast(probeCells), Seq("cell"))
      .where(col("n_id") =!= col("p_id"))
      .select(col("p_id"), col("n_id")).distinct()
    adcTopK(codes.join(candIds, Seq("n_id")), p, adcTable(p, books, m, dim), topK, refine,
      corpus.select(col(idCol).as("n_id"), col(vecCol).as("_ne")))
  }

  /** A persisted trained-IVFPQ index (see [[writeAnnIndex]]), every
    * frame read from ONE epoch: `lists` — the inverted lists, (cell,
    * n_id, m, code), stored hive-partitioned BY CELL so a probe reads
    * only its nprobe cells' directories; `centroids` — the k trained
    * coarse rows; `codebooks` — the m·k trained subspace rows;
    * `vectors` — the raw-vector store (cell, n_id, vec), also
    * hive-partitioned by cell, backing [[probeAnnIndex]]'s
    * exact-rerank `refine` mode (the FAISS IndexRefineFlat posture —
    * ADC codes prune, stored floats re-rank the shortlist); `sigs` —
    * the optional O46 sign-sketch sidecar (cell, n_id, sig), 8
    * bytes/vector a binary probe ([[probeSignIndex]]) scans before
    * floats move.
    */
  final case class AnnIndex(
      lists: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      vectors: DataFrame,
      sigs: Option[DataFrame] = None) {

    /** Index-side statistics for [[probeAnnIndex]]'s auto-refill,
      * cached on the handle so repeated probes against one index pay
      * the two counting jobs once, not per call (the stored frames
      * are immutable per epoch — a handle re-read after compaction
      * or append recounts).
      */
    lazy val listRowCount: Long = lists.count()
    lazy val centroidCount: Long = centroids.count()
  }

  /** O29: persist the trained IVFPQ index — the O24 band-index
    * production pattern applied to ANN. Training cost (the s07
    * pipeline: one quantization pass, coarse Lloyd, subspace Lloyd,
    * encode) is paid ONCE at write time; the stored artifact is what
    * every real ANN service ships: inverted lists of (4-byte codes)
    * partitioned by coarse cell, plus the two tiny quantizer frames,
    * plus the cell-partitioned raw vectors backing refined probes and
    * the binary probe's rerank. Day-2 queries and day-2 inserts
    * ([[probeAnnIndex]], [[appendAnnIndex]]) never retrain; an
    * UNREFINED probe never touches float arrays of the corpus, and a
    * refined one reads floats only from its nprobe cell directories.
    *
    * Layout: ONE versioned root, `path/_CURRENT → path/vNNNNN/
    * {centroids, codebooks, lists, vectors[, sigs]}`, published by
    * one [[IndexLayout.rewrite]] — readers can never pair new
    * quantizers with old lists, and a write that fails publishes
    * nothing. An empty corpus raises before training.
    */
  def writeAnnIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      k: Int = 8,
      m: Int = 4,
      kSub: Int = 8,
      iters: Int = 2,
      dim: Int = 64,
      storeSigs: Boolean = false
  ): Unit = withQuantized(corpus, idCol, vecCol) { ev =>
    require(!ev.isEmpty, "writeAnnIndex: the corpus is empty — refusing to publish an " +
      "unreadable epoch; guard upstream")
    val t = trainIvfPq(ev, k, m, kSub, iters, dim)
    IndexLayout.rewrite(ev.sparkSession, path, keep = 1) { (_, next) =>
      val sink = graft.sinks.RoutedSink.standard()
      sink.write(s"parquet:$next/centroids", t.cents)
      sink.write(s"parquet:$next/codebooks", t.books)
      cellStores(t.cells, t.codes, ev.select(col("_id").as("n_id"), col("_x")), storeSigs)
        .foreach { case (store, rows) => sink.write(s"parquet:$next/$store:by:cell", rows) }
    }
  }

  /** Read an index persisted by [[writeAnnIndex]]. The manifest is
    * resolved once here, so every frame comes from the latest
    * published epoch; a path with no published epoch raises.
    *
    * The `cell` partition column keeps its INFERRED type (int when the
    * stored ids are small) instead of being cast to long: a Cast at
    * the scan would run on every stored row a probe reads, and its
    * probe→cell join key would no longer be the raw partition
    * attribute. The probes cast their side instead — the routing
    * table (probes × nprobe rows, broadcast) and the `cell IN (...)`
    * literals take the stored type, where a cast costs nothing.
    *
    * Pending tombstones ([[tombstoneAnnIndex]]) are masked
    * immediately via an anti-join on n_id — a deleted vector never
    * surfaces as a neighbor even before compaction applies the
    * deletion. The probes KEEP their static partition pruning during
    * the pending window (the cell isin filter pushes through the
    * anti-join's left side down to the scan).
    */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String): AnnIndex = {
    val dir = IndexLayout.currentVersion(spark, path).map(v => s"$path/$v").getOrElse(
      sys.error(s"readAnnIndex: no epoch published at $path"))
    val tombstoned = IndexLayout.hasTombstones(spark, path)
    def masked(rows: DataFrame): DataFrame =
      if (!tombstoned) rows
      else rows.join(IndexLayout.readTombstones(spark, path, "n_id"), Seq("n_id"), "left_anti")
    def rows(store: String, cols: String*): DataFrame =
      spark.read.parquet(s"$dir/$store").select(cols.map(col): _*)
    AnnIndex(
      masked(rows("lists", "cell", "n_id", "m", "code")),
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebooks"),
      // no tombstone anti-join on the raw vectors: refined candidates
      // derive from the MASKED lists, so a deleted vector can never
      // re-enter via the vectors join; compaction still reclaims its
      // vector rows
      rows("vectors", "cell", "n_id", "vec"),
      // the sigs ARE masked: the binary probe derives its candidate
      // stream from them directly, not from the masked lists; they
      // are present iff their epoch directory exists
      Option.when(IndexLayout.exists(spark, s"$dir/sigs"))(
        masked(rows("sigs", "cell", "n_id", "sig"))))
  }

  /** Allow-lists with at most this many distinct ids get a broadcast
    * hint in [[probeAnnIndex]]'s semi-join; larger ones are left to
    * the optimizer (a 4M-id hashed relation is tens of MB — safely
    * driver-resident; a corpus-scale list is not).
    */
  private[operators] val ProbeAllowBroadcastMax = 4L << 20

  /** Most probes [[probeSignIndex]] collects to the driver (the probe
    * batch, vectors included, becomes a local relation).
    */
  private[operators] val ProbeRouteOnDriverMax = 1 << 16

  /** O29: rank a probe batch against the STORED index — identical
    * integer-ADC values to [[ivfPqTrained]] (AnnIndexSpec pins row
    * equality), but the corpus appears only through its stored lists,
    * and a probe touches O(nprobe · list length) stored rows, never
    * the index: the probe→cell routing table — AT MOST probes ×
    * nprobe rows against a k-row centroid frame, the bounded-batch
    * ingestion contract — is collected as its distinct cells (at most
    * k rows) and the probed cells pushed into the lists scan as
    * PARTITION-KEY LITERALS, so the hive layout statically prunes to
    * exactly those directories (AnnIndexSpec measures ≤ nprobe of k
    * read). This is how every real ANN service routes: the coarse
    * quantizer is driver/router-resident by design, and the routing
    * collect is bounded by the cell count — a routing table, not
    * data (the rankGlobal-offsets class of driver state, NOT a
    * corpus-sized collect).
    */
  def probeAnnIndex(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      index: AnnIndex,
      nprobe: Int = 2,
      m: Int = 4,
      dim: Int = 64,
      topK: Int = 5,
      refine: Int = 0,
      allowedIds: Option[DataFrame] = None,
      autoScaleFiltered: Boolean = true,
      allowedIdsCount: Option[Long] = None
  ): DataFrame = {
    val p = probes.select(col(probeIdCol).as("p_id"), col(probeVecCol).as("pe"))
    // O41 auto-refill: a predicate keeping fraction f of the corpus
    // leaves ~f of each cell's candidates, so holding recall needs
    // nprobe (and refine) scaled ~1/f — previously documented
    // guidance the caller had to apply by hand. f derives from two
    // cheap aggregates: the allow-list's distinct id count vs the
    // index's id count (list rows / m — replay duplicates inflate
    // both sides of nothing that matters for a knob). nprobe is
    // capped at the cell count, refine at the allow-list size (a
    // shortlist can't exceed the eligible ids). Pass
    // autoScaleFiltered = false to pin the knobs (e.g. a
    // latency-bound serving path that pre-tuned them) — the call then
    // never counts the allow-list: its only job is the routing
    // collect, as for an unfiltered probe (round-11 fix; previously
    // the distinct count ran regardless). The index-side
    // counts are cached on the [[AnnIndex]] handle, so even the
    // auto path pays them once per handle, not once per call. A
    // caller that knows its allow-list cardinality passes
    // `allowedIdsCount` and skips the distinct count on the auto
    // path too.
    val allowN: Option[Long] = allowedIds match {
      case Some(allow) if autoScaleFiltered =>
        Some(allowedIdsCount.getOrElse(allowIds(allow).distinct().count()))
      case _ => allowedIdsCount
    }
    val (effNprobe, effRefine) = allowN match {
      case Some(n) if autoScaleFiltered && n > 0 =>
        val idxN = math.max(1L, index.listRowCount / m)
        val f = math.min(1.0, n.toDouble / idxN)
        val nCells = index.centroidCount.toInt
        val np = math.min(nCells.toLong, math.ceil(nprobe / f).toLong).toInt
        val rf =
          if (refine <= 0) refine
          else math.min(n, math.ceil(refine / f).toLong).toInt
        (np, rf)
      case _ => (nprobe, refine)
    }
    val cellType = index.lists.schema("cell").dataType
    val probeCells = route(p, index.centroids, effNprobe, cellType)
    val cells = cellLiterals(probeCells.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq, cellType)
    // Replay guard: an at-least-once re-run of appendAnnIndex (or a
    // replayed appendAnnIndexStream micro-batch) leaves EXACT
    // duplicate (cell, n_id, m, code) rows in the stored lists. The
    // band-index probe is naturally immune (it distincts candidate
    // pairs); here a duplicated row would double-count that
    // subspace's distance in the ADC sum and silently corrupt the
    // ranking. Distinct AFTER the probe-cell join so the scan stays
    // pruned first (cell directories via isin literals) — the dedup
    // shuffle is bounded by matched candidates, never the index.
    // Duplicates are permanently reclaimed by [[compactAnnIndex]].
    // O41: FILTERED search — the attribute-constrained probe every
    // serving system eventually needs ("neighbors among docs passing
    // this predicate"). PRE-filter semantics: the allow-list
    // semi-joins the candidate stream BEFORE ADC ranking, so the
    // top-k is taken over allowed candidates only (post-filtering a
    // fixed-k result silently starves selective predicates); see
    // [[allowOnly]] for when the allow-list side is broadcast.
    // Selectivity eats candidates — see the auto-refill note above;
    // the spec measures the trade on the stored index.
    val cand = allowOnly(inCells(index.lists, cells).join(broadcast(probeCells), Seq("cell")),
      allowedIds, allowN)
      .where(col("n_id") =!= col("p_id"))
      .select(col("p_id"), col("n_id"), col("m"), col("code")).distinct()
    // a refined probe re-ranks against the STORED raw vectors, with
    // the same cell routing as the lists — floats are read only from
    // the nprobe cell directories. Tombstoned ids can't resurface:
    // the shortlist comes from the masked lists.
    adcTopK(cand, p, adcTable(p, index.codebooks, m, dim), topK, effRefine,
      inCells(index.vectors, cells).select(col("n_id"), col("vec").as("_ne")).distinct())
  }

  /** O46: binary-quantized FILTERED probe against the stored index —
    * the s10 sign-sketch coarse pass composed with O41's pre-filter
    * semantics, on the persisted layout. The candidate stream is the
    * sigs sidecar of the nprobe routed cells (8 bytes/vector read,
    * statically pruned exactly like the lists), the allow-list
    * semi-joins it BEFORE ranking (pre-filter: top-k over allowed
    * candidates only; hint only when the known cardinality fits —
    * the O41 rule), the coarse rank is popcount Hamming on the
    * 60-bit packs (floats never move), and only the top-M survivors
    * per probe join the cell-pruned vectors store for the exact
    * cosine rerank — a probes x M bounded join. At 100 TB: coarse
    * bytes = 8/vector of nprobe cells, rerank floats = probes x M
    * rows; nothing corpus-scaled shuffles. With nprobe = k (all
    * cells) the result equals the in-query s12 composition
    * row-for-row (AnnIndexSpec pins it); recall vs the exact
    * filtered answer is spec-floored on both paths.
    */
  def probeSignIndex(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      index: AnnIndex,
      nprobe: Int = 2,
      hammingTopM: Int = 50,
      topK: Int = 5,
      allowedIds: Option[DataFrame] = None,
      allowedIdsCount: Option[Long] = None
  ): DataFrame = {
    require(index.sigs.nonEmpty,
      "probeSignIndex needs an index written with storeSigs=true")
    val p0 = probes.select(col(probeIdCol).as("p_id"), col(probeVecCol).as("pe"),
      graft.functions.GraftExpressions.signPack60(col(probeVecCol)).as("psig"))
    // probe→cell routing as in probeAnnIndex (driver-resident coarse
    // quantizer, bounded probes x nprobe routing table pushed as
    // partition-key literals). The probe BATCH is materialized once
    // into a LOCAL relation: the routing already collects a
    // probes-bounded table, and re-evaluating the probe sub-plan
    // (scan + sort-limit + sign-pack) once per broadcast build PLUS
    // once for the routing collect, with the probe→cell window inside
    // the main plan, cost s15 ~1/3 of its stage-jobs. Local relations
    // broadcast without a job. Bounded by the probe batch.
    import scala.jdk.CollectionConverters._
    val spark = probes.sparkSession
    val cellType = index.sigs.get.schema("cell").dataType
    // loud bound on the driver-side probe batch: one row past the
    // bound is enough to refuse, never the whole batch
    val probeRows = p0.limit(ProbeRouteOnDriverMax + 1).collect()
    require(probeRows.length <= ProbeRouteOnDriverMax,
      "probeSignIndex collects the probe batch to the driver: " +
        s"more than $ProbeRouteOnDriverMax probes — split the batch")
    val p = spark.createDataFrame(probeRows.toSeq.asJava, p0.schema)
    val routed = route(p, index.centroids, nprobe, cellType)
    val cellRows = routed.collect()
    val probeCells = spark.createDataFrame(cellRows.toSeq.asJava, routed.schema)
    val cells = cellLiterals(cellRows.map(_.getAs[Number](1).longValue).distinct.toSeq, cellType)
    val cand = inCells(index.sigs.get, cells).join(broadcast(probeCells), Seq("cell"))
      .where(col("n_id") =!= col("p_id"))
      .select(col("p_id"), col("n_id"), col("sig")).distinct() // replayed appends
    val wH = Window.partitionBy(col("p_id")).orderBy(col("hamming"), col("n_id"))
    val survivors = allowOnly(cand, allowedIds, allowedIdsCount)
      .join(broadcast(p.select(col("p_id"), col("psig"))), Seq("p_id"))
      .withColumn("hamming", bit_count(col("psig").bitwiseXOR(col("sig"))).cast("int"))
      // SignPack60 yields null for sub-60-dim vectors → null hamming,
      // and ascending sorts nulls FIRST — a malformed row would crowd
      // real candidates out of the top-M shortlist
      .where(col("hamming").isNotNull)
      .withColumn("hrn", row_number().over(wH))
      .filter(col("hrn") <= hammingTopM)
      .select(col("p_id"), col("n_id"), col("hamming"))
    val vecs = inCells(index.vectors, cells)
      .select(col("n_id"), col("vec").as("_ne")).distinct()
    val wC = Window.partitionBy(col("p_id")).orderBy(col("cosine").desc, col("n_id"))
    broadcast(survivors).join(vecs, Seq("n_id"))
      .join(broadcast(p.select(col("p_id"), col("pe"))), Seq("p_id"))
      .withColumn("cosine", graft.functions.VectorFunctions.cosine("pe", "_ne"))
      .withColumn("rn", row_number().over(wC).cast("int"))
      .filter(col("rn") <= topK)
      .select(col("p_id"), col("rn"), col("n_id"), col("hamming"), col("cosine"))
  }

  /** O29's insert path — the reason real ANN services separate
    * training from serving: day-2 vectors are encoded against the
    * STORED quantizers (one broadcast pass each for cell assignment
    * and codes — no retraining, no corpus access) and their list
    * rows appended into the hive layout, landing only in the cells
    * the new vectors hash to. Probes see them immediately.
    * Periodically retrain + rewrite when drift accumulates — that's
    * [[writeAnnIndex]] again.
    *
    * One [[IndexLayout.appendInto]] covers every store: the quantizers
    * are read from the epoch the rows land in, so an append always
    * encodes against its own epoch's centroids and codebooks, and an
    * append that a publish overtook raises
    * `appendAnnIndex: epoch moved during append`.
    *
    * Replay caveat (same as every file-append sink): a re-run of this
    * call — or an at-least-once replayed
    * [[graft.streaming.Streams.appendAnnIndexStream]] micro-batch —
    * appends its (cell, n_id, m, code) rows AGAIN. [[probeAnnIndex]]
    * distincts candidate rows so rankings stay correct, and the next
    * [[compactAnnIndex]] reclaims the duplicate bytes.
    */
  def appendAnnIndex(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      m: Int = 4,
      dim: Int = 64
  ): Unit = {
    val spark = newVecs.sparkSession
    IndexLayout.appendInto(spark, path, "appendAnnIndex") { dir =>
      val v = newVecs.select(col(idCol).as("n_id"), col(vecCol).as("_x"))
      val cells = nearest(subspaces(v, 1, dim, "_x"), Seq("n_id"), "_x",
          spark.read.parquet(s"$dir/centroids")
            .select(lit(0).as("_m"), col("_cid"), col("_cx").as("_cs")))
        .select(col("n_id"), col("_cell").as("cell"))
      // the raw-vector store, and the sign-sketch store when present,
      // follow the lists (refined and binary probes must see day-2
      // vectors too); replay duplicates are tolerated by the probes'
      // distinct and reclaimed by compactAnnIndex
      val sink = graft.sinks.RoutedSink.standard()
      cellStores(cells, pqEncode(v, spark.read.parquet(s"$dir/codebooks"), m, dim), v,
        IndexLayout.exists(spark, s"$dir/sigs"))
        .foreach { case (store, rows) => sink.write(s"parquet-append:$dir/$store:by:cell", rows) }
    }
  }

  /** Register vectors for DELETION from the persisted ANN index — the
    * takedown/retention path ([[Dedup.tombstoneBandIndex]]'s vector
    * twin). The very next [[readAnnIndex]] masks the ids from every
    * probe; [[compactAnnIndex]] applies them permanently.
    */
  def tombstoneAnnIndex(ids: DataFrame, idCol: String, path: String): Unit =
    IndexLayout.addTombstones(ids, idCol, "n_id", path)

  /** Periodic maintenance for the appended ANN index — the
    * [[Dedup.compactBandIndex]] pattern, as ONE new epoch: each present
    * store (lists, and the raw-vector and sign-sketch stores, which
    * share the tombstone set and replay semantics) goes through
    * [[IndexLayout.KeySetIndex.compactDir]] — one file per cell,
    * replayed append duplicates dropped, the pending tombstones
    * applied — all against ONE snapshot of the tombstone files, and
    * the quantizers are copied into the new epoch unchanged.
    * Tombstones that cover every vector raise and leave the current
    * epoch live.
    */
  def compactAnnIndex(
      spark: SparkSession,
      path: String,
      keepVersions: Int = 1
  ): Unit = {
    val tombFiles = IndexLayout.tombstoneFiles(spark, path)
    IndexLayout.rewrite(spark, path, keepVersions, carryLedger = true) { (cur, next) =>
      val dir = cur.getOrElse(sys.error(s"compactAnnIndex: no epoch published at $path"))
      Seq("lists", "vectors", "sigs").filter(store => IndexLayout.exists(spark, s"$dir/$store"))
        .foreach(store => CellStore.compactDir(spark, s"$dir/$store", s"$next/$store", tombFiles))
      Seq("centroids", "codebooks")
        .foreach(q => IndexLayout.copyDir(spark, s"$dir/$q", s"$next/$q"))
    }
    IndexLayout.deleteTombstoneFiles(spark, path, tombFiles)
  }

  /** The one PQ encoder: each vector of `vecs` (n_id, _x) coded by its
    * nearest codebook entry per subspace — (n_id, m, code).
    */
  private def pqEncode(vecs: DataFrame, books: DataFrame, m: Int, dim: Int): DataFrame =
    nearest(subspaces(vecs, m, dim, "_x"), Seq("n_id"), "_x", books)
      .select(col("n_id"), col("_m").as("m"), col("_cell").as("code"))

  /** Per-probe ADC distance table against the codebooks: (p_id, m,
    * code, _dq), each probe subspace's [[l2q]] to every code.
    */
  private def adcTable(p: DataFrame, books: DataFrame, m: Int, dim: Int): DataFrame =
    subspaces(p.select(col("p_id"), col("pe")), m, dim, "pe")
      .join(broadcast(books), Seq("_m"))
      .select(col("p_id"), col("_m").as("m"), col("_cid").as("code"), l2q("pe", "_cs").as("_dq"))

  /** The one probe→cell routing: each probe's `nprobe` nearest coarse
    * centroids (_cid, _cx), the cell cast to the STORED partition
    * column's type `cellType` on THIS (broadcast) side, so the stored
    * side stays the raw partition attribute (see readAnnIndex's
    * cell-type note).
    */
  private def route(p: DataFrame, centroids: DataFrame, nprobe: Int, cellType: DataType): DataFrame = {
    val w = Window.partitionBy(col("p_id")).orderBy(col("_dq").asc, col("_cid"))
    p.select(col("p_id"), col("pe")).crossJoin(broadcast(centroids))
      .withColumn("_dq", l2q("pe", "_cx"))
      .withColumn("_rnp", row_number().over(w))
      .filter(col("_rnp") <= nprobe)
      .select(col("p_id"), col("_cid").cast(cellType).as("cell"))
  }

  /** Routed cell ids as partition-key literals of the stored cell type. */
  private def cellLiterals(ids: Seq[Long], cellType: DataType): Seq[Any] =
    if (cellType == IntegerType) ids.map(_.toInt) else ids

  /** A cell-partitioned component, statically pruned to the routed
    * cells.
    */
  private def inCells(component: DataFrame, cells: Seq[Any]): DataFrame =
    component.where(col("cell").isin(cells: _*))

  /** An allow-list's ids (its first column) as `n_id`. */
  private def allowIds(allow: DataFrame): DataFrame =
    allow.select(col(allow.columns.head).as("n_id"))

  /** O41's pre-filter: `cand` semi-joined with the allow-list. The
    * allow-list is filter output, typically orders of magnitude under
    * corpus size, hence the broadcast hint WHILE IT FITS — only when
    * the cardinality is KNOWN to be at most [[ProbeAllowBroadcastMax]].
    * Known-too-big drops to a plain semi-join, and an UNKNOWN size also
    * omits the hint and lets AQE size the side at runtime: running a
    * count here just to decide would defeat the lazy serving-path
    * contract, and force-broadcasting a side nobody measured risks a
    * driver OOM on a corpus-scale allow-list. AQE still converts the
    * semi-join to a broadcast when the list is small. For predicates
    * at corpus scale, filter at index-write time instead.
    */
  private def allowOnly(cand: DataFrame, allowed: Option[DataFrame], count: Option[Long]): DataFrame =
    allowed.fold(cand) { allow =>
      val side = count match {
        case Some(n) if n <= ProbeAllowBroadcastMax => broadcast(allowIds(allow))
        case _ => allowIds(allow)
      }
      cand.join(side, Seq("n_id"), "left_semi")
    }

  /** Top-`topK` neighbours per probe from candidate code rows (p_id,
    * n_id, m, code): the ADC sum against the probes' distance table
    * `dtab`, ranked; with `refine` > 0 the ADC top-`refine` shortlist
    * is re-ranked by the TRUE quantized L2 against `vecs` (n_id, _ne)
    * — the FAISS IndexRefineFlat posture, which lifts recall on
    * distance-concentrated corpora where 4-byte codes can't separate
    * rank 5 from rank 50 (measured: the ADC-only ceiling is ~0.4
    * recall@5 at sf0.1 for every knob combination; refine=50 reaches
    * 0.9+ — docs/SCALING.md §ANN). The shortlist is probes x refine
    * rows — BROADCAST against the vectors, never the reverse; exact
    * work is probes x refine x dim, corpus-independent. `rn` is the
    * refined rank; `adc_q` stays the shortlist's ADC integer so the
    * output schema matches the unrefined path. Output: (p_id, rn, n_id,
    * adc_q).
    */
  private def adcTopK(
      cand: DataFrame, p: DataFrame, dtab: DataFrame, topK: Int, refine: Int,
      vecs: => DataFrame): DataFrame = {
    val w = Window.partitionBy(col("p_id")).orderBy(col("adc_q").asc, col("n_id"))
    val adcRanked = cand.join(broadcast(dtab), Seq("p_id", "m", "code"))
      .groupBy(col("p_id"), col("n_id")).agg(sum(col("_dq")).as("adc_q"))
    if (refine <= 0)
      adcRanked
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= topK)
        .select(col("p_id"), col("rn"), col("n_id"), col("adc_q"))
    else {
      val wr = Window.partitionBy(col("p_id")).orderBy(col("_xq").asc, col("n_id"))
      val shortlist = adcRanked
        .withColumn("_ra", row_number().over(w))
        .filter(col("_ra") <= refine)
        .select(col("p_id"), col("n_id"), col("adc_q"))
      broadcast(shortlist).join(vecs, Seq("n_id"))
        .join(broadcast(p), Seq("p_id"))
        .withColumn("_xq", l2q("pe", "_ne"))
        .withColumn("rn", row_number().over(wr).cast("int"))
        .filter(col("rn") <= topK)
        .select(col("p_id"), col("rn"), col("n_id"), col("adc_q"))
    }
  }

  /** The cell-partitioned stores' compaction step: rows keyed by
    * `n_id`, partitioned by cell.
    */
  private val CellStore = new IndexLayout.KeySetIndex("AnnIndex", "n_id", "cell")

  /** The cell-partitioned stores of one epoch, by directory name: the
    * inverted lists (cell, n_id, m, code) from `codes` (n_id, m, code),
    * the raw vectors (cell, n_id, vec) from `vecs` (n_id, _x) and —
    * when `sigs` — their sign packs (cell, n_id, sig); `cells` (n_id,
    * cell) places every row.
    */
  private def cellStores(cells: DataFrame, codes: DataFrame, vecs: DataFrame,
      sigs: Boolean): Seq[(String, DataFrame)] =
    Seq("lists" ->
      cells.join(codes, "n_id").select(col("cell"), col("n_id"), col("m"), col("code")),
      "vectors" ->
        cells.join(vecs, "n_id").select(col("cell"), col("n_id"), col("_x").as("vec"))) ++
      Option.when(sigs)("sigs" -> cells.join(vecs, "n_id").select(col("cell"), col("n_id"),
        graft.functions.GraftExpressions.signPack60(col("_x")).as("sig")))

  /** The one IVF-PQ training pass over the quantized corpus `ev`
    * (_id, _x, _xq): the coarse quantizer `cents` (_cid, _cx) and each
    * vector's cell `cells` (n_id, cell) from a k-way Lloyd, the m·kSub
    * subspace `books` (checkpointed: every code and every probe's
    * distance table reads them) from an m-subspace Lloyd, and the PQ
    * `codes` (n_id, m, code) encoded against them. All but the books
    * are lazy.
    */
  private final case class IvfPq(cents: DataFrame, cells: DataFrame, books: DataFrame,
      codes: DataFrame)

  private def trainIvfPq(ev: DataFrame, k: Int, m: Int, kSub: Int, iters: Int, dim: Int): IvfPq = {
    val (cents, assign) = lloyd(ev, 1, k, iters, dim)
    val books = lloyd(ev, m, kSub, iters, dim)._1.graftCheckpointEager
    IvfPq(coarse(cents), assign.select(col("_id").as("n_id"), col("_cell").as("cell")), books,
      pqEncode(ev.select(col("_id").as("n_id"), col("_x")), books, m, dim))
  }
}
