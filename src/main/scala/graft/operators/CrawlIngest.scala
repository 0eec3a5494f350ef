package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The crawl front door: WARC archive records → admission-ready
  * documents — the composition S8 (source), t34 (extraction) and t35
  * (provenance gate) exist to feed, in the order a production
  * pipeline runs them: cheap provenance FIRST (a blocked domain's
  * records never cost extraction work), extraction second, admission
  * (quality/novelty, O56) downstream via [[graft.streaming.Streams]]'
  * ST29 loop.
  *
  * Scale shape: everything here is batch-bounded — the gate and the
  * extraction are per-row columnar work; the recrawl choice and the
  * exact-content dedup are combinable aggs whose exchanges move one
  * candidate payload per url (max_by) and (md5, url) pairs
  * respectively — extracted texts never re-shuffle. Nothing
  * corpus-scaled is touched until the admission trigger probes the
  * gram index (which is bucket-pruned — the O52 shape).
  */
object CrawlIngest {

  /** Archive records (the [[graft.sources.Warc]] schema) →
    * (doc_id, url, text): response records only, truncated captures
    * dropped (their entity is incomplete — re-fetch, don't curate),
    * urls CANONICALIZED (t36 — so recrawls AND mirror variants that
    * differ only in tracking params / fragments / case / default
    * ports collapse to one resource), the LATEST capture per
    * canonical url kept — latest by WARC-Date (ISO-8601 strings, so
    * lexicographic == chronological; archive NAMING must not decide
    * recency, 'crawl-9' sorts after 'crawl-10'), with (path, offset)
    * as the deterministic tiebreaker for same-second captures —
    * blocked/invalid domains dropped BEFORE extraction, then the HTTP
    * entity (after the message's first blank line) through t34's
    * extraction, then intra-batch EXACT-CONTENT dedup: same-batch
    * copies of one non-empty text collapse to the min-url keeper
    * (full-md5 keys; empty-text docs are exempt so every degenerate
    * page still gets its own admission verdict). Output: one row per
    * surviving canonical url — same-batch content copies and
    * blocked/invalid/truncated captures do NOT appear. doc_id =
    * hash60(canonical url) and `url` IS the canonical form —
    * deterministic, so a consumer can rebuild the url ↔ doc_id map
    * from the crawl store at any time.
    *
    * `nearDupJaccard` (default 0.9) additionally collapses same-batch
    * NEAR-copies — a 95%-similar restatement under a different url
    * is as invisible to the index-novelty gate as an exact copy, for
    * the same probe-before-append reason. The pass is the d02 scale
    * shape (banded MinHash equi-join candidates + pairwise
    * array_intersect Jaccard verify — never a posting self-join) on
    * url keys, and the drop rule is pair-local, not clustered: a doc
    * is dropped iff it is the LARGER url of some verified pair. That
    * keeps the operator fully lazy (no iterative CC actions inside a
    * streaming micro-batch) and still guarantees the contract that
    * matters at the front door: NO verified near-dup pair survives
    * into one admission batch (chains collapse to their minimum; two
    * docs that were never verified similar are both kept — full
    * transitive clustering is d06/d08's job, downstream). None
    * disables the pass.
    *
    * The dedup keeper/drop sets are broadcast (the O41 rule): in ST29
    * micro-batches they are bounded by the trigger's archives, so the
    * semi/anti joins carry an explicit broadcast hint and extracted
    * texts never re-shuffle.
    */
  def crawlDocs(
      records: DataFrame,
      allow: Seq[String] = Nil,
      block: Seq[String] = Nil,
      nearDupJaccard: Option[Double] = Some(0.9)): DataFrame = {
    val resp = records
      .where(col("warc_type") === "response" && !col("truncated") &&
        col("target_uri") =!= "")
      .select(col("target_uri").as("raw_url"), col("warc_date"),
        col("path"), col("offset"), col("payload"))
      .withColumn("url", UrlCuration.canonicalUrl(col("raw_url")))
      .where(col("url").isNotNull)
    // the provenance gate runs on the url alone — BEFORE the payload
    // is decoded or extracted (a blocked domain costs one regex)
    val gated = UrlCuration.urlVerdicts(resp, "url", allow, block)
      .where(col("verdict") === "neutral" || col("verdict") === "allowed")
    // latest capture via max_by with map-side combine: each partition
    // reduces to ONE candidate per url before the exchange, so only
    // per-partition winners' payloads cross the shuffle (a window
    // would shuffle every captured page body just to pick a winner)
    // charset-aware decode (t37): BOM / Content-Type / meta-prescan
    // sniff, web-alias map, UTF-8 fallback — a Latin-1 or Shift-JIS
    // page must reach extraction as text, not mojibake (which would
    // also poison the md5 content-dedup keys and gram novelty).
    // Headers are stripped only when the capture IS an HTTP message
    // (status line present), CRLF or bare-LF framed.
    // MIME gate (X26, round 16): confident binary-media entities
    // (PNG/JPEG/PDF/zip/...) never reach text extraction — they
    // belong to the m01-class media pipeline. Everything the sniffer
    // can't PROVE binary (text/*, octet-stream, BOM-less UTF-16)
    // passes through to the charset decoder, which owns encodings.
    val latest = HttpPayload.withDecodedEntity(
      gated
        .groupBy(col("url"))
        .agg(max_by(col("payload"),
          struct(col("warc_date"), col("path"), col("offset"))).as("_pay"))
        .where(!HttpPayload.sniffedMime(col("_pay"))
          .isin(HttpPayload.BinaryMimes: _*)),
      "_pay").select(col("url"), col("html"))
    // intra-batch exact-content dedup (d01 at the front door): two
    // DIFFERENT canonical urls carrying the same NON-EMPTY extracted
    // text in ONE batch would otherwise both pass admission — novelty
    // is measured against the standing index, and the batch is probed
    // BEFORE it appends (the ST27 contract), so same-batch copies are
    // invisible to each other. Keeper = min url (deterministic,
    // replay-stable); keys are the FULL md5 (the d01 discipline — a
    // 60-bit key would silently drop a colliding different document);
    // EMPTY-text docs are exempt (each carries its own
    // rejected_quality audit row — collapsing them would silently
    // lose verdicts, not dedup content). Only (md5, url) pairs cross
    // the dedup shuffle; the keeper set broadcasts back, so extracted
    // texts never re-shuffle.
    // Lineage cut (round 16, measured): the url-canonicalization +
    // PSL-verdict + charset-decode expression trees are large, and
    // downstream the dedup fan-out references this frame up to ~8
    // times (union branches, keeper agg, shingle/candidate/verify
    // joins) — WITHOUT the cut each task binary carries ~8 copies of
    // the whole upstream tree (measured 39.8 MiB/task, OOMing 32
    // concurrent deserializations at default heap; 5 MiB → KB after
    // the cut) and every branch RE-RUNS parse+decode+extraction. One
    // lazy local checkpoint makes the fan-out read materialized rows:
    // the O36/d06 iterative-lineage discipline applied to a DAG that
    // fans out instead of iterating.
    val extracted = Html.htmlExtract(latest, "url", "html").graftCheckpointLazy
    val keepers = extracted.where(col("text") =!= "")
      .groupBy(md5(col("text")).as("_ch"))
      .agg(min(col("url")).as("url"))
      .select(col("url"))
    val exactKept = extracted.where(col("text") === "")
      .unionByName(extracted.join(broadcast(keepers), Seq("url"), "left_semi"))
    // intra-batch NEAR-dup dedup (d02 at the front door), on the
    // exact-dedup survivors: banded minhash candidates (equi-join on
    // (band, bh) — the only pairwise structure), exact Jaccard verify
    // on the candidate pairs, then drop the larger url of every
    // verified pair. Only (url, band-key) and (url-pair, shingle
    // arrays of CANDIDATES) cross shuffles; the drop set anti-joins
    // back broadcast like the keeper set, so texts still never
    // re-shuffle. Docs under 3 words have no 3-gram shingles and are
    // exempt (they cannot be near-dups under this metric; exact md5
    // already caught identical ones).
    val deduped = nearDupJaccard match {
      case None => exactKept
      case Some(th) =>
        val sh = exactKept.where(col("text") =!= "").select(
          col("url"),
          graft.functions.GraftExpressions.wordShingles(col("text"), 3, distinct = true)
            .as("sh"))
          .where(size(col("sh")) > 0)
        val cand = Dedup.bandPairs(Dedup.bandKeysFromShingles(sh, "url", "sh"), "url")
          .distinct()
        val drops = Dedup.pairJaccard(cand, sh, "url", "sh")
          .where(col("jaccard") >= th)
          .select(col("id_b").as("url")).distinct()
        exactKept.join(broadcast(drops), Seq("url"), "left_anti")
    }
    deduped.select(
      graft.functions.PortableHash.hash60(col("url")).as("doc_id"),
      col("url"), col("text"))
  }
}
