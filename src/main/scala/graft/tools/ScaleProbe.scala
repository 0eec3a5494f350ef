package graft.tools

import org.apache.spark.sql.functions._

/** Scale experiment driver: runs the capped/parameterized variants of
  * the dedup operators against an (optionally 10x-replicated) corpus
  * dir and prints timings + output volumes, demonstrating the knobs
  * the canned oracle-gated queries document for 100 TB
  * (hot-shingle cap; hyperplane count scaling with log2 n).
  * Usage: sbt "runMain graft.tools.ScaleProbe [dir] [cap] [planes] [mode]"
  * mode=capped skips the deliberately-quadratic baselines (uncapped
  * posting join, fixed-8-plane buckets) that exist to MEASURE the
  * blowup — at 100x they would run for hours by design; the skip is
  * printed, never silent.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cap = args.lift(1).map(_.toInt).getOrElse(200)
    val planes = args.lift(2).map(_.toInt).getOrElse(12)
    // capped: skip the deliberately-quadratic baselines;
    // cheap: additionally skip the pair-verify paths (for scales
    // where they exceed single-box local disk — at 100x the candidate
    // verify join spills >60 GB; a cluster spreads that across
    // executor disks)
    val mode = args.lift(3).getOrElse("full")
    val cappedOnly = mode == "capped" || mode == "cheap"
    val cheapOnly = mode == "cheap"
    val spark = ToolSession("spark.sql.adaptive.enabled" -> "true")
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    docs.count(); emb.count()

    def t(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-40s rows=$n%-9d ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    }

    t("exact dedup (md5 groupBy, d01 shape)") {
      docs.groupBy(md5($"text")).agg(count(lit(1))).count()
    }
    t("BPE token count (per-row codegen, t03 shape)") {
      // head() forces the sum; count() of an ungrouped agg lets the
      // optimizer prune the BPE column entirely
      docs.select(graft.functions.GraftExpressions.bpeCount($"text").as("n"))
        .agg(sum($"n")).head().getLong(0)
    }
    if (cappedOnly)
      println("ngramJaccard UNCAPPED / 8-plane buckets: SKIPPED (mode=capped; " +
        "quadratic baselines measured at 10x in docs/SCALING.md)")
    else t(s"ngramJaccard UNCAPPED") {
      graft.operators.Dedup.ngramJaccardAtScale(docs, 0.4, None).count()
    }
    if (cheapOnly)
      println("pair-verify paths: SKIPPED (mode=cheap; spill exceeds single-box disk at this scale)")
    else {
      t(s"ngramJaccard cap=$cap") {
        graft.operators.Dedup.ngramJaccardAtScale(docs, 0.4, Some(cap)).count()
      }
      t(s"minhashLshAtScale (pairwise verify)") {
        graft.operators.Dedup.minhashLshAtScale(docs).count()
      }
    }
    if (!cappedOnly) t(s"embeddingCandidates 8 planes (canned)") {
      graft.operators.Ops.embeddingCandidates(emb, "vec_id", "embedding", 8).count()
    }
    t(s"embeddingCandidates $planes planes (scaled)") {
      graft.operators.Ops.embeddingCandidates(emb, "vec_id", "embedding", planes).count()
    }
    t("dupSpans n=8 hashKeys (d09 at-scale shape)") {
      graft.operators.Ops.dupSpans(docs, "doc_id", "text", 8, hashKeys = true).count()
    }
    t("pqTopK m=4 sub=16 (s04 shape, 10 probes)") {
      val cents = emb.orderBy($"vec_id").limit(8)
        .select($"vec_id".as("c_id"), $"embedding".as("ce"))
      val probes = emb.orderBy($"vec_id").limit(10)
        .select($"vec_id".as("p_id"), $"embedding".as("pe"))
      graft.operators.VectorIndex.pqTopK(probes,
        emb.select($"vec_id".as("n_id"), $"embedding".as("ne")), cents,
        "p_id", "pe", "n_id", "ne", "c_id", "ce", m = 4, subDim = 16, k = 5).count()
    }
    spark.stop()
  }
}
