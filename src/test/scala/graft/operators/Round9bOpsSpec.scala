package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-9 batch 2: the semi-naive BFS operator (g06's engine), the
  * Bloom-path decontamination (d19), the deterministic global shuffle
  * (q62), and the temperature source mix (t21).
  *
  * The oracle gates pin the full queries against DuckDB; these specs
  * pin the operator CONTRACTS the oracles can't see — hand-traced
  * distances, directedness, the exhaustion stop, bloom == broadcast
  * bit-equality, the permutation property, and the alpha=0.5 keep-rate
  * law (min source kept whole; realized rates tracking sqrt).
  */
class Round9bOpsSpec extends SparkTestBase {

  import spark.implicits._

  private def distMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
    df.select(col("node").cast("long"), col("dist").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("bfsDistances: hand-traced layers on a chain + disconnected pair, hop bound honored") {
    // chain 1-2-3-4-5 (both directions = undirected) + island 10-11
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val sym = und.toDF("u", "v").select($"u".as("src"), $"v".as("dst"))
      .unionAll(und.toDF("u", "v").select($"v".as("src"), $"u".as("dst")))
    val seeds = Seq(1L).toDF("node")
    assert(distMap(Graph.bfsDistances(sym, seeds, maxHops = 2)) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2))
    // island never reached; chain fully covered at its true distances
    assert(distMap(Graph.bfsDistances(sym, seeds, maxHops = 10)) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
  }

  test("bfsDistances: respects edge direction and shortest-path (not walk-parity) distances") {
    // directed: 1->2->3, 3->1 back-edge; from {2}: 2@0, 3@1, 1@2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(distMap(Graph.bfsDistances(e, Seq(2L).toDF("node"), maxHops = 5)) ==
      Map(2L -> 0, 3L -> 1, 1L -> 2))
    // a node reachable at dist 1 AND dist 2 reports 1 (first discovery wins)
    val dag = Seq((1L, 2L), (1L, 3L), (3L, 2L)).toDF("src", "dst")
    assert(distMap(Graph.bfsDistances(dag, Seq(1L).toDF("node"), maxHops = 5)) ==
      Map(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("bfsDistances: seeds outside the graph, empty seeds, maxHops = 0") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    // a seed with no out-edges is still reported at dist 0
    assert(distMap(Graph.bfsDistances(e, Seq(99L).toDF("node"), maxHops = 3)) ==
      Map(99L -> 0))
    assert(Graph.bfsDistances(e, Seq.empty[Long].toDF("node"), maxHops = 3).count() == 0L)
    assert(distMap(Graph.bfsDistances(e, Seq(1L).toDF("node"), maxHops = 0)) ==
      Map(1L -> 0))
  }

  test("d19: bloom-path decontamination is bit-identical to the broadcast path") {
    val docs = graft.tables.Tables.load(spark, sfDir, "documents")
    val train = docs.where($"doc_id" % 10 =!= 0)
    val ev = docs.where($"doc_id" % 10 === 0)
    val viaBloom = Dedup.decontaminateAtScale(train, ev, fpp = 0.01)
      .orderBy($"doc_id").collect()
    val viaBroadcast = Dedup.decontaminate(train, ev)
      .orderBy($"doc_id").collect()
    assert(viaBloom.sameElements(viaBroadcast))
    assert(viaBloom.nonEmpty)
  }

  test("q62: pos is a 1..n permutation and equals the single-window row_number form") {
    val out = graft.SparkEntry.queries("q62_global_shuffle")(spark, sfDir).cache()
    val n = out.count()
    assert(n > 0)
    // permutation: n distinct positions spanning exactly [1, n]
    val stats = out.agg(countDistinct($"pos").as("d"),
      min($"pos").as("mn"), max($"pos").as("mx")).head()
    assert(stats.getLong(0) == n && stats.getLong(1) == 1L && stats.getLong(2) == n)
    // shard is key mod 8
    assert(out.where(pmod($"skey", lit(8)).cast("int") =!= $"shard").isEmpty)
    // two-phase rank == the scale-unsafe single-window encoding
    val w = org.apache.spark.sql.expressions.Window.orderBy($"skey".asc, $"doc_id".asc)
    val naive = out.select($"doc_id", $"skey",
      row_number().over(w).cast("long").as("pos"))
    assert(out.select($"doc_id", $"pos").exceptAll(naive.select($"doc_id", $"pos")).isEmpty)
    out.unpersist()
  }

  test("t21: the smallest language is kept whole; realized rates track sqrt(n_min/n_lang)") {
    val docs = graft.tables.Tables.load(spark, sfDir, "documents")
    val kept = graft.SparkEntry.queries("t21_temperature_mix")(spark, sfDir)
    val perLang = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
      .join(kept.groupBy($"lang").agg(count(lit(1)).as("n_kept")), Seq("lang"), "left")
      .na.fill(0L, Seq("n_kept"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nMin = perLang.map(_._2).min
    // the rule must BITE on this corpus (en ~3x the tail) — if every
    // language were min-sized the query would be vacuous
    assert(perLang.exists(_._2 > nMin), "corpus lost its lang skew; pick a skewed axis")
    perLang.foreach { case (lang, nLang, nKept) =>
      val p = math.sqrt(nMin.toDouble / nLang)
      if (nLang == nMin)
        // p = 1 exactly: h40^2 * n_min < n_min * 2^80 iff h40 < 2^40, always
        assert(nKept == nLang, s"min language $lang must be kept whole: $nKept/$nLang")
      else {
        // strict shrink only where p is meaningfully below 1 (a
        // language 4% over min legitimately keeps all its docs)
        if (nLang * 2 > nMin * 3)
          assert(nKept < nLang, s"oversized language $lang must be downsampled")
        assert(math.abs(nKept.toDouble / nLang - p) < 0.15,
          s"language $lang: realized ${nKept.toDouble / nLang} vs target $p")
      }
    }
  }

  test("bfsDistancesPerSeed: per-seed layers are independent and hand-traced") {
    // chain 1-2-3-4 undirected; seeds {1, 4}: each seed's distances
    // must be ITS OWN BFS, not polluted by the other advancing in the
    // same synchronous rounds
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val sym = und.toDF("u", "v").select($"u".as("src"), $"v".as("dst"))
      .unionAll(und.toDF("u", "v").select($"v".as("src"), $"u".as("dst")))
    val got = Graph.bfsDistancesPerSeed(sym, Seq(1L, 4L).toDF("node"), maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2,
      (4L, 4L) -> 0, (4L, 3L) -> 1, (4L, 2L) -> 2))
    // single-seed form agrees with bfsDistances
    val single = Graph.bfsDistances(sym, Seq(1L).toDF("node"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.collect { case ((1L, n), d) => n -> d } == single)
  }

  test("temperatureMix: NULL-group rows are excluded and cannot poison n_min") {
    // review finding: a NULL group used to vanish via the equi-join
    // (dropped with probability 1, not sqrt) while its count still
    // competed for n_min — a handful of unlabeled strays would crush
    // every real group's keep rate. Contract now: NULL-group rows are
    // excluded from output AND model.
    val rows = (1L to 50L).map(i => (i, "a")) ++ Seq((101L, "b"), (102L, "b"), (999L, null))
    val df = rows.toDF("doc_id", "lang")
    val kept = TextAnalysis.temperatureMix(df, "doc_id", "lang")
    assert(kept.where($"lang".isNull).isEmpty, "null-group rows must be excluded")
    // n_min must be 2 (group b), NOT 1 (the null stray): b is the
    // smallest real group, so it is provably kept whole
    assert(kept.where($"lang" === "b").count() == 2L)
    // a is downsampled at sqrt(2/50)=0.2 but not annihilated (the
    // fixed hash values keep ~10 of 50), and carries its true size
    val aKept = kept.where($"lang" === "a")
    assert(aKept.count() > 0L && aKept.count() < 50L)
    assert(aKept.select($"n_grp").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(50L))
  }

  test("t22: DSIR weights discriminate the target domain; token counts consistent") {
    val out = graft.SparkEntry.queries("t22_dsir_weight")(spark, sfDir).cache()
    val docs = graft.tables.Tables.load(spark, sfDir, "documents")
    // the weight's whole point: target-domain (en) docs must score
    // higher ON AVERAGE than out-of-domain docs under the en model
    val means = out.join(docs.select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang" === "en").agg(avg($"dsir_w").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"en mean ${means(true)} must exceed non-en ${means(false)}")
    // n_tok is exactly the doc's word count (docs with words)
    val bad = out.join(docs, "doc_id")
      .where(size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long") =!= $"n_tok")
      .count()
    assert(bad == 0, s"$bad docs with inconsistent token counts")
    out.unpersist()
  }

  test("ssspBounded: weighted shortcut beats the direct edge once rounds allow it") {
    // 1-2 (10), 2-3 (1), 1-3 (20): the 2-hop detour 1-2-3 costs 11
    val und = Seq((1L, 2L, 10L), (2L, 3L, 1L), (1L, 3L, 20L))
    val e = und.toDF("u", "v", "w").select($"u".as("src"), $"v".as("dst"), $"w")
      .unionAll(und.toDF("u", "v", "w").select($"v".as("src"), $"u".as("dst"), $"w"))
    val seeds = Seq(1L).toDF("node")
    def dists(rounds: Int): Map[Long, Long] =
      Graph.ssspBounded(e, seeds, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists(1) == Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
    assert(dists(2) == Map(1L -> 0L, 2L -> 10L, 3L -> 11L))
    // fixpoint reached: more rounds change nothing (empty delta stops the loop)
    assert(dists(5) == dists(2))
  }

  test("ssspBounded: semi-naive delta equals a brute-force bounded-path enumeration") {
    // small dense-ish directed graph, exhaustive <=3-edge path check
    val edges = Seq(
      (1L, 2L, 3L), (2L, 3L, 4L), (3L, 4L, 2L), (1L, 3L, 9L),
      (4L, 1L, 1L), (2L, 4L, 8L), (3L, 1L, 5L))
    val seeds = Seq(1L, 4L)
    val adj = edges.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    val best = scala.collection.mutable.Map[Long, Long](seeds.map(_ -> 0L): _*)
    var layer = seeds.map(n => (n, 0L))
    for (_ <- 1 to 3) {
      layer = layer.flatMap { case (n, d) =>
        adj.getOrElse(n, Nil).map { case (m, w) => (m, d + w) } }
      layer.foreach { case (n, d) =>
        if (best.getOrElse(n, Long.MaxValue) > d) best(n) = d }
    }
    val got = Graph.ssspBounded(edges.toDF("src", "dst", "w"), seeds.toDF("node"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == best.toMap, s"got $got expected $best")
  }
}
