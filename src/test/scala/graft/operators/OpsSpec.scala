package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The generic Ops API must reproduce the canned query results. */
class OpsSpec extends SparkTestBase {
  // conf-mutating suite: isolated SQLConf so concurrent suites
  // (testForkedParallel) never see this suite's toggles
  override lazy val spark = graft.SparkTestBase.isolatedSession


  test("asofJoin reproduces q23 last-click semantics") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    // right side shares the key column name, ts column renamed
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("c_ts"))
    val got = Joins.asofJoin(purchases, clicks, keyCol = "user_id", leftTsCol = "ts",
      rightTsCol = "c_ts", outCol = "last_click_ts")
    // NB: asofJoin unions on keyCol, so clicks need the same key name
    val expected = graft.SparkEntry.queries("q23_asof_join")(spark, sfDir)
    val g = got.select($"event_id", $"last_click_ts").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toMap
    val e = expected.collect().map(r => (r.getLong(0), Option(r.getTimestamp(3)))).toMap
    assert(g == e)
  }

  test("sessionize reproduces q22 session counts") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val got = Ops.sessionize(ev, "user_id", "ts", 1800, orderTiebreak = Some("event_id"))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), min($"ts").as("session_start"))
    val expected = graft.SparkEntry.queries("q22_sessionize")(spark, sfDir)
    assert(got.except(expected).count() == 0 && expected.except(got).count() == 0)
  }

  test("topKPerGroup matches q11-style ranking") {
    import spark.implicits._
    val cust = Tables.load(spark, sfDir, "customer")
    val got = Ops.topKPerGroup(cust, Seq("c_nationkey"),
      Seq($"c_acctbal".desc, $"c_custkey"), 1)
    // each nation's single top customer has rank 1 in q11
    val q11 = graft.SparkEntry.queries("q11_window_rank")(spark, sfDir)
      .filter($"rnk" === 1)
    val gotIds = got.select($"c_custkey").collect().map(_.getLong(0)).toSet
    val q11Ids = q11.select($"c_custkey").collect().map(_.getLong(0)).toSet
    assert(gotIds.subsetOf(q11Ids))
    assert(got.groupBy($"c_nationkey").count().collect().forall(_.getLong(1) == 1))
  }

  test("dedupExact keeps exactly one row per key") {
    val docs = Tables.load(spark, sfDir, "documents")
    val doubled = docs.unionByName(docs)
    val deduped = Ops.dedupExact(doubled, Seq("text"), keepBy = "doc_id")
    assert(deduped.count() == docs.select("text").distinct().count())
  }

  test("jaccardPairs reproduces d04") {
    import spark.implicits._
    val sh = Tables.load(spark, sfDir, "documents")
      .withColumn("words", expr("filter(split(text, ' '), x -> x <> '')"))
      .select($"doc_id", expr(
        "CASE WHEN size(words) >= 3 THEN array_distinct(transform(sequence(0, size(words) - 3), " +
          "i -> concat_ws(' ', words[i], words[i + 1], words[i + 2]))) ELSE array() END").as("sh"))
    val got = Ops.jaccardPairs(sh, "doc_id", "sh", 0.4)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
    val expected = graft.SparkEntry.queries("d04_dedup_ngram_jaccard")(spark, sfDir)
    assert(got.except(expected).count() == 0 && expected.except(got).count() == 0)
  }

  test("cosineTopK reproduces s01") {
    import spark.implicits._
    val e = Tables.load(spark, sfDir, "embeddings")
    val probes = e.orderBy($"vec_id").limit(10)
      .select($"vec_id".as("p_id"), $"embedding".as("pe"))
    val corpus = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
    val got = Ops.cosineTopK(probes, corpus, "p_id", "pe", "n_id", "ne", 5)
    val expected = graft.SparkEntry.queries("s01_sim_bruteforce_topk")(spark, sfDir)
    assert(got.except(expected).count() == 0 && expected.except(got).count() == 0)
  }

  test("jaccardPairs with hot-token cap: subset with exact values") {
    import spark.implicits._
    val sh = Tables.load(spark, sfDir, "documents")
      .withColumn("words", expr("filter(split(text, ' '), x -> x <> '')"))
      .select($"doc_id", expr("array_distinct(words)").as("toks"))
    val exact = Ops.jaccardPairs(sh, "doc_id", "toks", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Ops.jaccardPairs(sh, "doc_id", "toks", 0.6, maxPostingsPerToken = Some(20))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // capped pairs ⊆ exact pairs, and surviving values are EXACT
    capped.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"capped produced non-exact pair $pair")
      assert(exact(pair) == j, s"capped jaccard differs for $pair: $j vs ${exact(pair)}")
    }
  }

  test("capped jaccardPairs carries doc sizes on the postings: no per-doc count aggregate") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val sh = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), expr("array_distinct(filter(split(text, ' '), x -> x <> ''))").as("toks"))
    val df = Ops.jaccardPairs(sh, "doc_id", "toks", 0.6, maxPostingsPerToken = Some(20))
    // the optimized plan, not the executed one: AQE may prune a branch
    // that the data leaves empty
    val perDoc = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.map(_.sql) == Seq("_id") =>
        a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression => e.aggregateFunction })
    }.flatten
    // the hot-token sets are the one per-doc aggregate left; a doc's
    // set size rides its posting rows instead of a count joined back
    assert(perDoc.nonEmpty && perDoc.forall(_.isInstanceOf[CollectSet]),
      s"aggregates grouped on _id alone: $perDoc\n${df.queryExecution.optimizedPlan}")
    spark.catalog.clearCache()
  }

  test("embeddingCandidates volume grows ~linearly when planes scale with log2(n)") {
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random corpus; doubling n while adding one
    // plane (bits ~ log2 n) should roughly double candidate pairs —
    // the d05 scale argument (fixed-key blocking would quadruple them)
    def corpus(n: Int) =
      spark.range(n).select(
        col("id"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(pmod(xxhash64(id * 16 + j), 1000) / 499.5 - 1.0 AS FLOAT))").as("emb")
      )
    val small = Ops.embeddingCandidates(corpus(400), "id", "emb", 7, dim = 16).count()
    val big = Ops.embeddingCandidates(corpus(800), "id", "emb", 8, dim = 16).count()
    val bigFixed = Ops.embeddingCandidates(corpus(800), "id", "emb", 7, dim = 16).count()
    assert(small > 0 && big > 0)
    assert(big.toDouble / small < 3.0, s"candidates not ~linear: $small -> $big")
    assert(bigFixed.toDouble / big > 1.5,
      s"scaling planes should cut candidates vs fixed planes: $bigFixed vs $big")
  }

  test("semanticDedupAtScale equals canned d10 when the knob lands on 8 cells") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count().toInt
    val got = Ops.semanticDedupAtScale(emb, "vec_id", "embedding",
      targetCellSize = n / 8, minCosine = 0.3)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    val expected = graft.SparkEntry.queries("d10_dedup_semantic")(spark, sfDir)
      .collect().toSeq
    assert(got == expected)
  }

  test("semanticDedupAtScale pair volume stays ~linear when cells track n") {
    import org.apache.spark.sql.functions._
    // same pseudo-random corpus as the d05 scale spec; minCosine = -1
    // makes every within-cell pair survive, so the output count IS
    // the candidate volume. Doubling n at a FIXED targetCellSize
    // doubles the cell count and keeps occupancy flat → ~2× pairs;
    // the pinned-knob variant (same 8 cells for the doubled corpus —
    // d10's canned configuration) quadruples them. This is the
    // measured 17.8×-at-sf1 curve (docs/SCALING.md round 6) reduced
    // to a spec.
    def corpus(n: Int) =
      spark.range(n).select(
        col("id"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(pmod(xxhash64(id * 16 + j), 1000) / 499.5 - 1.0 AS FLOAT))").as("emb")
      )
    val small = Ops.semanticDedupAtScale(corpus(400), "id", "emb",
      targetCellSize = 50, minCosine = -1.0).count()
    val scaled = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 50, minCosine = -1.0).count()
    val pinned = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 100, minCosine = -1.0).count() // k stays 8: d10's shape
    assert(small > 0 && scaled > 0)
    assert(scaled.toDouble / small < 3.0,
      s"pair volume not ~linear under a tracking knob: $small -> $scaled")
    assert(pinned.toDouble / scaled > 1.5,
      s"pinned knob should blow up pair volume vs tracking knob: $pinned vs $scaled")
  }

  test("connectedComponents labels a hand-built graph by min member") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {7,9}, and 11-12-13 (triangle)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L),
      (11L, 12L), (12L, 13L), (11L, 13L)).toDF("a", "b")
    val cc = Clustering.connectedComponents(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L, 11L -> 11L, 12L -> 11L, 13L -> 11L))
  }

  test("hashSample is a deterministic stratum-rate subset") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val s1 = Ops.hashSample(docs, "doc_id", "lang", Map("en" -> 30), defaultRate = 70)
    val s2 = Ops.hashSample(docs, "doc_id", "lang", Map("en" -> 30), defaultRate = 70)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == s2.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(ids1.nonEmpty && ids1.size < docs.count())
    // a higher rate strictly contains a lower rate (nested samples)
    val wider = Ops.hashSample(docs, "doc_id", "lang", Map("en" -> 60), defaultRate = 90)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1.subsetOf(wider))
  }

  test("packBins keeps per-bin token sums within budget + one row") {
    import spark.implicits._
    val df = spark.range(200).select(
      col("id"), (col("id") % 3).as("grp"),
      (pmod(xxhash64(col("id")), lit(90L)) + 10L).as("toks"))
    val packed = Ops.packBins(df, "toks", Seq("grp"), "id", budget = 256)
    val maxTok = 99L
    val over = packed.groupBy("grp", "bin_id").agg(sum("toks").as("s"))
      .filter(col("s") >= lit(256L) + maxTok).count()
    assert(over == 0)
    assert(packed.count() == 200) // packing never drops rows
  }

  test("saltedJoin equals plain join") {
    import spark.implicits._
    val orders = Tables.load(spark, sfDir, "orders").select($"o_custkey", $"o_orderkey")
    // rename to share the join key name
    val custK = Tables.load(spark, sfDir, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_nationkey")
    val salted = Joins.saltedJoin(orders, custK, "o_custkey", salts = 4)
    val plain = orders.join(custK, "o_custkey")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0)
  }

  test("dupSpans reproduces d09; hashed keys give identical values") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val api = Ops.dupSpans(docs, "doc_id", "text", n = 8)
      .select($"doc_id", $"n_spans", $"n_dup")
    val canned = graft.SparkEntry.queries("d09_dup_spans")(spark, sfDir)
      .select($"doc_id", $"n_spans", $"n_dup")
    assert(api.except(canned).count() == 0 && canned.except(api).count() == 0)
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
    val hashed = Ops.dupSpans(docs, "doc_id", "text", n = 8, hashKeys = true)
      .select($"doc_id", $"n_spans", $"n_dup")
    assert(hashed.except(canned).count() == 0 && canned.except(hashed).count() == 0)
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
  }

  test("randomProjection emits k components matching e02's fold") {
    import spark.implicits._
    val e = Tables.load(spark, sfDir, "embeddings")
    val proj = Ops.randomProjection(e, "embedding", k = 16)
    assert(proj.filter(size($"projection") =!= 16).count() == 0)
    // first component == e02's p0 (same plane family, same fold)
    val p0 = proj.select($"vec_id", round(element_at($"projection", 1), 6).as("p0"))
    val e02 = graft.SparkEntry.queries("e02_rand_projection")(spark, sfDir)
      .select($"vec_id", $"p0")
    assert(p0.join(e02, Seq("vec_id", "p0"), "left_anti").count() == 0)
  }

  test("pqTopK reproduces s04 with the canned codebook") {
    import spark.implicits._
    val e = Tables.load(spark, sfDir, "embeddings")
    val cents = e.orderBy($"vec_id").limit(8)
      .select($"vec_id".as("c_id"), $"embedding".as("ce"))
    val probes = e.orderBy($"vec_id").limit(10)
      .select($"vec_id".as("p_id"), $"embedding".as("pe"))
    val api = VectorIndex.pqTopK(probes, e.select($"vec_id".as("n_id"), $"embedding".as("ne")), cents,
      "p_id", "pe", "n_id", "ne", "c_id", "ce", m = 4, subDim = 16, k = 5)
    val canned = graft.SparkEntry.queries("s04_sim_pq_topk")(spark, sfDir)
    assert(api.except(canned).count() == 0 && canned.except(api).count() == 0)
  }

  test("streaks collapses consecutive days exactly (synthetic, with duplicates)") {
    import spark.implicits._
    val days = Seq(
      ("a", "2024-01-01"), ("a", "2024-01-02"), ("a", "2024-01-02"), // dup row
      ("a", "2024-01-03"), ("a", "2024-01-05"),
      ("a", "2024-01-10"), ("a", "2024-01-11"),
      ("b", "2024-02-29") // leap day, single-day streak
    ).toDF("k", "d").select($"k", to_date($"d").as("d"))
    val got = Ops.streaks(days, "k", "d")
      .select($"k", date_format($"streak_start", "yyyy-MM-dd"),
        date_format($"streak_end", "yyyy-MM-dd"), $"streak_days")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      ("a", "2024-01-01", "2024-01-03", 3L),
      ("a", "2024-01-05", "2024-01-05", 1L),
      ("a", "2024-01-10", "2024-01-11", 2L),
      ("b", "2024-02-29", "2024-02-29", 1L)))
  }

  test("retentionCohorts computes hand-checked cohort sizes and offsets") {
    import spark.implicits._
    // 2024-01-01 is a Monday: week W contains 01-01..01-07, W+1 from 01-08.
    // u1 first-seen W (active W and W+1), u2 only W, u3 first-seen W+1.
    val days = Seq(
      ("u1", "2024-01-02"), ("u1", "2024-01-09"),
      ("u2", "2024-01-03"), ("u2", "2024-01-05"), // second same-week day: no new offset
      ("u3", "2024-01-10")
    ).toDF("k", "d").select($"k", to_date($"d").as("d"))
    val got = Ops.retentionCohorts(days, "k", "d")
      .select($"cohort_week", $"week_offset", $"n_active", $"cohort_size", $"retention")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
    // normalize cohort_week to relative weeks via its minimum
    val minW = got.map(_._1._1).min
    val rel = got.map { case ((cw, off), v) => ((cw - minW, off), v) }.toMap
    assert(rel == Map(
      (0, 0) -> ((2L, 2L, 1.0)), // W cohort: u1+u2
      (0, 1) -> ((1L, 2L, 0.5)), // u1 returns in W+1
      (1, 0) -> ((1L, 1L, 1.0)) // W+1 cohort: u3 alone (u1 already cohorted)
    ))
  }

  test("kmeansAssign(iters=2) reproduces s05's cells; Lloyd SSE never increases") {
    import org.apache.spark.sql.functions._
    val e = graft.tables.Tables.load(spark, sfDir, "embeddings")
    val canned = graft.SparkEntry.queries("s05_kmeans_cells")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("cell"), (r.getAs[Long]("n"), r.getAs[Long]("sse_q")))).toMap
    val api = Clustering.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("dq")).as("sse_q"))
      .collect().map(r => (r.getAs[Long]("cell"), (r.getAs[Long]("n"), r.getAs[Long]("sse_q")))).toMap
    assert(api == canned)
    // Lloyd monotonicity on the quantized objective across iterations
    def sse(iters: Int): Long =
      Clustering.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = iters)
        .agg(sum(col("dq"))).head().getLong(0)
    val s = (1 to 3).map(sse)
    assert(s(1) <= s(0) && s(2) <= s(1), s"SSE increased across iterations: $s")
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
  }

  test("kmeansAssign is partitioning-invariant (integer-sum centroid updates)") {
    import org.apache.spark.sql.functions._
    // The design claim behind the integer-scaled sums: the result may
    // not depend on how the data is partitioned (FP means would).
    val e = graft.tables.Tables.load(spark, sfDir, "embeddings")
    def runOn(df: org.apache.spark.sql.DataFrame) =
      Clustering.kmeansAssign(df, "vec_id", "embedding", k = 8, iters = 2)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val base = runOn(e)
    val repart = runOn(e.repartition(7, col("label")))
    assert(base == repart)
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
  }

  test("bloomSemiJoin equals the plain left_semi join and pre-filters rows") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    // selective key set: 50 of the 1000 event_ids
    val keys = Tables.load(spark, sfDir, "events")
      .select($"event_id".as("eid")).distinct().orderBy($"eid").limit(50)
    val got = Joins.bloomSemiJoin(ev, "event_id", keys, "eid",
      expectedItems = Some(100L), fpp = 0.01)
    val want = ev.join(keys, $"event_id" === $"eid", "left_semi")
    assert(got.count() == want.count())
    assert(got.select("event_id").except(want.select("event_id")).count() == 0 &&
      want.select("event_id").except(got.select("event_id")).count() == 0)
    // the bloom pre-filter must be planned (might_contain over the
    // binary literal) and the result strictly selective
    val pre = got.queryExecution.optimizedPlan.toString
    assert(pre.contains("might_contain"), pre.take(400))
    assert(got.count() > 0 && got.count() < ev.count())
    // same column name on both sides must not be ambiguous
    val sameName = Joins.bloomSemiJoin(ev,
      "event_id", keys.select($"eid".as("event_id")), "event_id", Some(100L), 0.01)
    assert(sameName.count() == want.count())
  }

  test("bloomSemiJoin self-sizes from the key count; undersizing stays exact but reports") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val keys = ev.select($"event_id".as("eid")).distinct().orderBy($"eid").limit(50)
    val want = ev.join(keys, $"event_id" === $"eid", "left_semi").count()
    // default: no fixed capacity anywhere — sized from count(keys)
    val (auto, autoStats) = Joins.bloomSemiJoinWithStats(ev, "event_id", keys, "eid")
    assert(auto.count() == want)
    assert(autoStats.sizedFor == 50L, autoStats)
    // a well-sized filter realizes roughly its requested fpp
    assert(autoStats.expectedFpp <= autoStats.requestedFpp * 2, autoStats)
    // deliberately undersized 10x: results MUST stay exact (no false
    // negatives), and the degradation must be visible in the stats —
    // the realized fpp blows far past the request instead of failing
    // silently
    val (under, underStats) = Joins.bloomSemiJoinWithStats(
      ev, "event_id", keys, "eid", expectedItems = Some(5L), fpp = 0.01)
    assert(under.count() == want)
    assert(underStats.expectedFpp > underStats.requestedFpp * 5,
      s"undersized filter should report degraded fpp: $underStats")
    assert(underStats.bitSize < autoStats.bitSize)
  }

  test("bloomSemiJoin cuts measured shuffle records past broadcast capacity") {
    import spark.implicits._
    import graft.tools.RuntimeAudit
    // The regime the operator exists for: keys too big to broadcast
    // (simulated by disabling auto-broadcast), so the plain left_semi
    // shuffles BOTH full sides on the key. The bloom pre-filter must
    // keep most of the big side out of the exchange entirely.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.load(spark, sfDir, "lineitem")
        .select($"l_orderkey", $"l_quantity")
      val keys = Tables.load(spark, sfDir, "orders")
        .filter($"o_totalprice" > 450000.0).select($"o_orderkey")
      val plain = RuntimeAudit.run(
        li.join(keys, $"l_orderkey" === $"o_orderkey", "left_semi"))
      val bloomed = RuntimeAudit.run(
        Joins.bloomSemiJoin(li, "l_orderkey", keys, "o_orderkey"))
      assert(bloomed.rows == plain.rows, s"$bloomed vs $plain")
      // ~10% key selectivity + fpp: the bloomed exchanges must carry
      // well under half of what the plain semi-join shuffles
      assert(bloomed.shuffleRecords < plain.shuffleRecords / 2,
        s"bloom=${bloomed.shuffleRecords} plain=${plain.shuffleRecords}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("rankGlobal equals the single-window row_number form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // The t14 vocabulary shape: rank words by (cnt DESC, w ASC) — a
    // total order. The two-phase form must agree with the global
    // window rank on every row, across partition counts that leave
    // some range partitions empty (numPartitions > distinct keys /
    // rows-per-partition) and counts smaller than the data.
    val dict = Tables.load(spark, sfDir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
    val windowed = dict.withColumn("expected",
      row_number().over(Window.orderBy($"cnt".desc, $"w".asc)).cast("long"))
    for (n <- Seq(1, 3, 8, 64)) {
      val two = Ops.rankGlobal(dict, Seq($"cnt".desc, $"w".asc), "rank", numPartitions = n)
      val joined = two.join(windowed.select($"w", $"expected"), "w")
      assert(joined.filter($"rank" =!= $"expected").count() == 0,
        s"rankGlobal($n) diverged from window rank")
      assert(two.count() == dict.count())
    }
  }

  test("rankGlobal stays a permutation when exchange reuse does not fire") {
    import spark.implicits._
    // The round-9 sf1 incident: without exchange reuse, the offsets
    // branch and the join branch each planned their OWN range
    // exchange, and RangePartitioner seeds its sampler from the RDD
    // id — two physical exchanges, two boundary sets, offsets from
    // one layout against local ranks from another, output silently
    // not a permutation. rankGlobal now checkpoints the ranged frame
    // so both branches read ONE evaluation; this pin runs with reuse
    // disabled (the regime that exposed it).
    val prev = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val keyed = Tables.load(spark, sfDir, "documents")
        .select($"doc_id",
          graft.functions.PortableHash.hash60($"doc_id".cast("string")).as("k"))
      val ranked = Ops.rankGlobal(keyed, Seq($"k".asc, $"doc_id".asc), "pos",
        numPartitions = 16)
      val st = ranked.agg(countDistinct($"pos").as("d"),
        min($"pos").as("mn"), max($"pos").as("mx"), count(lit(1)).as("n")).head()
      assert(st.getLong(0) == st.getLong(3) && st.getLong(1) == 1L &&
        st.getLong(2) == st.getLong(3),
        s"not a permutation without exchange reuse: $st")
    } finally spark.conf.set("spark.sql.exchange.reuse", prev)
  }

  test("rankGlobal executes with no single-partition sort of the data") {
    import spark.implicits._
    val dict = Tables.load(spark, sfDir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
    val ranked = Ops.rankGlobal(dict, Seq($"cnt".desc, $"w".asc), "rank", numPartitions = 8)
    ranked.collect()
    // since the round-9 determinism fix the ranged frame is
    // checkpointed, so the 8-way range exchange lives in the
    // checkpoint's lineage and the visible plan consumes it as an
    // ExistingRDD scan — its partition count is the range layout
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan.take(500))
    assert(ranked.rdd.getNumPartitions == 8)
    // rank column must come from the broadcast offsets join, not a
    // window — and the only GLOBAL sort in the plan is the one the
    // offsets window runs over its 8-row aggregate (SortExec renders
    // global sorts as "Sort [...], true, ..."; a second one would be
    // a single-partition sort of the DATA, the regression this test
    // exists to catch)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(500))
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(plan).size
    assert(globalSorts <= 1, s"$globalSorts global sorts in plan:\n${plan.take(800)}")
  }

  test("rankGlobal stays balanced on a Zipf(1.1) vocabulary (skew-measured)") {
    import spark.implicits._
    // The 100 TB concern: a web-corpus vocabulary is Zipfian, so
    // ordering by (cnt DESC, w) concentrates a huge cnt=1 tail into
    // one key-range neighborhood. RangePartitioner samples the SORT
    // KEY INCLUDING the tiebreak column, so the tail still splits
    // across partitions — measure it instead of arguing it.
    val n = 200000
    val dict = spark.range(1, n + 1)
      .select(
        concat(lit("w"), lpad($"id".cast("string"), 7, "0")).as("w"),
        // Zipf(1.1): rank r gets floor(C / r^1.1) + 1 occurrences —
        // head word ~100k, half the vocabulary lands on cnt=1
        (floor(lit(100000.0) / pow($"id".cast("double"), 1.1)) + 1).cast("long").as("cnt"))
    val parts = 32
    val ranked = Ops.rankGlobal(dict, Seq($"cnt".desc, $"w".asc), "rank",
      numPartitions = parts)
    // correctness on the skewed corpus first
    val expected = dict.withColumn("expected", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy($"cnt".desc, $"w".asc)).cast("long"))
    assert(ranked.join(expected.select($"w", $"expected"), "w")
      .filter($"rank" =!= $"expected").count() == 0)
    // then the balance: per-partition row counts of the SAME range
    // partitioning rankGlobal executes
    val sizes = dict.repartitionByRange(parts, $"cnt".desc, $"w".asc)
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / parts
    val ratio = sizes.max / mean
    info(f"Zipf(1.1) $n-word dict over $parts partitions: max/mean = $ratio%.2f")
    assert(sizes.length == parts, s"empty partitions: only ${sizes.length} of $parts")
    assert(ratio < 2.0, f"range partitioning skewed: max/mean $ratio%.2f >= 2")
  }

  test("rankGlobal checkTotalOrder: tied keys raise, unique keys rank unchanged") {
    import spark.implicits._
    // a deliberately NON-total order: cnt alone collides constantly
    val dict = Tables.load(spark, sfDir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
    val err = intercept[Exception] {
      Ops.rankGlobal(dict, Seq($"cnt".desc), "rank",
        numPartitions = 8, checkTotalOrder = true).collect()
    }
    assert(err.getMessage.contains("not a total order"),
      s"wrong failure: ${err.getMessage}")
    // with the tiebreak restored, the guard must not change a single
    // rank (including through SortOrder-wrapped keys like .desc)
    val unguarded = Ops.rankGlobal(dict, Seq($"cnt".desc, $"w".asc), "rank",
      numPartitions = 8)
    val guarded = Ops.rankGlobal(dict, Seq($"cnt".desc, $"w".asc), "rank",
      numPartitions = 8, checkTotalOrder = true)
    assert(guarded.join(unguarded.withColumnRenamed("rank", "r0"), Seq("w"))
      .filter($"rank" =!= $"r0").count() == 0)
  }
}
