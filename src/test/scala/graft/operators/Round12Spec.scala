package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Round-12: the token-ID last mile — X15/X16 encode/decode are
  * spec'd in BpeSpec; here the composed surface tokenizeWindows
  * (t26's core). O44 packTokenShards is spec'd in ShardLayoutSpec.
  */
class Round12Spec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  // ------------------------------------------------- tokenizeWindows

  test("tokenizeWindows: every window exactly W ids, pad tail all padId, n_real bounds") {
    val w = 64
    val t = TextAnalysis.tokenizeWindows(docs, w)
    val bad = t.filter(
      size($"ids") =!= w ||
        $"n_real" < 1 || $"n_real" > w ||
        expr(s"exists(slice(ids, cast(n_real + 1 as int), $w), x -> x != 0)") ||
        expr("exists(slice(ids, 1, cast(n_real as int)), x -> x = 0)")
    ).count()
    assert(bad == 0, s"$bad windows break the shape/pad contract")
  }

  test("tokenizeWindows: total real ids == corpus-wide size(bpe_encode)") {
    val w = 64
    val total = TextAnalysis.tokenizeWindows(docs, w)
      .agg(sum($"n_real")).head().getLong(0)
    val expect = docs
      .select(size(graft.functions.GraftExpressions.bpeEncode($"text")).cast("long").as("n"))
      .agg(sum($"n")).head().getLong(0)
    assert(total == expect, s"window ids $total != encoded ids $expect")
  }

  test("tokenizeWindows: reassembled windows decode back to the normalized document") {
    val w = 64
    val t = TextAnalysis.tokenizeWindows(docs, w)
      .withColumn("real", expr("slice(ids, 1, cast(n_real as int))"))
      .groupBy($"doc_id")
      .agg(flatten(array_sort(collect_list(struct($"window_id", $"real")))
        .getField("real")).as("all_ids"))
      .select($"doc_id", graft.functions.GraftExpressions.bpeDecode($"all_ids").as("rt"))
    val expect = docs.select($"doc_id",
      concat_ws(" ", expr("filter(split(text, ' '), x -> x <> '')")).as("norm"))
      .filter(length($"norm") > 0)
    val bad = t.join(expect, Seq("doc_id"), "full_outer")
      .filter(not($"rt" <=> $"norm")).count()
    assert(bad == 0, s"$bad documents fail the reassemble-decode round trip")
  }

  // ------------------------------------------- O32 routed assignment

  test("O32: routed assignment == brute assignment when probes cover all coarse groups") {
    // k = 100 cells -> k1 = 10 coarse groups: the routed path is
    // genuinely two-level (default 4 probes would approximate), and
    // probing all 10 groups makes the candidate set every seed, so
    // the result must EQUAL the exactAssign escape row-for-row.
    def corpus(n: Int) =
      spark.range(n).select(
        col("id"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(pmod(xxhash64(id * 16 + j), 1000) / 499.5 - 1.0 AS FLOAT))").as("emb"))
    val routed = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0, coarseProbes = 10)
      .orderBy($"id_a", $"id_b").collect().toSeq
    val brute = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0, exactAssign = true)
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(routed == brute, "probe-all routed assignment diverged from brute")
    // and the default nprobe stays a sane approximation of the same
    // workload: every vector still lands in a cell, occupancy bounded
    val approx = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0)
    assert(approx.count() > 0)
  }

  test("O32: no corpus-scaled crossJoin in the routed plan") {
    def corpus(n: Int) =
      spark.range(n).select(
        col("id"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(pmod(xxhash64(id * 16 + j), 1000) / 499.5 - 1.0 AS FLOAT))").as("emb"))
    val plan = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0)
      .queryExecution.executedPlan.toString
    // the only nested-loop joins allowed are against the 1-row
    // collected coarse array (broadcast of a single row)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val cart = "CartesianProduct".r.findAllIn(plan).length
    assert(cart == 0, s"cartesian product in routed O32 plan:\n$plan")
    assert(nlj <= 2, s"unexpected NL joins (corpus-scaled side?) in routed O32 plan:\n$plan")
  }

  // -------------------------------------------- O42 null-safe keys

  test("O42 maintainAggView: a NULL key present in view and delta merges into ONE row") {
    import org.apache.spark.sql.Row
    val view = Seq((Option(1L), 2L, 10L), (Option.empty[Long], 3L, 30L))
      .toDF("k", "cnt", "s")
    val delta = Seq((Option.empty[Long], 5L), (Option(7L), 1L)).toDF("k", "v")
    val out = Ops.maintainAggView(view, delta, Seq("k"),
      Seq(("cnt", "count", lit(1)), ("s", "sum", $"v")))
      .orderBy($"k".asc_nulls_first).collect().toSeq
    // NULL key: 3+1 ops, 30+5 sum — two unmerged legs would show (3,30)+(1,5)
    assert(out == Seq(Row(null, 4L, 35L), Row(1L, 2L, 10L), Row(7L, 1L, 1L)),
      s"got $out")
  }

  // ------------------------------------------------- t27 window dedup

  test("t27: reported hashes group genuinely identical windows; exact-dup docs surface") {
    val windows = TextAnalysis.tokenizeWindows(docs, 64)
      .withColumn("window_hash",
        md5(concat_ws(" ", expr("transform(ids, x -> cast(x as string))"))))
      .cache()
    // the rep-key packing invariant the query relies on
    assert(windows.agg(max($"window_id")).head().getLong(0) < 100000L)
    val q = TextAnalysis.all.find(_.name == "t27_window_dedup").get
      .build(spark, sfDir).cache()
    assert(q.count() > 0, "the corpus's exact-dup docs must produce dup windows")
    // first principles on one reported group: every member's id array
    // is bit-identical (md5 grouping is content grouping)
    val h = q.orderBy($"n_copies".desc, $"window_hash").head()
    val members = windows.where($"window_hash" === h.getString(0))
      .select($"ids").collect().map(_.getSeq[Long](0))
    assert(members.length.toLong == h.getLong(1) && members.distinct.length == 1)
    // an exact-duplicate DOCUMENT (same raw text) makes every one of
    // its windows a duplicate — the d01 relationship. sf0.001 has no
    // raw-text twins (its dups differ in whitespace/case), so the
    // clause binds only where a twin exists; the group-equality pin
    // above carries the semantics either way.
    docs.withColumn("_h", md5($"text"))
      .groupBy($"_h").agg(count(lit(1)).as("c"), min($"doc_id").as("d"))
      .where($"c" >= 2).orderBy($"d").take(1).foreach { twin =>
        val twinWindows = windows.where($"doc_id" === twin.getLong(2))
          .select($"window_hash").distinct()
        assert(twinWindows.exceptAll(q.select($"window_hash")).isEmpty,
          "a window of an exact-dup doc was not reported as duplicated")
      }
    windows.unpersist(); q.unpersist()
  }

  // -------------------------------------------- t24 enforced certificate

  test("t24: an uncertifiable sketch falls back to the exact top-20") {
    // kP=2 starves the Misra-Gries counters so the 20th row cannot
    // clear the N/(kP+1) bound — the sketch result would depend on
    // partition layout. The certificate check must detect it and
    // return the exact groupBy answer instead.
    val got = TextAnalysis.topKSketchCertified(spark, sfDir, kP = 2)
      .select($"w", $"cnt").collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = docs
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"w").limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == exact.toSeq,
      "uncertified sketch result must be replaced by the exact top-20")
  }

  test("t24: the certified path returns 20 provable rows at kP=4096") {
    val rows = TextAnalysis.topKSketchCertified(spark, sfDir, kP = 4096).collect()
    assert(rows.length == 20 && rows.forall(_.getAs[Boolean]("provable")),
      "expected a fully certified top-20 on the Zipfian test corpus")
  }
}
