package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Round-8 convergence-stop variants of the iterative graph ops.
  *
  * The canned g01/g03 queries keep FIXED round counts so their DuckDB
  * oracles terminate (a data-dependent fixpoint can't be a literal
  * CTE unroll); Ops.kCore / Graph.pageRankConverged are what a user
  * calls. These specs pin both directions of the contract:
  * fixpoint == fixed-round output where the fixed rounds already
  * converged (g03's graph), and fixpoint != fixed-round where they
  * did NOT (a chain, where peeling advances two nodes per round).
  */
class Round8GraphSpec extends SparkTestBase {

  import spark.implicits._

  private def g03Edges = {
    val ip = Tables.load(spark, sfDir, "lineitem")
      .filter($"l_quantity" >= 30)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    val und = ip.as("a").join(ip.as("b"), "ok")
      .where($"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v")).distinct()
    und.select($"u".as("src"), $"v".as("dst"))
      .unionAll(und.select($"v".as("src"), $"u".as("dst")))
  }

  test("kCore fixpoint equals g03's 5 fixed rounds (already converged there)") {
    val fixed = graft.SparkEntry.queries("g03_kcore_peel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fix = Ops.kCore(g03Edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fix == fixed,
      s"kCore fixpoint (${fix.size} nodes) != g03 5-round output (${fixed.size})")
    spark.catalog.clearCache()
  }

  test("kCore on a chain: 5 rounds is NOT converged, the fixpoint is empty") {
    // path 1-2-...-15 with k=2: each round only exposes-and-peels the
    // two current endpoints, so round r leaves 15-2r nodes — five
    // rounds leave 5 survivors that a fixed-round peel would wrongly
    // report as a 2-core
    val und = (1 to 14).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    val e = und.select($"u".as("src"), $"v".as("dst"))
      .unionAll(und.select($"v".as("src"), $"u".as("dst")))
    var e5 = e
    for (_ <- 1 to 5) {
      val keep = e5.groupBy($"src").agg(count(lit(1)).as("d"))
        .where($"d" >= 2).select($"src".as("_k"))
      e5 = e5.join(keep.select($"_k".as("src")), Seq("src"), "left_semi")
        .join(keep.select($"_k".as("dst")), Seq("dst"), "left_semi")
        .select($"src", $"dst").localCheckpoint(eager = false)
    }
    val after5 = e5.select($"src").distinct().count()
    assert(after5 == 5, s"5 fixed rounds should leave 5 chain nodes, got $after5")
    // the shared window peel round (g03's and kCore's) equals the
    // degree-agg + semi-join round, five rounds deep
    val peeled = (1 to 5).foldLeft(e)((cur, r) => Ops.peelRound(cur, 2, r))
    assert(peeled.collect().toSet == e5.collect().toSet)
    assert(Ops.kCore(e, k = 2).count() == 0,
      "a chain has no 2-core: the fixpoint must be empty")
  }

  test("kCore raises when maxRounds is hit before the fixpoint") {
    val und = (1 to 14).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    val e = und.select($"u".as("src"), $"v".as("dst"))
      .unionAll(und.select($"v".as("src"), $"u".as("dst")))
    val ex = intercept[IllegalArgumentException] { Ops.kCore(e, k = 2, maxRounds = 2) }
    assert(ex.getMessage.contains("no fixpoint"), ex.getMessage)
  }

  test("pageRankConverged stops at the first iterate within epsilon of its predecessor") {
    // weighted star + tail: h-a/b/c plus a pendant d-a path so ranks
    // keep moving for several iterations
    val pairs = Seq(("h", "a", 2L), ("h", "b", 1L), ("h", "c", 1L), ("a", "d", 1L))
    val edges = pairs.toDF("src", "dst", "w")
      .unionAll(pairs.map { case (s, d, w) => (d, s, w) }.toDF("src", "dst", "w"))
    val eps = 2000000000L // 2e9 fp == 2e-3 rank units
    // sequential replay of the SAME integer recurrence, stepping until
    // max |delta| <= eps — the expected stop iterate
    val scale = 1000000000000L
    val seq = pairs ++ pairs.map { case (s, d, w) => (d, s, w) }
    val wOut = seq.groupBy(_._1).map { case (n, es) => n -> es.map(_._3).sum }
    val nodes = seq.flatMap { case (s, d, _) => Seq(s, d) }.toSet
    var r = nodes.map(_ -> scale).toMap
    var expected: Map[String, Long] = null
    var steps = 0
    while (expected == null && steps < 60) {
      val in = seq.map { case (s, d, w) => d -> (r(s) * w) / wOut(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      val next = nodes.map { nd =>
        nd -> (3L * scale / 20L + (17L * in.getOrElse(nd, 0L)) / 20L)
      }.toMap
      val delta = nodes.map(nd => math.abs(next(nd) - r(nd))).max
      if (delta <= eps) expected = next
      r = next
      steps += 1
    }
    assert(expected != null, "replay never reached epsilon — test graph too restless")
    val got = Graph.pageRankConverged(edges, epsilonFp = eps, maxIters = 60)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == expected,
      s"converged ranks != replay stop iterate (replay took $steps steps): $got vs $expected")
  }

  test("labelPropagation splits two bridged triangles into two communities") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: after 3
    // synchronous min-tie-break rounds the hand-computed labels are
    // {1,2,3}->1 and {4,5,6}->3 (worked forward round by round)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("u", "v")
    val got = Graph.labelPropagation(und, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      s"got $got")
  }

  test("g05 matches a sequential synchronous-LPA replay at sf0.001") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("g05_label_propagation")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val ip = graft.tables.Tables.load(spark, sfDir, "lineitem")
      .filter($"l_quantity" >= 30)
      .select($"l_orderkey", $"l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = ip.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val sym = und.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
    val adj = sym.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lbl = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = adj.map { case (n, nbrs) =>
        val byLabel = nbrs.map(lbl).groupBy(identity).map { case (l, xs) => (l, xs.size) }
        n -> byLabel.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    val sizes = lbl.values.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    val expected = lbl.toSeq.map { case (n, l) => (n, l, sizes(l)) }.sortBy(_._1)
    assert(got.toSeq == expected)
    assert(expected.map(_._2).distinct.size > 1, "sf0.001 graph should split into >1 community")
  }
}
