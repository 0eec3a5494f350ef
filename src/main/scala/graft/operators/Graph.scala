package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Graph-analytics operators over interaction data (SURVEY.md §2.3).
  *
  * A training-data pipeline ranks ENTITIES, not just documents: crawl
  * pipelines weight domains by link-graph importance before sampling,
  * and interaction graphs (user x item, doc x cluster) need the same
  * machinery. d06/d08 already cover connected components; g01 adds the
  * other classic — PageRank — in a fully deterministic fixed-point
  * integer formulation so it carries a value-level DuckDB oracle
  * (floating-point PageRank cannot: per-iteration double summation
  * order differs between engines and the drift compounds).
  */
object Graph {

  /** Rank scale: 1.0 == 1e12 micro-units. All arithmetic is int64. */
  private[operators] val Scale = 1000000000000L

  /** Weighted PageRank over an edge list, `iters` synchronous
    * iterations, damping 0.85 held EXACT as the integer form
    * r' = 0.15*Scale + (17 * (recv + dangling_share)) div 20 with
    * recv = sum over in-edges of (r * w) div w_out — floor division
    * on non-negative int64 is identical in Spark (`div`) and DuckDB
    * (`//`), so every iteration is bit-reproducible across engines.
    *
    * Node universe = src ∪ dst. DANGLING nodes (no out-edges) don't
    * leak their mass: each iteration their summed rank redistributes
    * uniformly as dangling_share = D div n (integer floor — the
    * remainder D mod n < n micro-units/iteration is truncation loss,
    * same order as the per-edge floors). Nodes with no in-edges keep
    * the damped floor 0.15*Scale instead of dropping out of the frame.
    *
    * Overflow is GUARDED, not documented away: each contribution
    * checks r <= int64_max div w and each combine checks
    * recv + share <= int64_max div 17, raising a runtime error (the
    * same condition DuckDB raises on natively) instead of wrapping
    * silently — so both engines fail loudly and identically. For
    * graphs that trip it, pre-scale weights (divide by their gcd or
    * bucket them) or drop Scale. Non-positive weights also raise.
    *
    * Scale shape: `edges` and the out-weight frame are computed once,
    * checkpointed and reused across iterations ([[Fixpoint]] cuts every
    * iteration); each iteration is ONE join keyed on src
    * (ranks are node-keyed, co-partitioned with the out-weights) and
    * ONE dst-keyed aggregation — the canonical Spark PageRank shuffle
    * pattern. Graphs that actually have dangling or no-in-edge nodes
    * additionally pay a per-iteration single-row dangling-mass
    * aggregate (broadcast) and a node-keyed left join; graphs with
    * neither are detected once at build time and skip both (g01's
    * bidirectional projection takes that fast path). Rank state is
    * 16 bytes/node.
    */
  def pageRankWeighted(
      edges: DataFrame, // src, dst, w (directed; pass both directions for undirected)
      iters: Int
  ): DataFrame = prLoop(edges, iters, epsilonFp = None)

  /** [[pageRankWeighted]] with a CONVERGENCE stop instead of a fixed
    * iteration count — the variant a user calls when no oracle needs
    * a literal CTE unroll. Stops when max_node |r_t − r_{t−1}| <=
    * `epsilonFp` (rank micro-units; Scale = 1e12 == rank 1.0), or at
    * `maxIters`. The integer recurrence reaches an EXACT fixpoint
    * (floor arithmetic has no limit cycles here in practice), so
    * epsilonFp = 0 demands bit-stability; the default 1e6 fp == 1e-6
    * rank units is the usual engineering tolerance. Cost per
    * iteration: the fixed-variant plan + ONE max-|Δ| aggregate (a
    * node-keyed join of consecutive checkpointed rank frames — at
    * 100 TB the same shuffle class as the iteration itself, so the
    * stop check roughly doubles per-iteration cost; prefer the fixed
    * variant when the round budget is known).
    */
  def pageRankConverged(
      edges: DataFrame,
      epsilonFp: Long = 1000000L,
      maxIters: Int = 50
  ): DataFrame = prLoop(edges, maxIters, epsilonFp = Some(epsilonFp))

  private def prLoop(
      edges: DataFrame,
      maxIters: Int,
      epsilonFp: Option[Long]
  ): DataFrame = {
    // out-weights are folded into the edge frame ONCE, so each
    // iteration is a single src-keyed join + one dst-keyed agg (the
    // naive form joins ranks->outW->edges: 2 joins and 2 broadcast
    // builds per iteration — measurably half the wall cost here was
    // that second build x 5 iterations).
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    val ew = Fixpoint.invariant(e.join(outW, "src"))
    // node universe + has-out/has-in flags in ONE shuffle over the
    // CHECKPOINTED edge frame (scanning `e` here would re-execute the
    // caller's upstream plan a second time; the probe action below
    // materializes ew, which the iterations then reuse).
    val deg = ew.select(col("src").as("node"), lit(1).as("_o"), lit(0).as("_i"))
      .unionAll(ew.select(col("dst").as("node"), lit(0).as("_o"), lit(1).as("_i")))
      .groupBy(col("node")).agg(max(col("_o")).as("_o"), max(col("_i")).as("_i"))
      .graftCheckpointLazy
    val nodes = deg.select(col("node"))

    // per-edge guard: non-positive weights and r*w int64 overflow
    // raise instead of wrapping (the same conditions DuckDB raises on
    // natively, so the engines fail identically). Codegen'd CASE —
    // two long compares per edge per iteration.
    val guardedContrib = expr(
      "CASE WHEN w <= 0 THEN raise_error(concat(" +
        "'pageRankWeighted: edge weights must be positive, got ', CAST(w AS STRING))) " +
        s"WHEN r > ${Long.MaxValue}L div w THEN raise_error(concat(" +
        "'pageRankWeighted: rank*weight overflows int64 (r=', CAST(r AS STRING), " +
        "', w=', CAST(w AS STRING), ') — pre-scale weights')) " +
        "ELSE (r * w) div w_out END")

    // Structural specialization, decided ONCE at build (the dangling
    // and no-in-edge node sets are fixed across iterations): when the
    // graph has neither — every strongly-bidirectional graph, e.g.
    // g01's u<->t projection — each iteration collapses to the
    // single-join + dst-agg fast path, and the dangling/left-join
    // machinery costs nothing. ONE probe job over the checkpointed
    // degree frame; at 100 TB that's one pass over the node list,
    // amortized over `iters` heavier passes.
    val dangling = deg.where(col("_o") === 0).select(col("node"))
      .graftCheckpointLazy
    val simple = deg.where(col("_o") === 0 || col("_i") === 0).isEmpty

    // loop-invariant node count, ONE job before the loop — the former
    // per-iteration broadcast(nCnt) rebuilt the same 1-row relation
    // every iteration (one extra job + broadcast each)
    val nTotal = if (simple) 0L else nodes.count()

    val init = nodes.select(col("node"), lit(Scale).as("r"))
    // max-|Δ| on the two cut rank frames; the same node universe on
    // both sides, so an inner join is exact
    val probe = epsilonFp.fold[Fixpoint.Probe](Fixpoint.NoProbe) { eps =>
      Fixpoint.Settled { (prev, next) =>
        next.join(prev.select(col("node"), col("r").as("_rp")), Seq("node"))
          .agg(coalesce(max(abs(col("r") - col("_rp"))), lit(0L)))
          .head().getLong(0) <= eps
      }
    }
    // every round is cut: the non-simple round reads its ranks twice
    Fixpoint.iterate(init, maxIters, Fixpoint.Bounded, probe) { (ranks, _) =>
      val contrib = ranks
        .join(ew, col("node") === col("src"))
        .select(col("dst"), guardedContrib.as("_c"))
      if (simple) {
        contrib.groupBy(col("dst").as("node"))
          .agg(sum(col("_c")).as("_s"))
          .select(col("node"), damped("_s").as("r"))
      } else {
        val recv = contrib.groupBy(col("dst").as("node")).agg(sum(col("_c")).as("_s"))
        // the dangling mass is ONE scalar per iteration: take it on
        // the driver and fold the per-node share in as a literal —
        // this replaces TWO per-iteration broadcast-build jobs (dang,
        // nCnt) with one scalar action. div semantics unchanged: both
        // operands are non-negative int64, so Scala / == floor div ==
        // `div`.
        val dangMass = ranks
          .join(dangling, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0L))).head().getLong(0)
        val share = if (nTotal == 0L) 0L else dangMass / nTotal
        nodes
          .join(recv, Seq("node"), "left")
          .select(col("node"), damped(s"coalesce(_s, 0L) + ${share}L").as("r"))
      }
    }._1
  }

  /** 0.15*Scale + (17 * mass) div 20, with a loud int64 guard on the
    * 17x blowup (DuckDB raises on the same condition natively).
    */
  private def damped(massSql: String): org.apache.spark.sql.Column = expr(
    s"CASE WHEN ($massSql) > ${Long.MaxValue}L div 17 " +
      "THEN raise_error('pageRankWeighted: damped combine overflows int64 — pre-scale weights') " +
      s"ELSE ${3L * Scale / 20L}L + (17L * ($massSql)) div 20 END")

  /** Exact triangle counting via degree orientation.
    *
    * `edges` is the DISTINCT undirected edge set with u < v. Each edge
    * is oriented from its lower-(degree, id) endpoint to its higher
    * one; that total order makes every triangle an acyclic tournament
    * with exactly ONE node owning two out-edges, so enumerating wedges
    * (a→b, a→c) and closing them against the undirected set counts
    * each triangle exactly once — no /3 or /6 correction, and no
    * dependence on id distribution.
    *
    * Scale shape: orientation is THE classical skew bound — a node's
    * oriented out-degree is O(sqrt(m)) regardless of its raw degree,
    * so the wedge self-join cannot explode on celebrity nodes the way
    * an id-ordered (a<b<c) join does when low ids happen to be hubs.
    * Three shuffles total: the degree agg, the wedge self-join keyed
    * on the wedge apex, and the closing equi-join keyed on the
    * (lo, hi) pair. Everything else is map-side.
    */
  /** Synchronous label propagation over an undirected edge list
    * (columns `u`, `v`), `rounds` fixed iterations: every node starts
    * as its own label; each round it adopts the label held by the
    * most of its neighbors, ties broken toward the SMALLEST label —
    * fully deterministic, so (unlike classic async LPA, whose result
    * depends on visit order) it carries a value-level oracle.
    *
    * Scale shape: per round ONE join of the symmetric edge list
    * against the node-keyed label frame (keyed on dst) + ONE
    * (node, label) count + ONE node-keyed argmax — all keyed
    * shuffles, linear in edges. The argmax is max(struct(c, -label)):
    * a map-side-combinable aggregation, NOT a per-node window sort.
    * Label state is 16 bytes/node.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val (sym, init) = lpaInit(edges)
    // each round reads `lbl` once, so the rounds chain into one query
    Fixpoint.iterate(init, rounds, Fixpoint.Bounded, cutEvery = Fixpoint.ChainCut) {
      (lbl, _) => lpaRound(sym, lbl)
    }._1
  }

  /** [[labelPropagation]] run to FIXPOINT — the convergence-stop
    * variant (the O34 treatment g03/kCore and g01/pageRankConverged
    * already have): g05 keeps 3 fixed rounds so its DuckDB oracle is
    * a literal CTE unroll; THIS is what a user calls. Each round is
    * the same deterministic min-tie-break synchronous update; stops
    * when NO node changes label — detected by one node-keyed join of
    * consecutive checkpointed label frames per round, short-circuited
    * at the first changed row (`isEmpty` plans a limit-1), so a
    * non-converged round costs one early-exiting probe, and only the
    * final converged round pays the full comparison scan. Hitting
    * `maxRounds` RAISES rather than returning a non-fixpoint
    * silently — a real risk, not just a bound: synchronous LPA can
    * 2-cycle forever on bipartite structure (two nodes swapping
    * labels each round never converge), which is exactly the case
    * the spec's counter-graph pins.
    */
  def labelPropagationConverged(edges: DataFrame, maxRounds: Int = 100): DataFrame = {
    val (sym, init) = lpaInit(edges)
    val unchanged = Fixpoint.Settled { (prev, next) =>
      next.join(prev.select(col("node"), col("l").as("_prev")), Seq("node"))
        .where(col("l") =!= col("_prev")).isEmpty
    }
    Fixpoint.iterate(init, maxRounds,
      Fixpoint.MustConverge("labelPropagationConverged",
        "labels still changing: raise maxRounds, or the graph oscillates (synchronous " +
          "LPA 2-cycles on bipartite structure); use labelPropagation(rounds = n) for a " +
          "fixed budget"),
      unchanged) { (lbl, _) => lpaRound(sym, lbl) }._1
  }

  /** Shared LPA setup: symmetric edge frame + self-label init. */
  private def lpaInit(edges: DataFrame): (DataFrame, DataFrame) = {
    val sym = Fixpoint.invariant(edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst"))))
    val init = sym.select(col("src").as("node")).distinct()
      .withColumn("l", col("node"))
      .graftCheckpointLazy
    (sym, init)
  }

  /** One synchronous LPA round (see [[labelPropagation]] for the
    * plan-shape discussion — one dst-keyed join, one (node, label)
    * count, one map-side-combinable argmax).
    */
  private def lpaRound(sym: DataFrame, lbl: DataFrame): DataFrame = {
    val nbr = sym.join(lbl.select(col("node").as("dst"), col("l")), Seq("dst"))
    // ONE exchange per round, not two (§2.4): hash-partitioning by
    // src alone satisfies the clustered distribution of BOTH the
    // (src, l) count and the per-src argmax (subset rule), so after
    // the explicit repartition the two aggregations run back-to-back
    // with no further exchange. The count still aggregates partially
    // before each task emits (hash agg above the exchange), and src
    // cardinality = node count, so the partitioning is as spread as
    // (src, l) was. Measured at sf0.1: g05 2.9 -> 2.4 s, g10
    // 4.0 -> 3.3 s warm; values unchanged (oracle-gated).
    val cnt = nbr.repartition(col("src")).groupBy(col("src"), col("l"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("src"))
      .agg(max(struct(col("c"), (-col("l")).as("negl"))).as("m"))
      .select(col("src").as("node"), (-col("m.negl")).as("l"))
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(col("u"), col("v"))
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val wedges = oriented.as("x")
      .join(oriented.as("y"), col("x.s") === col("y.s") && col("x.t") < col("y.t"))
      .select(col("x.s").as("a"), col("x.t").as("b"), col("y.t").as("c"))
    val tri = wedges
      .join(und, least(col("b"), col("c")) === col("u") &&
        greatest(col("b"), col("c")) === col("v"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Semi-naive BFS: minimum hop distance from `seeds` (one `node`
    * column) over a directed edge list (`src`, `dst`; pass both
    * directions for undirected), bounded at `maxHops`. Returns
    * (node, dist) with dist = the shortest hop count <= maxHops —
    * the engine's recursive/iterative construct (CTE-shaped
    * reachability: transitive closure, org charts, dependency cones,
    * crawl-frontier expansion), which the fixed relational surface
    * could not express (round-8 verdict frontier gap 1). Unlike the
    * fixed-round graph oracles (g01/g03/g05 unroll because a
    * data-dependent fixpoint can't be CTE'd), BFS's fixpoint IS
    * oracle-able: `WITH RECURSIVE ... UNION` terminates exactly when
    * no new (node, dist) row appears, so g06 value-gates the
    * convergence-stopped loop itself, not an unrolled approximation.
    *
    * Semi-naive discipline (Datalog's delta rule): each round joins
    * only the FRONTIER (nodes first reached last round) against the
    * edge list — never the accumulated visited set — so per-round
    * work is O(frontier-out-edges), total O(E + V) over the run.
    * Plan per round: one src-keyed semi-join driving the expansion,
    * one distinct on the new candidates, one anti-join against
    * visited (both node-keyed, co-partitioned by AQE); the loop is
    * [[Fixpoint.semiNaive]], so rounds after exhaustion are never
    * launched. At 100 TB:
    * every shuffle is node- or src-keyed; visited grows to the
    * reachable set but is only ever anti-join probe side; no
    * driver-side state beyond the loop counter.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"bfsDistances: maxHops must be >= 0, got $maxHops")
    bfsLoop(edges,
      seeds.select(col("node")).distinct().withColumn("dist", lit(0)),
      labelCols = Seq.empty, maxHops)
  }

  /** The semi-naive BFS round behind [[bfsDistances]] (labelCols
    * empty) and [[bfsDistancesPerSeed]] (labelCols = seed). `init`
    * must carry labelCols ++ (node, dist=0).
    */
  private def bfsLoop(
      edges: DataFrame,
      init: DataFrame,
      labelCols: Seq[String],
      maxHops: Int
  ): DataFrame = {
    val e = Fixpoint.invariant(edges.select(col("src"), col("dst")))
    val keyCols = labelCols :+ "node"
    Fixpoint.semiNaive(init, maxHops) { (frontier, visited, hop) =>
      e.join(frontier.select(keyCols.map(col): _*).withColumnRenamed("node", "src"),
          Seq("src"), if (labelCols.isEmpty) "left_semi" else "inner")
        .select((labelCols.map(col) :+ col("dst").as("node")): _*).distinct()
        .join(visited.select(keyCols.map(col): _*), keyCols, "left_anti")
        .withColumn("dist", lit(hop))
    } { (visited, delta) => visited.unionAll(delta.select(visited.columns.map(col): _*)) }
  }

  /** [[bfsDistances]] PER SEED: (seed, node, dist) for every seed in
    * `seeds` independently — the labeled multi-source BFS centrality
    * computations consume (per-seed reach sets, harmonic/closeness
    * sums, landmark distance sketches). All seeds advance in the SAME
    * synchronous rounds: the frontier is (seed, node) pairs, the
    * expansion is one src-keyed join per round regardless of seed
    * count, and visited is keyed (seed, node) — total work
    * O(Σ per-seed reachable edges), which is why callers bound
    * maxHops and sparsify seeds rather than running all-pairs.
    */
  def bfsDistancesPerSeed(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"bfsDistancesPerSeed: maxHops must be >= 0, got $maxHops")
    bfsLoop(edges,
      seeds.select(col("node").as("seed")).distinct()
        .withColumn("node", col("seed"))
        .withColumn("dist", lit(0)),
      labelCols = Seq("seed"), maxHops)
  }

  /** Bounded-hop single-source shortest paths over a weighted edge
    * list (`src`, `dst`, `w` — positive integer weights; pass both
    * directions for undirected): minimum total path WEIGHT from
    * `seeds` over paths of at most `rounds` edges. The weighted
    * complement of [[bfsDistances]] — hop counts answer "reachable
    * how soon", weights answer "reachable how cheaply" (link-graph
    * closeness, co-purchase affinity distance, similarity-graph
    * geodesics). Integer weights keep every dist an exact int64, so
    * the whole frame is value-level oracle-able (g07); fp weights
    * would drift across engines by summation order.
    *
    * Semi-naive Bellman-Ford: round r relaxes only from nodes whose
    * best distance IMPROVED in round r-1 (the delta — a node whose
    * dist is unchanged re-offers exactly the contributions already
    * folded in, so skipping it is lossless; classic delta-stepping
    * discipline). Per round: one src-keyed join frontier⋈edges, one
    * dst-keyed pre-min, one node-keyed left join to detect strict
    * improvement, one node-keyed min-merge into the running dist
    * frame — all keyed shuffles, on [[Fixpoint.semiNaive]]. Rounds
    * after the last improvement are never launched (negative-free
    * weights make dist monotone, so an empty delta is a true
    * fixpoint, not a pause).
    */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"ssspBounded: rounds must be >= 0, got $rounds")
    val e = Fixpoint.invariant(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    Fixpoint.semiNaive(seeds.select(col("node")).distinct().withColumn("dist", lit(0L)),
        rounds) { (frontier, dist, _) =>
      e.join(frontier.select(col("node").as("src"), col("dist").as("_d")), Seq("src"))
        .select(col("dst").as("node"), (col("_d") + col("w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .join(dist.select(col("node"), col("dist").as("_old")), Seq("node"), "left")
        .where(col("_old").isNull || col("dist") < col("_old"))
        .select(col("node"), col("dist"))
    } { (dist, improved) =>
      dist.unionAll(improved).groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
  }

  val all: Seq[Q] = Seq(
    Q(
      "g01_pagerank_weighted",
      "Deterministic integer PageRank over the bipartite user<->event_type interaction graph",
      (spark, dir) => {
        import spark.implicits._
        // The domain-ranking shape crawl curation runs before
        // sampling: project events into a weighted bipartite graph
        // (edge weight = interaction count), walk 5 damped iterations,
        // rank every node. Node ids are namespaced strings so the two
        // partitions share one id space. All-integer: see
        // [[pageRankWeighted]].
        val ue = Tables.load(spark, dir, "events")
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("w"))
          .select(concat(lit("u"), $"user_id".cast("string")).as("u"),
            concat(lit("t"), $"event_type").as("t"), $"w")
        val edges = ue.select($"u".as("src"), $"t".as("dst"), $"w")
          .unionAll(ue.select($"t".as("src"), $"u".as("dst"), $"w"))
        pageRankWeighted(edges, iters = 5)
          .select($"node", $"r".as("rank_fp"),
            round($"r".cast("double") / Scale, 9).as("rank"))
          .orderBy($"rank_fp".desc, $"node")
      },
      Some {
        // same formulation as pageRankWeighted: full node universe,
        // LEFT JOIN on received mass, dangling mass D // n added to
        // every node. Each it{t-1} is referenced TWICE (recv +
        // dangling) → AS MATERIALIZED, the g03 inlining lesson.
        val iterCtes = (1 to 5).map { t =>
          s"""it$t AS MATERIALIZED (SELECT nd.node,
            CAST(150000000000 + (17 * (COALESCE(rc.s, 0) + dg.d // nc.n)) // 20 AS BIGINT) AS r
          FROM nodes nd
          LEFT JOIN (SELECT e.dst AS node, CAST(SUM((p.r * e.w) // d.w_out) AS BIGINT) AS s
            FROM it${t - 1} p
            JOIN edges e ON e.src = p.node
            JOIN deg d ON d.node = p.node
            GROUP BY e.dst) rc ON rc.node = nd.node
          CROSS JOIN (SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT) AS d FROM it${t - 1} p
            WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.node = p.node)) dg
          CROSS JOIN nc)"""
        }.mkString(",\n        ")
        s"""WITH ue AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS u,
            't' || event_type AS t, CAST(COUNT(*) AS BIGINT) AS w
          FROM events GROUP BY user_id, event_type),
        edges AS MATERIALIZED (SELECT u AS src, t AS dst, w FROM ue
          UNION ALL SELECT t AS src, u AS dst, w FROM ue),
        deg AS MATERIALIZED (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS w_out
          FROM edges GROUP BY src),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
          SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        nc AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        it0 AS MATERIALIZED (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
        $iterCtes
        SELECT node, r AS rank_fp, ROUND(CAST(r AS DOUBLE) / 1000000000000, 9) AS rank
        FROM it5 ORDER BY rank_fp DESC, node"""
      }
    ),

    Q(
      "g04_pagerank_dangling",
      "Integer PageRank on the DIRECTED user->event_type graph — every type node is a sink",
      (spark, dir) => {
        import spark.implicits._
        // g01's bidirectional projection takes the no-dangling fast
        // path, so the dangling-redistribution machinery would carry
        // only spec coverage. THIS query oracle-gates it: the
        // one-direction projection makes every event_type node a SINK
        // (its damped mass redistributes as D div n) and every user
        // node in-edge-free (held at the 0.15 floor + share) — the
        // general path end-to-end under the DuckDB oracle.
        val edges = Tables.load(spark, dir, "events")
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("w"))
          .select(concat(lit("u"), $"user_id".cast("string")).as("src"),
            concat(lit("t"), $"event_type").as("dst"), $"w")
        pageRankWeighted(edges, iters = 5)
          .select($"node", $"r".as("rank_fp"),
            round($"r".cast("double") / Scale, 9).as("rank"))
          .orderBy($"rank_fp".desc, $"node")
      },
      Some {
        val iterCtes = (1 to 5).map { t =>
          s"""it$t AS MATERIALIZED (SELECT nd.node,
            CAST(150000000000 + (17 * (COALESCE(rc.s, 0) + dg.d // nc.n)) // 20 AS BIGINT) AS r
          FROM nodes nd
          LEFT JOIN (SELECT e.dst AS node, CAST(SUM((p.r * e.w) // d.w_out) AS BIGINT) AS s
            FROM it${t - 1} p
            JOIN edges e ON e.src = p.node
            JOIN deg d ON d.node = p.node
            GROUP BY e.dst) rc ON rc.node = nd.node
          CROSS JOIN (SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT) AS d FROM it${t - 1} p
            WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.node = p.node)) dg
          CROSS JOIN nc)"""
        }.mkString(",\n        ")
        s"""WITH edges AS MATERIALIZED (SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
            't' || event_type AS dst, CAST(COUNT(*) AS BIGINT) AS w
          FROM events GROUP BY user_id, event_type),
        deg AS MATERIALIZED (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS w_out
          FROM edges GROUP BY src),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
          SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        nc AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        it0 AS MATERIALIZED (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
        $iterCtes
        SELECT node, r AS rank_fp, ROUND(CAST(r AS DOUBLE) / 1000000000000, 9) AS rank
        FROM it5 ORDER BY rank_fp DESC, node"""
      }
    ),

    Q(
      "g02_triangle_count",
      "Per-node exact triangle counts on the part co-purchase graph, degree-oriented",
      (spark, dir) => {
        import spark.implicits._
        // Co-occurrence graphs (parts bought together, domains linked
        // together, docs sharing a cluster) get triangle counts as the
        // standard cohesion signal — clustering coefficient numerators,
        // community seeds. Graph: parts co-purchased in the same order
        // with l_quantity >= 30 (degree ~28 at any sf: orders AND parts
        // both scale linearly, so the graph grows linearly and the
        // per-node neighborhood stays bounded). The Spark side orients
        // by degree for the skew bound; the oracle enumerates a<b<c —
        // deliberately different formulations, identical triangles.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val edges = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
        triangleCounts(edges)
          .orderBy($"n_tri".desc, $"node")
      },
      Some("""WITH ip AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        und AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p),
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM und e1 JOIN und e2 ON e2.u = e1.v
          JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
        corners AS (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM corners GROUP BY node ORDER BY n_tri DESC, node""")
    ),

    Q(
      "g03_kcore_peel",
      "3-core peeling, 5 synchronous rounds: surviving nodes + their residual degree",
      (spark, dir) => {
        import spark.implicits._
        // The densest-region filter community detection starts from:
        // repeatedly remove nodes with degree < k. Five SYNCHRONOUS
        // peel rounds (fixed count, like g01's iterations, so the
        // oracle is a literal 5-stage CTE unroll — a data-dependent
        // fixpoint would leave the oracle unable to know when to
        // stop). Each round is [[Ops.peelRound]]; the 5 rounds run
        // as one query.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val und = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
        val sym = und.select($"u".as("src"), $"v".as("dst"))
          .unionAll(und.select($"v".as("src"), $"u".as("dst")))
        val (e, _) = Fixpoint.iterate(sym, 5, Fixpoint.Bounded, cutEvery = Fixpoint.ChainCut) {
          (e, r) => Ops.peelRound(e, 3, r)
        }
        e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
          .orderBy($"node")
      },
      Some {
        // every e{r-1} is referenced TWICE per stage (degree agg +
        // edge restriction): if DuckDB INLINES the CTEs the plan tree
        // doubles per stage — 2^5 copies of the und self-join
        // (measured: 58 s vs 0.9 s at sf0.1; disk-spill death at
        // sf1). AS MATERIALIZED pins each stage to evaluate once.
        val peels = (1 to 5).map { r =>
          s"""k$r AS MATERIALIZED (SELECT src AS node FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= 3),
          e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
            JOIN k$r a ON e.src = a.node JOIN k$r b ON e.dst = b.node)"""
        }.mkString(",\n        ")
        s"""WITH ip AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p),
        e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
          UNION ALL SELECT v, u FROM und),
        $peels
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM e5 GROUP BY src ORDER BY node"""
      }
    ),

    Q(
      "g05_label_propagation",
      "Deterministic label propagation, 3 synchronous rounds: community labels on the co-purchase graph",
      (spark, dir) => {
        import spark.implicits._
        // The community-detection complement to d06/d08's connected
        // components: CC merges everything reachable; LPA splits a
        // connected graph into densely-linked groups — the granularity
        // domain/topic clustering actually wants. Classic async LPA is
        // visit-order-dependent; this is the synchronous
        // min-tie-break variant (see [[labelPropagation]]), so the
        // oracle replays it exactly. Same co-purchase graph as
        // g02/g03; 3 fixed rounds for CTE-unrollable termination.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val und = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
        val lbl = labelPropagation(und, rounds = 3)
        // member counts via a map-side-combinable agg + join-back,
        // NOT count() over (partition by l): the window form ships
        // every member row of a community to ONE task — on a graph
        // whose biggest community is corpus-scale that task is the
        // straggler. The agg frame is one row per SURVIVING label —
        // up to one per NODE on a fragmented graph — so it is NOT
        // bounded by construction; no broadcast hint, AQE sizes the
        // join (broadcast while it fits, shuffle on l past that),
        // the same discipline as d11's bands join.
        val sizes = lbl.groupBy($"l")
          .agg(count(lit(1)).cast("long").as("n_members"))
        lbl.join(sizes, Seq("l"))
          .select($"node", $"l".as("label"), $"n_members")
          .orderBy($"node")
      },
      Some {
        s"""$lpaOracleCtes
        SELECT l3.node AS node, l3.l AS label, CAST(cnt.n AS BIGINT) AS n_members
        FROM l3 JOIN (SELECT l, COUNT(*) AS n FROM l3 GROUP BY l) cnt ON cnt.l = l3.l
        ORDER BY node"""
      }
    ),

    Q(
      "g06_bfs_reachability",
      "Semi-naive BFS hop distances from a seed set, 3-hop bound — the recursive-CTE construct, fixpoint oracle-gated",
      (spark, dir) => {
        import spark.implicits._
        // The recursive construct the relational surface lacked
        // (round-8 verdict frontier gap 1): reachability / transitive
        // closure, the `WITH RECURSIVE` workload class. Same
        // co-purchase graph as g02/g03/g05; seeds = parts whose key is
        // divisible by 97 (deterministic, graph-membership-restricted,
        // sf-stable). The DuckDB oracle is a GENUINELY recursive CTE —
        // its UNION fixpoint terminates exactly when the Spark loop's
        // frontier empties, so the convergence stop itself is under
        // oracle, not an unrolled stand-in (contrast g01/g03/g05).
        // Hop bound 3 keeps the answer distance-structured on this
        // dense graph (unbounded would flood to the whole component).
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val und = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
        val sym = und.select($"u".as("src"), $"v".as("dst"))
          .unionAll(und.select($"v".as("src"), $"u".as("dst")))
          .graftCheckpointLazy
        val seeds = sym.select($"src".as("node")).where($"node" % 97 === 0).distinct()
        bfsDistances(sym, seeds, maxHops = 3)
          .select($"node", $"dist".cast("int").as("dist"))
          .orderBy($"node")
      },
      Some("""WITH RECURSIVE ip AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p),
        e AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
          UNION ALL SELECT v, u FROM und),
        reach AS (
          SELECT DISTINCT src AS node, 0 AS dist FROM e WHERE src % 97 = 0
          UNION
          SELECT e.dst AS node, r.dist + 1 AS dist
          FROM reach r JOIN e ON e.src = r.node
          WHERE r.dist < 3)
        SELECT node, CAST(MIN(dist) AS INT) AS dist
        FROM reach GROUP BY node ORDER BY node""")
    ),

    Q(
      "g07_sssp_bounded",
      "Bounded-hop weighted shortest paths (Bellman-Ford, 3 rounds): affinity distance on the co-purchase graph, exact int64 weights",
      (spark, dir) => {
        import spark.implicits._
        // g06 answers "how many hops"; this answers "how CHEAPLY" —
        // edge weight 11 - min(shared_orders, 10), so strongly
        // co-purchased parts are CLOSE (affinity distance, the
        // similarity-graph geodesic a recommender or a crawl
        // prioritizer walks). Integer weights keep every distance an
        // exact int64: the full frame is value-gated, which fp
        // weights could never be (per-engine summation drift). The
        // oracle is a literal 3-stage relax-then-min unroll (the
        // g03 discipline); the Spark side runs the SEMI-NAIVE delta
        // form — only nodes whose distance improved relax onward —
        // and the gate pins the two formulations equal.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val wp = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .groupBy($"a.p".as("u"), $"b.p".as("v")).agg(count(lit(1)).as("cnt"))
        val wcol = (lit(11) - least($"cnt", lit(10))).cast("long").as("w")
        val e = wp.select($"u".as("src"), $"v".as("dst"), wcol)
          .unionAll(wp.select($"v".as("src"), $"u".as("dst"), wcol))
          .graftCheckpointLazy
        val seeds = e.select($"src".as("node")).where($"node" % 97 === 0).distinct()
        ssspBounded(e, seeds, rounds = 3)
          .select($"node", $"dist")
          .orderBy($"node")
      },
      Some {
        val stages = (1 to 3).map { t =>
          s"""d$t AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d${t - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM d${t - 1} d JOIN e ON e.src = d.node) GROUP BY node)"""
        }.mkString(",\n        ")
        s"""WITH ip AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        wp AS MATERIALIZED (SELECT a.p AS u, b.p AS v, COUNT(*) AS cnt
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
        e AS MATERIALIZED (
          SELECT u AS src, v AS dst, CAST(11 - LEAST(cnt, 10) AS BIGINT) AS w FROM wp
          UNION ALL
          SELECT v, u, CAST(11 - LEAST(cnt, 10) AS BIGINT) FROM wp),
        d0 AS MATERIALIZED (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
          FROM e WHERE src % 97 = 0),
        $stages
        SELECT node, dist FROM d3 ORDER BY node"""
      }
    ),

    Q(
      "g08_harmonic_closeness",
      "Per-seed harmonic closeness within 2 hops (labeled multi-source BFS), exact integer 1/dist micro-units",
      (spark, dir) => {
        import spark.implicits._
        // The centrality read on g06's machinery: how CLOSE is each
        // seed to the rest of the graph — harmonic closeness
        // sum(1/dist) over its bounded reach set, the landmark-quality
        // signal a crawl prioritizer or hub detector ranks by
        // (harmonic handles disconnection where classic closeness
        // breaks). Per-seed distances come from the labeled
        // multi-source BFS (ONE synchronous loop for all seeds, not a
        // loop per seed); 1/dist is fp poison, so it is micro-scaled
        // integer floor division — 1000000 div dist, identical in
        // Spark (div) and DuckDB (//) — making the whole frame
        // value-gateable. Sparse seed set (part % 499) + 2-hop bound
        // keep Σ per-seed reach well under corpus scale at any sf.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val und = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
        val sym = und.select($"u".as("src"), $"v".as("dst"))
          .unionAll(und.select($"v".as("src"), $"u".as("dst")))
          .graftCheckpointLazy
        val seeds = sym.select($"src".as("node")).where($"node" % 499 === 0).distinct()
        val agg = bfsDistancesPerSeed(sym, seeds, maxHops = 2)
          .where($"dist" > 0)
          .groupBy($"seed")
          .agg(count(lit(1)).cast("long").as("n_reached"),
            sum(expr("1000000 div dist")).cast("long").as("harm_fp"))
        seeds.select($"node".as("seed"))
          .join(agg, Seq("seed"), "left")
          .select($"seed",
            coalesce($"n_reached", lit(0L)).as("n_reached"),
            coalesce($"harm_fp", lit(0L)).as("harm_fp"))
          .orderBy($"seed")
      },
      Some("""WITH RECURSIVE ip AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p),
        e AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
          UNION ALL SELECT v, u FROM und),
        sd AS MATERIALIZED (SELECT DISTINCT src AS seed FROM e WHERE src % 499 = 0),
        reach AS (
          SELECT seed, seed AS node, 0 AS dist FROM sd
          UNION
          SELECT r.seed, e.dst AS node, r.dist + 1 AS dist
          FROM reach r JOIN e ON e.src = r.node
          WHERE r.dist < 2),
        best AS (SELECT seed, node, MIN(dist) AS dist
          FROM reach GROUP BY seed, node),
        agg AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
          CAST(SUM(1000000 // dist) AS BIGINT) AS harm_fp
          FROM best WHERE dist > 0 GROUP BY seed)
        SELECT sd.seed AS seed, COALESCE(a.n_reached, 0) AS n_reached,
          COALESCE(a.harm_fp, 0) AS harm_fp
        FROM sd LEFT JOIN agg a USING (seed) ORDER BY seed""")
    ),

    Q(
      "g09_clustering_coeff",
      "Local clustering coefficient per node (triangles over wedges), degree-oriented, integer-floor fp",
      (spark, dir) => {
        import spark.implicits._
        // LOCAL CLUSTERING COEFFICIENT — the per-node cohesion ratio
        // (closed wedges / all wedges) that community/spam detection
        // and graph-quality audits rank by. g02 stops at the triangle
        // NUMERATOR; this query delivers the normalized metric:
        // degree joined in, cc = 2*tri/(deg*(deg-1)) in micro-units
        // integer floor (the g08 fp-poison discipline — no float agg
        // crosses the oracle), deg<2 pinned to 0, zero-triangle nodes
        // kept via the left join so the audit sees the whole graph.
        // Triangle side reuses the degree-oriented plan (orient each
        // edge to the (deg, id)-larger endpoint, wedges only at the
        // lower apex → O(m^1.5) hub-proof work, each triangle found
        // exactly once then exploded to its 3 corners with map-side
        // combine); the closing-edge probe keeps id order
        // (x.dst < y.dst) so it equi-joins the u<v list directly.
        // Same co-purchase graph as g02/g05.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val und = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
          .graftCheckpointLazy
        val deg = und.select($"u".as("node")).unionAll(und.select($"v".as("node")))
          .groupBy($"node").agg(count(lit(1)).cast("long").as("deg"))
        val withDeg = und
          .join(deg.select($"node".as("u"), $"deg".as("du")), "u")
          .join(deg.select($"node".as("v"), $"deg".as("dv")), "v")
        val oriented = withDeg.select(
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("src"),
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("dst"))
        val wedges = oriented.as("x").join(oriented.as("y"),
            $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
          .select($"x.src".as("apex"), $"x.dst".as("b"), $"y.dst".as("c"))
        val tris = wedges.join(und, $"b" === $"u" && $"c" === $"v")
          .select($"apex", $"b", $"c")
        val perNode = tris
          .select(explode(array($"apex", $"b", $"c")).as("node"))
          .groupBy($"node").agg(count(lit(1)).cast("long").as("n_tri"))
        deg.join(perNode, Seq("node"), "left")
          .select($"node", $"deg".as("degree"),
            coalesce($"n_tri", lit(0L)).as("n_tri"),
            when($"deg" >= 2,
              expr("1000000 * 2 * coalesce(n_tri, 0) div (deg * (deg - 1))"))
              .otherwise(0L).cast("long").as("clustering_fp"))
          .orderBy($"node")
      },
      Some("""WITH ip AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p),
        tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
          FROM und a JOIN und b ON b.u = a.v
          JOIN und c ON c.u = a.u AND c.v = b.v),
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node),
        pernode AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
          SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri) GROUP BY node)
        SELECT d.node AS node, d.deg AS degree,
          COALESCE(p.n_tri, 0) AS n_tri,
          CAST(CASE WHEN d.deg >= 2
            THEN 1000000 * 2 * COALESCE(p.n_tri, 0) // (d.deg * (d.deg - 1))
            ELSE 0 END AS BIGINT) AS clustering_fp
        FROM deg d LEFT JOIN pernode p USING (node) ORDER BY node""")
    ),

    Q(
      "g10_modularity",
      "Modularity of the LPA partition: exact integer per-community contributions",
      (spark, dir) => {
        import spark.implicits._
        // The metric that answers "is this community structure any
        // good": Newman modularity Q = SUM_c [ e_c/m - (D_c/2m)^2 ]
        // over g05's OWN LPA partition — the quality report every
        // community pipeline publishes next to its labels (and the
        // objective Louvain greedily climbs; computing it over a
        // given partition is Louvain's inner evaluation step).
        // fp-poison discipline (the g08/g09 lesson): multiply through
        // by 4m^2 — q_num = 4*m*e_c - D_c^2 is EXACT int64 per
        // community (|q_num| <= 4m^2, safe to ~1.5e9 edges; far past
        // that, move the product to decimal), and the m column lets
        // the consumer normalize Q = SUM(q_num)/(4m^2) at report
        // time. One number per COMMUNITY, never a division early.
        // Plan: the label frame joins the edge list twice on its own
        // node key (intra test), degrees are one map-side-combined
        // agg, m is a 1-row broadcast — no window, no driver value,
        // hub skew bounded by the same keyed-agg shapes g02/g09 use.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val und = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
          .graftCheckpointLazy // read once for m/deg/intra, not 3 plans
        val lbl = labelPropagation(und, rounds = 3)
        val mRow = und.agg(count(lit(1)).cast("long").as("m"))
        val intra = und
          .join(lbl.select($"node".as("u"), $"l".as("lu")), "u")
          .join(lbl.select($"node".as("v"), $"l".as("lv")), "v")
          .where($"lu" === $"lv")
          .groupBy($"lu".as("label"))
          .agg(count(lit(1)).cast("long").as("n_intra"))
        val deg = und.select($"u".as("node")).unionAll(und.select($"v"))
          .groupBy($"node").agg(count(lit(1)).cast("long").as("dg"))
        val dsum = lbl.join(deg, "node")
          .groupBy($"l".as("label"))
          .agg(sum($"dg").as("deg_sum"))
        dsum.join(intra, Seq("label"), "left")
          .withColumn("n_intra", coalesce($"n_intra", lit(0L)))
          .crossJoin(broadcast(mRow))
          .select($"label", $"n_intra", $"deg_sum", $"m",
            (lit(4L) * $"m" * $"n_intra" - $"deg_sum" * $"deg_sum").as("q_num_4m2"))
          .orderBy($"label")
      },
      Some {
        s"""$lpaOracleCtes,
        mrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
        ec AS (SELECT lu.l AS label, CAST(COUNT(*) AS BIGINT) AS n_intra
          FROM und e JOIN l3 lu ON lu.node = e.u JOIN l3 lv ON lv.node = e.v
          WHERE lu.l = lv.l GROUP BY 1),
        degs AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
          SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node),
        dc AS (SELECT l3.l AS label, CAST(SUM(d.dg) AS BIGINT) AS deg_sum
          FROM l3 JOIN degs d ON d.node = l3.node GROUP BY 1)
        SELECT dc.label, COALESCE(ec.n_intra, 0) AS n_intra, dc.deg_sum, m.m,
          CAST(4 * m.m * COALESCE(ec.n_intra, 0) - dc.deg_sum * dc.deg_sum AS BIGINT) AS q_num_4m2
        FROM dc LEFT JOIN ec USING (label) CROSS JOIN mrow m
        ORDER BY label"""
      }
    ),

    Q(
      "g11_link_prediction",
      "Resource-allocation link prediction: top-100 non-edge pairs by common-neighbor RA score",
      (spark, dir) => {
        import spark.implicits._
        // The recommender/crawl-frontier primitive over the same
        // co-purchase graph as g02/g05/g09: score NON-adjacent pairs
        // (u,v) by the resource-allocation index
        // RA(u,v) = SUM over common neighbors w of 1/deg(w)
        // (Zhou-Lu-Zhang; empirically beats Adamic-Adar's 1/ln deg
        // and carries NO transcendental, so the fp-poison discipline
        // applies directly: per-neighbor weight = 1_000_000 div
        // deg(w), exact int64 both engines). Wedge generation is the
        // g09 hub problem WITHOUT an orientation escape (every wedge
        // at w is needed, cost SUM deg(w)^2), so wedge CENTERS are
        // capped at deg <= 256 — the documented approximation both
        // engines replay: a hub center costs quadratic wedge work
        // yet contributes the LEAST per the RA weighting itself
        // (<= 1_000_000/257 ppm per pair), so capped-RA is how
        // production link prediction actually runs; wedge work is
        // bounded by cap x 2m at any graph size. One self-join on
        // the center key, one (u,v) map-side-combinable agg, one
        // anti-join against the edge list, TakeOrdered(100) over the
        // total order (ra_fp desc, common_cnt desc, u, v) — no
        // window, no driver state, output bounded at any scale.
        val ip = Tables.load(spark, dir, "lineitem")
          .filter($"l_quantity" >= 30)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
        val und = ip.as("a").join(ip.as("b"), "ok")
          .where($"a.p" < $"b.p")
          .select($"a.p".as("u"), $"b.p".as("v")).distinct()
          .graftCheckpointLazy
        val adj = und.select($"u".as("ctr"), $"v".as("nb"))
          .unionAll(und.select($"v".as("ctr"), $"u".as("nb")))
        val deg = adj.groupBy($"ctr".as("node")).agg(count(lit(1)).cast("long").as("deg"))
        val adjD = adj.join(deg.withColumnRenamed("node", "ctr"), "ctr")
          .where($"deg" <= 256)
          .select($"ctr", $"nb", expr("1000000L div deg").as("wgt"))
          .graftCheckpointLazy // both sides of the wedge self-join read ONE evaluation
        val sc = adjD.as("x").join(adjD.select($"ctr", $"nb".as("nb2")).as("y"), "ctr")
          .where($"x.nb" < $"nb2")
          .groupBy($"x.nb".as("u"), $"nb2".as("v"))
          .agg(count(lit(1)).cast("long").as("common_cnt"), sum($"wgt").as("ra_fp"))
        sc.join(und, Seq("u", "v"), "left_anti")
          .orderBy($"ra_fp".desc, $"common_cnt".desc, $"u", $"v")
          .limit(100)
      },
      Some("""WITH ip AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p),
        adj AS MATERIALIZED (SELECT u AS ctr, v AS nb FROM und
          UNION ALL SELECT v, u FROM und),
        deg AS (SELECT ctr AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM adj GROUP BY ctr),
        adjd AS (SELECT a.ctr, a.nb, CAST(1000000 // d.deg AS BIGINT) AS wgt
          FROM adj a JOIN deg d ON d.node = a.ctr WHERE d.deg <= 256),
        sc AS (SELECT x.nb AS u, y.nb AS v,
            CAST(COUNT(*) AS BIGINT) AS common_cnt,
            CAST(SUM(x.wgt) AS BIGINT) AS ra_fp
          FROM adjd x JOIN adjd y ON y.ctr = x.ctr AND x.nb < y.nb
          GROUP BY x.nb, y.nb)
        SELECT s.u, s.v, s.common_cnt, s.ra_fp FROM sc s
        LEFT JOIN und e ON e.u = s.u AND e.v = s.v
        WHERE e.u IS NULL
        ORDER BY s.ra_fp DESC, s.common_cnt DESC, s.u, s.v LIMIT 100""")
    )
  )

  /** Shared LPA oracle prefix (g05's committed replay, through `l3`):
    * the co-purchase graph, its symmetric edge view, and 3 unrolled
    * synchronous min-tie-break rounds. g10's modularity oracle scores
    * the SAME partition, so both oracles must replay one text.
    */
  private lazy val lpaOracleCtes: String = {
    val rounds = (1 to 3).map { t =>
      s"""c$t AS (SELECT e.src AS node, p.l AS lbl, COUNT(*) AS c
            FROM sym e JOIN l${t - 1} p ON p.node = e.dst GROUP BY 1, 2),
          l$t AS MATERIALIZED (SELECT node, lbl AS l FROM (
            SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
              ORDER BY c DESC, lbl ASC) AS rn FROM c$t) q WHERE rn = 1)"""
    }.mkString(",\n        ")
    s"""WITH ip AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
          FROM lineitem WHERE l_quantity >= 30),
        und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
          FROM ip a JOIN ip b ON a.ok = b.ok AND a.p < b.p),
        sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
          UNION ALL SELECT v, u FROM und),
        l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS l FROM sym),
        $rounds"""
  }
}
