package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Clustering operators: connected components (min-label and star),
  * the k-core peel, and the deterministic integer-sum Lloyd behind
  * k-means and the product-quantization codebooks — the one quantizer
  * trainer and nearest-centroid assignment the ANN index
  * ([[VectorIndex]]) builds on.
  */
object Clustering {
  /** Connected components over an undirected edge list (two BIGINT
    * columns) by min-label propagation. Output (idOut, labelOut):
    * every node appearing in an edge, labeled by its component's
    * minimum node id. Each round is a keyed join + aggregation (never
    * a cross join); rounds converge at the largest component
    * DIAMETER. Near-dup graphs are near-cliques (1-2 rounds) — the
    * right choice for dedup workloads. For graphs with long chains
    * (web-crawl dup graphs) call [[connectedComponentsStar]], which
    * has the same output contract and converges in O(log n) rounds
    * regardless of diameter.
    *
    * Convergence is detected by one cheap action per round (did any
    * label drop), never a driver-side diff of the frames. Raises when
    * `maxIterations` runs out before the fixpoint ([[Fixpoint]]'s
    * budget rule) instead of returning a partial labeling.
    */
  def connectedComponents(
      edgePairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIterations: Int = 20,
      idOut: String = "id",
      labelOut: String = "label"
  ): DataFrame = minLabel(edgePairs, aCol, bCol, maxIterations, idOut, labelOut)._1

  /** Min-label CC, returning (labels, roundsUsed). Each node starts at
    * the minimum of itself and its neighbours; a round lowers a label
    * to its neighbours' minimum label and flags `_chg` where it did.
    * The first round that lowers no label is the fixpoint, so a graph
    * its initial labeling already solves (cliques, stars centred on
    * their minimum id) settles in round 1.
    */
  private[operators] def minLabel(
      edgePairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIterations: Int,
      idOut: String,
      labelOut: String
  ): (DataFrame, Int) = {
    // ONE materialization of the caller's pair plan: the symmetric
    // edge view below references `pairs` TWICE, so an uncut pair plan
    // (for d06/d12 the posting/verify join chain) would execute once
    // per union branch.
    val pairs = Fixpoint.invariant(edgePairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val edges = pairs.union(pairs.select(col("dst"), col("src"))).toDF("src", "dst").cache()
    val init = edges.groupBy(col("src"))
      .agg(least(first(col("src")), min(col("dst"))).as("lbl"))
      .select(col("src").as("id"), col("lbl")).graftCheckpointLazy
    val settled = Fixpoint.Settled((_, next) => next.where(col("_chg")).isEmpty)
    // the probe has materialized the last cut, so `edges` can go —
    // also when the budget runs out
    val (labels, rounds) = try Fixpoint.iterate(init, maxIterations,
      Fixpoint.MustConverge("connectedComponents",
        "raise maxIterations (min-label needs the largest component's diameter), " +
          "or call connectedComponentsStar"),
      settled) { (labels, _) =>
      val nmin = edges.join(labels.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      labels
        .join(nmin.select(col("dst").as("id"), col("nlbl")), Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (col("nlbl") < col("lbl")).as("_chg"))
    } finally edges.unpersist()
    (labels.select(col("id").as(idOut), col("lbl").as(labelOut)), rounds)
  }

  /** k-core decomposition peeled to FIXPOINT — the convergence-stop
    * variant of the canned g03 query (g03 keeps 5 fixed rounds so its
    * DuckDB oracle is a literal CTE unroll; THIS is what a user calls).
    * `edges` holds both directions of each undirected edge (the g03
    * convention). Each round is [[peelRound]]; the edge count is a
    * strictly decreasing potential, so one count per round detects
    * the fixpoint. Returns (node, deg) over the surviving subgraph —
    * the true k-core, matching the fixed-round output whenever the
    * fixed rounds already converged (Round8GraphSpec pins both ways).
    * Worst case is O(n) rounds on a chain — maxRounds bounds
    * pathological inputs, and hitting it raises.
    */
  def kCore(
      edges: DataFrame,
      k: Int,
      maxRounds: Int = 1000
  ): DataFrame = {
    val (e, _) = Fixpoint.iterate(edges.select(col("src"), col("dst")), maxRounds,
      Fixpoint.MustConverge("kCore", "raise maxRounds"),
      Fixpoint.Potential(_.count())) { (e, r) => peelRound(e, k, r) }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** One synchronous k-core peel round over a SYMMETRIC edge list
    * (`src`, `dst`, both directions present): an edge survives iff
    * both endpoint degrees are >= k. Symmetry makes deg(src) =
    * COUNT() OVER (PARTITION BY src) and deg(dst) = COUNT() OVER
    * (PARTITION BY dst) on the same rows, so a round is two window
    * counts + a filter that reads `e` once — no degree aggregation
    * and no keep-list joins — and the filter preserves symmetry.
    * Window ORDER alternates with the round's parity so adjacent
    * rounds share an exchange: round r ends partitioned by its second
    * window key and round r + 1 starts with a window on that same key
    * (filter/project preserve hash partitioning). An odd round ends
    * on src, so a following groupBy(src) reuses its partitioning too.
    * Both counts see the same input rows, so their order cannot
    * change a value.
    */
  private[operators] def peelRound(e: DataFrame, k: Int, round: Int): DataFrame = {
    val wS = Window.partitionBy(col("src"))
    val wD = Window.partitionBy(col("dst"))
    val withDegs =
      if (round % 2 == 1)
        e.withColumn("_dd", count(lit(1)).over(wD)).withColumn("_ds", count(lit(1)).over(wS))
      else
        e.withColumn("_ds", count(lit(1)).over(wS)).withColumn("_dd", count(lit(1)).over(wD))
    withDegs.where(col("_ds") >= k && col("_dd") >= k).select(col("src"), col("dst"))
  }

  /** Large-star/small-star contraction CC (Kiveris et al. SoCC'14),
    * returning (labels, roundsUsed). Each round runs
    *   large-star: per node u, attach every LARGER neighbor to
    *     min(N(u) ∪ {u}) — cuts long chains in half;
    *   small-star: orient edges toward the smaller endpoint, then per
    *     node u attach u and all smaller neighbors to the minimum —
    *     flattens partial stars;
    * both are a groupBy(min) + keyed equi-join, so every round is
    * shuffle-bounded by the edge count, and the round count is
    * O(log n) independent of component diameter. Convergence: the
    * (edge-count, sum(src), sum(dst)) triple is a strictly decreasing
    * potential until fixpoint (the paper's potential argument), so
    * one cheap 3-scalar action per round detects stability. Labels
    * follow [[connectedComponents]]' output contract; running out of
    * `maxIterations` raises.
    */
  def connectedComponentsStar(
      edgePairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIterations: Int = 50,
      idOut: String = "id",
      labelOut: String = "label"
  ): (DataFrame, Int) = {
    // ONE materialization of the caller's pair plan (for d08/d22/d23
    // the posting/verify join chain): the node universe and the loop's
    // initial edge set both derive from the cut distinct pair set
    val base = edgePairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .distinct().graftCheckpointLazy
    val nodes = base.select(col("src").as("id"))
      .union(base.select(col("dst").as("id"))).distinct()

    // Round-17 (§2.4, one exchange less per star): the per-node min
    // used to be a groupBy(src).min + an equi-join back onto the edge
    // rows — TWO exchanges of the edge set per star (the agg's partial
    // rows and the join side cannot share one, the partial-agg plans
    // differ). `min(dst) OVER (PARTITION BY src)` attaches the same
    // per-src minimum to every row in ONE exchange (+ a partition-local
    // sort). Value-identical: a window min over the same key equals the
    // joined-back groupBy min on every row, multiplicities included.
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      // no distinct here: smallStar's terminal distinct canonicalizes
      // the round's edge set, and min-aggregations are multiplicity-
      // insensitive — one Exchange less per round
      sym.withColumn("m", least(col("src"), min(col("dst")).over(wSrc)))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.where(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
      val j = oriented.withColumn("m", min(col("dst")).over(wSrc))
      j.where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(j.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    // (edge-count, sum(src), sum(dst)) is the potential
    def sumOr0(v: Any): Long = Option(v).map(_.asInstanceOf[Long]).getOrElse(0L)
    val stat = Fixpoint.Potential { e =>
      val r = e.agg(count(lit(1)), sum(col("src")), sum(col("dst"))).head()
      (r.getLong(0), sumOr0(r.get(1)), sumOr0(r.get(2)))
    }
    val (edges, rounds) = Fixpoint.iterate(base.where(col("src") =!= col("dst")),
      maxIterations, Fixpoint.MustConverge("connectedComponentsStar", "raise maxIterations"),
      stat) { (e, _) => smallStar(largeStar(e)) }
    // converged edge set is a star forest (member -> root); nodes with
    // no surviving edge (self-loop-only inputs) label themselves
    val labels = nodes
      .join(edges.select(col("src").as("id"), col("dst").as("lbl")), Seq("id"), "left")
      .select(col("id").as(idOut), coalesce(col("lbl"), col("id")).as(labelOut))
    (labels, rounds)
  }

  /** O22: deterministic Lloyd k-means assignment (s05's library form,
    * any iteration count). Initial centroids are the k lowest-id
    * vectors; each iteration is one broadcast NL against the k
    * centroid rows (assignment = argmin-as-aggregation over
    * nano-scaled integer L² — map-side combinable) plus one keyed agg
    * for the update. Centroid means are computed from micro-scaled
    * BIGINT sums with a single double division — order-independent,
    * so results are identical under any partitioning (and, for the
    * canned 2-iteration run, oracle-verified against DuckDB).
    * Returns (idCol, cell, dq) with dq the final nano-scaled L² to
    * the vector's centroid, materialized while the quantized input is
    * cached ([[withQuantized]]) — callers get a self-contained frame
    * and no leaked cache entry. The materialization is one (id, cell,
    * dq) row per vector — what a pipeline would persist before
    * downstream use anyway.
    */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      dim: Int = 64
  ): DataFrame = withQuantized(df, idCol, vecCol) { ev =>
    lloyd(ev, 1, k, iters, dim)._2
      .select(col("_id").as(idCol), col("_cell").as("cell"), col("_dq").as("dq"))
      .graftCheckpointEager
  }

  /** Cluster-balanced sampling (e08's engine, the SemDeDup/DSIR
    * cluster-then-sample curation step): assign vectors to trained
    * k-means cells ([[kmeansAssign]]), then keep a fixed `perCell`
    * quota per cell ranked by the portable hash of the id — a
    * deterministic stand-in for uniform-within-cluster both engines
    * compute identically. The rank filter plans as WindowGroupLimit
    * (Spark 4): each task keeps its local top-`perCell` per cell
    * BEFORE the shuffle, so window state is perCell·k rows per task
    * and the output is corpus-size-independent.
    */
  def clusterSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      dim: Int = 64,
      perCell: Int = 4
  ): DataFrame = {
    val asg = kmeansAssign(df, idCol, vecCol, k, iters, dim)
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("_h"), col(idCol))
    asg
      .withColumn("_h", graft.functions.PortableHash.hash60(col(idCol).cast("string")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= perCell)
      .select(col("cell"), col("rn"), col(idCol), col("dq"))
  }

  /** The trained centroids behind [[kmeansAssign]]: the coordinate
    * frame (_cid, _cx) its `iters`-th assignment pass compares
    * against (i.e. after iters-1 mean updates). Returned as a k-row
    * localCheckpoint — the bounded artifact a pipeline stores next to
    * the assignment, and what [[VectorIndex.ivfPqTrained]] probes
    * queries with.
    */
  def kmeansCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      dim: Int = 64
  ): DataFrame = withQuantized(df, idCol, vecCol) { ev =>
    coarse(lloyd(ev, 1, k, iters, dim)._1).graftCheckpointEager
  }

  /** O26: per-subspace TRAINED PQ codebooks — the same deterministic
    * integer-sum Lloyd as [[kmeansCentroids]], run on the m sliced
    * sub-vectors simultaneously (the subspace id is folded into every
    * group key, so all m trainings share each broadcast-NL and
    * keyed-agg pass instead of launching m job chains). Init per
    * subspace = slices of the k lowest-id vectors, matching the
    * untrained s04/s06 codebooks at iters=1. Returns the (m-times-k)-
    * row frame (_m, _cid, _cs), localCheckpoint-ed.
    */
  def pqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 4,
      k: Int = 8,
      iters: Int = 2,
      dim: Int = 64
  ): DataFrame = withQuantized(df, idCol, vecCol) { ev =>
    lloyd(ev, m, k, iters, dim)._1.graftCheckpointEager
  }

  /** Nano-scaled integer squared-L² — the exact-on-both-engines
    * distance every trained-quantizer op shares (e01's trick).
    */
  private[operators] def l2q(a: String, b: String): Column = expr(
    s"CAST(floor(aggregate(zip_with($a, $b, " +
      "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v) * 1000000000.0 + 0.5) AS BIGINT)")

  /** (_id, _x, _xq): the vector plus its micro-scaled BIGINT image —
    * integer centroid sums are order-independent, so Lloyd results
    * don't depend on partitioning.
    */
  private[operators] def quantizedVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("_id"), col(vecCol).as("_x"),
      expr(s"transform($vecCol, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
        .as("_xq"))

  /** Runs `body` on the quantized corpus ([[quantizedVecs]]), cached
    * for the duration of the call and released on every exit path —
    * `body` materializes whatever it returns that reads the cache.
    * The cache is filled by one job before `body` runs: left lazy,
    * the first concurrent jobs of the training plan would each
    * compute the same partitions.
    */
  private[operators] def withQuantized[T](df: DataFrame, idCol: String, vecCol: String)(
      body: DataFrame => T): T = {
    val ev = quantizedVecs(df, idCol, vecCol).cache()
    try {
      ev.count()
      body(ev)
    } finally ev.unpersist()
  }

  /** `df` with each vector column in `vecs` cut into m subspaces of
    * dim/m values: one row per (input row, subspace `_m`), the slice
    * keeping the column's name.
    */
  private[operators] def subspaces(df: DataFrame, m: Int, dim: Int, vecs: String*): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val sub = dim / m
    val keep = df.columns.toSeq.filterNot(vecs.contains).map(col)
    df.select(keep ++ vecs.map(col) :+ explode(array((0 until m).map(lit(_)): _*)).as("_m"): _*)
      .select(keep ++ vecs.map(v => expr(s"slice($v, _m * $sub + 1, $sub)").as(v)) :+
        col("_m"): _*)
  }

  /** The one nearest-centroid assignment: each (`keys`, `_m`) row's
    * vector `vec` against the broadcast centroids (_m, _cid, _cs) of
    * its subspace, argmin-as-aggregation over [[l2q]] — map-side
    * combinable. Returns (keys, _m, _cell, _dq). Coarse cells are the
    * m = 1 case, PQ codes the m > 1 case.
    */
  private[operators] def nearest(
      points: DataFrame, keys: Seq[String], vec: String, cents: DataFrame): DataFrame =
    points.join(broadcast(cents), Seq("_m"))
      .withColumn("_dq", l2q(vec, "_cs"))
      .groupBy((keys :+ "_m").map(col): _*)
      .agg(min(struct(col("_dq"), col("_cid"))).as("_mc"))
      .select(keys.map(col) ++ Seq(col("_m"), col("_mc._cid").as("_cell"),
        col("_mc._dq").as("_dq")): _*)

  /** The k-row coarse quantizer (_cid, _cx) of an m = 1 centroid frame. */
  private[operators] def coarse(cents: DataFrame): DataFrame =
    cents.select(col("_cid"), col("_cs").as("_cx"))

  /** The one deterministic integer-sum Lloyd, over the m subspaces of
    * the quantized corpus `ev` (_id, _x, _xq) at once (the subspace id
    * is folded into every key; the coarse quantizer is m = 1). Init =
    * the k lowest-id vectors; each of the iters-1 [[Fixpoint]] rounds
    * is one [[nearest]] pass plus one keyed mean update from integer
    * sums, and each round's k-row centroid frame is cut. Returns (the
    * centroids (_m, _cid, _cs) the final assignment used, that
    * assignment (_id, _m, _cell, _dq)) — both lazy.
    */
  private[operators] def lloyd(
      ev: DataFrame, m: Int, k: Int, iters: Int, dim: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, "Lloyd needs at least one iteration")
    val sub = dim / m
    val evs = subspaces(ev, m, dim, "_x", "_xq")
    val init = subspaces(ev.orderBy(col("_id")).limit(k).select(col("_id"), col("_x")), m, dim, "_x")
      .select(col("_m"), col("_id").as("_cid"), col("_x").as("_cs"))
    def assign(cents: DataFrame) = nearest(evs, Seq("_id"), "_x", cents)
    val (cents, _) = Fixpoint.iterate(init, iters - 1, Fixpoint.Bounded) { (cents, _) =>
      val dimSums = (1 to sub).map(j => sum(element_at(col("_xq"), j)).as(s"_s$j"))
      assign(cents).join(evs.select(col("_id"), col("_m"), col("_xq")), Seq("_id", "_m"))
        .groupBy(col("_cell"), col("_m"))
        .agg(count(lit(1)).as("_nc"), dimSums: _*)
        .select(col("_m"), col("_cell").as("_cid"),
          array((1 to sub).map(j =>
            col(s"_s$j").cast("double") / col("_nc") / lit(1000000.0)): _*).as("_cs"))
    }
    (cents, assign(cents))
  }
}
