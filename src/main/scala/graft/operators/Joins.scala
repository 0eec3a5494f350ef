package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join operators: the as-of and interval joins (composed and native
  * Catalyst forms), the salted skew join and the Bloom-prefiltered
  * semi-join.
  */
object Joins {
  /** As-of join: for each left row, the greatest `rightTs` value at or
    * before its `ts`, per key — via union + running last() window:
    * ONE shuffle on (key), no custom physical node, no per-key loops.
    * The classic distributed as-of formulation.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      outCol: String = "asof_ts"
  ): DataFrame = {
    val l = left.select(
      col(keyCol).as("_k"), col(leftTsCol).as("_ts"), lit(1).as("_kind"),
      lit(null).cast("timestamp").as("_rts"), struct(left.columns.toIndexedSeq.map(col): _*).as("_row")
    )
    val r = right.select(
      col(keyCol).as("_k"), col(rightTsCol).as("_ts"), lit(0).as("_kind"),
      col(rightTsCol).as("_rts"), lit(null).cast(l.schema("_row").dataType).as("_row")
    )
    val w = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_kind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    r.unionByName(l)
      .withColumn(outCol, last(col("_rts"), ignoreNulls = true).over(w))
      .filter(col("_kind") === 1)
      .select(col("_row.*"), col(outCol))
  }

  /** The native-operator form of [[asofJoin]]: same semantics
    * (latest right ts at-or-before each left row's ts per key, null
    * when none), executed by the custom sort-merge
    * [[graft.plans.AsOfJoinExec]] instead of the union+window
    * encoding — each side shuffles ONCE on its own key and the match
    * is a single-pass merge with O(1) per-partition state, so
    * pre-partitioned (bucketed) inputs skip their exchange entirely,
    * which the union form structurally cannot. Registers the planner
    * strategy on the session idempotently. OpsSpec pins value
    * equality with [[asofJoin]]; q58 carries the DuckDB ASOF oracle.
    */
  def asofJoinNative(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTsCol: String,
      rightTsCol: String,
      outCol: String = "asof_ts",
      direction: String = "backward"
  ): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward or forward, got $direction")
    // the output column is APPENDED to left's columns — a pre-existing
    // column of the same name would make every downstream select(outCol)
    // fail with an ambiguity error far from the cause, so fail HERE
    require(!left.columns.contains(outCol),
      s"left frame already has a column named '$outCol'; pass a distinct outCol")
    val spark = left.sparkSession
    graft.plans.AsOfJoinStrategy.synchronized {
      val cur = spark.experimental.extraStrategies
      if (!cur.contains(graft.plans.AsOfJoinStrategy))
        spark.experimental.extraStrategies = cur :+ graft.plans.AsOfJoinStrategy
      val opt = spark.experimental.extraOptimizations
      if (!opt.contains(graft.plans.AsOfJoinLimitPushdown))
        spark.experimental.extraOptimizations = opt :+ graft.plans.AsOfJoinLimitPushdown
    }
    // fresh aliases force fresh exprIds on the right: both sides often
    // derive from the same scan (self-as-of), and duplicate ids across
    // children would make attribute binding ambiguous
    val r2 = right.select(right.col(keyCol).as("_asof_rk"),
      right.col(rightTsCol).as("_asof_rts"))
    val lp = left.queryExecution.analyzed
    val rp = r2.queryExecution.analyzed
    // resolve through Dataset.col: honors spark.sql.caseSensitive
    // (plain string equality against output names would not) and
    // raises the standard ambiguous/missing-column errors
    def attrOf(name: String): org.apache.spark.sql.catalyst.expressions.AttributeReference =
      org.apache.spark.sql.graftbridge.Bridge.expression(left.col(name)) match {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a
        case other => throw new IllegalArgumentException(
          s"left column $name must be a plain attribute, resolved to $other")
      }
    val lk = attrOf(keyCol)
    val lts = attrOf(leftTsCol)
    // cross-side type agreement, checked at PLAN time: each side's
    // getter would individually accept e.g. leftTs=timestamp (micros)
    // against rightTs=date (days) and the merge would silently compare
    // micros to days — exactly the mis-read the exec's per-side checks
    // exist to prevent. Same for keys: long-vs-int only surfaces as a
    // runtime ClassCastException from the interpreted ordering.
    require(lts.dataType == rp.output(1).dataType,
      s"as-of ordering columns must have the SAME type on both sides, " +
        s"got left $leftTsCol: ${lts.dataType} vs right $rightTsCol: ${rp.output(1).dataType}")
    require(lk.dataType == rp.output(0).dataType,
      s"as-of key columns must have the SAME type on both sides, " +
        s"got left $keyCol: ${lk.dataType} vs right $keyCol: ${rp.output(0).dataType}")
    val out = org.apache.spark.sql.catalyst.expressions
      .AttributeReference(outCol, rp.output(1).dataType, nullable = true)()
    org.apache.spark.sql.graftbridge.SparkSqlBridge.ofRows(spark,
      graft.plans.AsOfJoin(lp, rp, lk, rp.output(0), lts, rp.output(1), out,
        forward = direction == "forward"))
  }

  /** Native keyed INTERVAL join (the second whole-operator Catalyst
    * tier after [[asofJoinNative]], see [[graft.plans.IntervalJoinExec]]):
    * emits (left ++ right) for every pair with matching keys and
    * right `rightTsCol` inside the left row's (`loCol`, `hiCol`]
    * interval — strict lower / inclusive upper by default (q24's
    * bounds), both flags independently settable. `joinType` "inner"
    * or "left" (matchless left rows null-padded). Each side shuffles
    * ONCE on its own key and sorts by (key, bound); per partition a
    * sliding buffer finds each left's contiguous match run in
    * O(n + m + output) — vs Spark's sort-merge-with-residual plan
    * that tests every same-key pair. Both sides must use DISJOINT
    * column names (the output carries both untouched).
    *
    * When to use which (measured, docs/SCALING.md round 9): on
    * uniformly FINE-grained keys (a few rows per key) the plain
    * composed join is ~1.4× faster — SMJ's residual costs little
    * there and its whole-stage codegen fuses with neighbors, which a
    * custom exec breaks. On DENSE/skewed keys the composed plan's
    * per-key pair testing is quadratic and this operator's cost stays
    * flat at the output size (6.5× faster at 8e9 pairs and
    * diverging) — hot keys are exactly where a 100 TB interval join
    * concentrates into straggler tasks, so route skewed workloads
    * here.
    */
  def intervalJoinNative(
      left: DataFrame,
      right: DataFrame,
      leftKeyCol: String,
      rightKeyCol: String,
      loCol: String,
      hiCol: String,
      rightTsCol: String,
      joinType: String = "inner",
      lowerInclusive: Boolean = false,
      upperInclusive: Boolean = true
  ): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"joinType must be inner or left, got $joinType")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"interval join carries BOTH sides' columns unrenamed; these collide: " +
        s"${overlap.mkString(", ")} — rename one side first")
    val spark = left.sparkSession
    graft.plans.IntervalJoinStrategy.synchronized {
      val cur = spark.experimental.extraStrategies
      if (!cur.contains(graft.plans.IntervalJoinStrategy))
        spark.experimental.extraStrategies = cur :+ graft.plans.IntervalJoinStrategy
    }
    // fresh aliases force fresh exprIds on the right (self-join safety
    // — the asofJoinNative discipline), keeping every payload column
    val r2 = right.select(right.columns.toIndexedSeq.map(c => right.col(c).as(c)): _*)
    val lp = left.queryExecution.analyzed
    val rp = r2.queryExecution.analyzed
    def attrOf(df: DataFrame, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String, side: String): org.apache.spark.sql.catalyst.expressions.AttributeReference =
      org.apache.spark.sql.graftbridge.Bridge.expression(df.col(name)) match {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if plan.outputSet.contains(a) => a
        case other => throw new IllegalArgumentException(
          s"$side column $name must be a plain attribute of the $side frame, resolved to $other")
      }
    val lk = attrOf(left, lp, leftKeyCol, "left")
    val lo = attrOf(left, lp, loCol, "left")
    val hi = attrOf(left, lp, hiCol, "left")
    val rk = attrOf(r2, rp, rightKeyCol, "right")
    val rts = attrOf(r2, rp, rightTsCol, "right")
    // cross-side/cross-column agreement at PLAN time (the AsOfJoin
    // lesson: per-side getter checks alone let micros-vs-days slip
    // through to a silent garbage merge)
    require(lo.dataType == hi.dataType && lo.dataType == rts.dataType,
      s"interval-join ordered columns must share ONE type, got $loCol: ${lo.dataType}, " +
        s"$hiCol: ${hi.dataType}, $rightTsCol: ${rts.dataType}")
    require(lk.dataType == rk.dataType,
      s"interval-join key columns must have the SAME type on both sides, " +
        s"got $leftKeyCol: ${lk.dataType} vs $rightKeyCol: ${rk.dataType}")
    org.apache.spark.sql.graftbridge.SparkSqlBridge.ofRows(spark,
      graft.plans.IntervalJoin(lp, rp, lk, rk, lo, hi, rts,
        leftOuter = joinType == "left", lowerInclusive, upperInclusive))
  }

  /** Skew-safe equi-join: salt the (skewed) left side's key into
    * `salts` sub-keys and explode the right side across all salts, so
    * one hot key spreads over `salts` reducers. AQE handles moderate
    * skew automatically; this is the explicit tool for extreme keys.
    */
  def saltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      key: String,
      salts: Int
  ): DataFrame = {
    val saltedL = skewed.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltedR = other.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedL.join(saltedR, Seq(key, "_salt")).drop("_salt")
  }

  /** Realized Bloom-filter geometry for [[bloomSemiJoinWithStats]]:
    * `expectedFpp` is computed from the actual bit saturation after
    * insertion, so an undersized filter REPORTS its degradation (fpp
    * well above the requested target) even though results stay exact
    * — the failure mode is visible instead of silently eating the
    * shuffle reduction.
    */
  final case class BloomSemiStats(
      sizedFor: Long,
      bitSize: Long,
      expectedFpp: Double,
      requestedFpp: Double
  )

  /** O25: Bloom-prefiltered semi-join — the shuffle-volume cut for
    * the regime d07's broadcast semi-join can't reach. A broadcast
    * hash semi works while the key set fits an executor as a hashed
    * relation; past that the join shuffles BOTH sides on the key. A
    * Bloom filter of the keys (built distributed via the same
    * treeAggregate `df.stat.bloomFilter` uses, over xxhash64 of the
    * key) is a fixed, fpp-tunable fraction of that size and has NO
    * false negatives — so filtering the big side through it BEFORE
    * the exact semi-join drops ~(1 - selectivity - fpp) of the rows
    * ahead of the exchange, and the exact semi-join on the survivors
    * restores exact semantics. The probe is Spark's own codegen'd
    * `BloomFilterMightContain` over a binary literal (the expression
    * behind spark.sql.optimizer.runtime.bloomFilter, which injects
    * this same shape automatically for selective equi-joins the
    * optimizer can see through; this API is the manual form for semi
    * joins and key sets the optimizer can't size). Result is
    * spec-pinned equal to the plain left_semi join.
    */
  def bloomSemiJoin(
      df: DataFrame,
      keyCol: String,
      keys: DataFrame,
      keysCol: String,
      expectedItems: Option[Long] = None,
      fpp: Double = 0.03
  ): DataFrame =
    bloomSemiJoinWithStats(df, keyCol, keys, keysCol, expectedItems, fpp)._1

  /** As [[bloomSemiJoin]], also returning the realized filter stats.
    * `expectedItems = None` (the default) SELF-SIZES: one cheap
    * count(keys) action sizes the filter — a fixed default capacity
    * at 10⁸–10⁹ keys would silently blow the fpp while results stayed
    * correct, an invisible performance failure. Callers that already
    * know the cardinality pass `Some(n)` and skip the count.
    */
  def bloomSemiJoinWithStats(
      df: DataFrame,
      keyCol: String,
      keys: DataFrame,
      keysCol: String,
      expectedItems: Option[Long] = None,
      fpp: Double = 0.03
  ): (DataFrame, BloomSemiStats) = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    // non-distinct count: over-counting duplicate keys only oversizes
    // the filter (safe); distinct would add a shuffle to save bits
    val sizedFor = expectedItems.getOrElse(math.max(1L, keys.count()))
    val bf = keys.select(xxhash64(col(keysCol)).as("_h"))
      .stat.bloomFilter("_h", sizedFor, fpp)
    val stats = BloomSemiStats(sizedFor, bf.bitSize(), bf.expectedFpp(), fpp)
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal(baos.toByteArray),
      Bridge.expression(xxhash64(col(keyCol)))))
    // rename the key side so keyCol == keysCol stays unambiguous
    val out = df.filter(mightContain)
      .join(keys.select(col(keysCol).as("_bsj_key")).distinct(),
        col(keyCol) === col("_bsj_key"), "left_semi")
    (out, stats)
  }
}
