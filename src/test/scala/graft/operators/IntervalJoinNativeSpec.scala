package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** The native interval join (IntervalJoin node → IntervalJoinStrategy
  * → sliding-buffer IntervalJoinExec) against the composed
  * equi-join-plus-range-filter reference plan: identical values on
  * real data and on hand-built edges that specifically stress the
  * sliding buffer (overlap, non-monotonic interval ends, empty
  * intervals, boundary flags), plus plan-shape asserts.
  */
class IntervalJoinNativeSpec extends SparkTestBase {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(flatten)
  }

  private def eventsSides = {
    val ev = Tables.load(spark, sfDir, "events")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withColumn("s_hi", col("s_ts") + expr("INTERVAL 1 HOUR"))
    val others = ev.select(col("user_id").as("e_user"), col("ts").as("e_ts"),
      col("event_id").as("e_id"))
    (signups, others)
  }

  test("native interval join equals the composed join on sf0.001 events, inner and left") {
    val (signups, others) = eventsSides
    def composed(jt: String) = signups.join(others,
      col("e_user") === col("s_user") && col("e_ts") > col("s_ts") &&
        col("e_ts") <= col("s_hi"), jt)
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.select(col("s_id"), col("e_id"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    for (jt <- Seq("inner", "left")) {
      val reference = normalize(composed(jt))
      val native = normalize(Joins.intervalJoinNative(signups, others,
        "s_user", "e_user", "s_ts", "s_hi", "e_ts", joinType = jt))
      assert(native == reference, s"joinType=$jt mismatch")
    }
    // the left-outer path must actually exercise matchless signups
    val matchless = normalize(composed("left")).keys.count(_._2 == -1L)
    assert(matchless > 0, "corpus should exercise the null-padded path")
  }

  test("boundary flags: default (lo, hi]; each flag flips its own bound") {
    import spark.implicits._
    val left = Seq((1L, 10L, 20L, 100L)).toDF("k", "lo", "hi", "lid")
    val right = Seq((1L, 10L, 0L), (1L, 15L, 1L), (1L, 20L, 2L), (1L, 21L, 3L))
      .toDF("rk", "rts", "rid")
    def ids(lowInc: Boolean, upInc: Boolean) =
      Joins.intervalJoinNative(left, right, "k", "rk", "lo", "hi", "rts",
        lowerInclusive = lowInc, upperInclusive = upInc)
        .select($"rid").collect().map(_.getLong(0)).toSet
    assert(ids(false, true) == Set(1L, 2L))       // (10, 20]
    assert(ids(true, true) == Set(0L, 1L, 2L))    // [10, 20]
    assert(ids(false, false) == Set(1L))          // (10, 20)
    assert(ids(true, false) == Set(0L, 1L))       // [10, 20)
  }

  test("overlapping intervals share right rows; non-monotonic hi keeps leftovers") {
    import spark.implicits._
    // left2's interval is NARROWER than left1's and starts later:
    // rights pulled for left1 beyond left2's hi must stay buffered
    // without matching left2, and left3 must still see them
    val left = Seq(
      (1L, 0L, 100L, 10L),  // wide: matches ts 5,10,50,90
      (1L, 4L, 11L, 20L),   // narrow inside: matches ts 5,10
      (1L, 40L, 95L, 30L)   // later: matches ts 50,90
    ).toDF("k", "lo", "hi", "lid")
    val right = Seq((1L, 5L), (1L, 10L), (1L, 50L), (1L, 90L), (1L, 200L))
      .toDF("rk", "rts")
    val got = Joins.intervalJoinNative(left, right, "k", "rk", "lo", "hi", "rts")
      .select($"lid", $"rts").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((10L, 5L), (10L, 10L), (10L, 50L), (10L, 90L),
      (20L, 5L), (20L, 10L), (30L, 50L), (30L, 90L))
    assert(got == want, s"got $got")
  }

  test("empty intervals, null bounds, null right ts, and key gaps") {
    import spark.implicits._
    val left = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(50L), java.lang.Long.valueOf(10L), 1L), // lo > hi: empty
      (java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(99L), 2L), // null lo
      (java.lang.Long.valueOf(2L), java.lang.Long.valueOf(0L), java.lang.Long.valueOf(99L), 3L), // key absent on right
      (java.lang.Long.valueOf(3L), java.lang.Long.valueOf(0L), java.lang.Long.valueOf(99L), 4L)  // matches
    ).toDF("k", "lo", "hi", "lid")
    val right = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(20L)),
      (java.lang.Long.valueOf(3L), java.lang.Long.valueOf(5L)),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[java.lang.Long]) // null ts skipped
    ).toDF("rk", "rts")
    val inner = Joins.intervalJoinNative(left, right, "k", "rk", "lo", "hi", "rts")
      .select($"lid", $"rts").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inner == Set((4L, 5L)), s"got $inner")
    val outer = Joins.intervalJoinNative(left, right, "k", "rk", "lo", "hi", "rts",
      joinType = "left")
      .select($"lid", $"rts").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(outer == Set((1L, -1L), (2L, -1L), (3L, -1L), (4L, 5L)), s"got $outer")
  }

  test("the plan runs IntervalJoinExec: no nested-loop join, no SMJ, one exchange per side") {
    val (signups, others) = eventsSides
    val df = Joins.intervalJoinNative(signups, others,
      "s_user", "e_user", "s_ts", "s_hi", "e_ts", joinType = "left")
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[graft.plans.IntervalJoinExec]),
      "IntervalJoinExec missing from the executed plan")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "range join fell back to BroadcastNestedLoopJoin")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "range join fell back to SMJ-with-residual")
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exchanges == 2, s"expected one exchange per side, got $exchanges")
  }

  test("pre-partitioned, pre-sorted inputs skip their exchange (the bucketing win)") {
    val (signups, others) = eventsSides
    val lPre = signups.repartition(8, col("s_user"))
      .sortWithinPartitions(col("s_user"), col("s_ts"))
    val rPre = others.repartition(8, col("e_user"))
      .sortWithinPartitions(col("e_user"), col("e_ts"))
    val df = Joins.intervalJoinNative(lPre, rPre,
      "s_user", "e_user", "s_ts", "s_hi", "e_ts")
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val ex = nodes.collect { case e: ShuffleExchangeLike => e }
    // the two repartition exchanges are the ONLY ones: EnsureRequirements
    // recognized the existing distribution+ordering and added none
    assert(ex.size == 2, s"expected only the 2 explicit repartitions, got ${ex.size}")
    val sorts = nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])
    assert(sorts == 2, s"expected only the 2 explicit sorts, got $sorts")
  }

  test("type mismatches and column collisions are rejected at plan time") {
    import spark.implicits._
    val left = Seq((1L, 0L, 9L)).toDF("k", "lo", "hi")
    val rightInt = Seq((1, 5L)).toDF("rk", "rts")
    val e1 = intercept[IllegalArgumentException] {
      Joins.intervalJoinNative(left, rightInt, "k", "rk", "lo", "hi", "rts")
    }
    assert(e1.getMessage.contains("SAME type"), e1.getMessage)
    val rightIntTs = Seq((1L, 5)).toDF("rk", "rts")
    val e2 = intercept[IllegalArgumentException] {
      Joins.intervalJoinNative(left, rightIntTs, "k", "rk", "lo", "hi", "rts")
    }
    assert(e2.getMessage.contains("ONE type"), e2.getMessage)
    val rightClash = Seq((1L, 5L)).toDF("k", "rts")
    val e3 = intercept[IllegalArgumentException] {
      Joins.intervalJoinNative(left, rightClash, "k", "k", "lo", "hi", "rts")
    }
    assert(e3.getMessage.contains("collide"), e3.getMessage)
  }

  test("q61 equals q24 row-for-row (same query through the native operator)") {
    val q24 = graft.SparkEntry.queries("q24_range_join")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q61 = graft.SparkEntry.queries("q61_interval_join_native")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q61 == q24)
  }

  test("column pruning penetrates the native nodes: unused payload never reaches the scans") {
    // The logical IntervalJoin/AsOfJoin expose ALL child outputs, so
    // pruning depends on Catalyst's GENERIC ColumnPruning case seeing
    // only the join attributes in `references` and inserting Projects
    // below the node — if a node change ever folds payload attrs into
    // references (or breaks withNewChildren), scans silently widen to
    // every column; at 100 TB that is the whole scan bill. Pinned by
    // selecting 2 columns downstream and asserting the wide columns
    // (value, props) are absent from every parquet ReadSchema.
    val ev = Tables.load(spark, sfDir, "events")
    val l = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"), col("value").as("s_value"), col("props").as("s_props"))
      .withColumn("s_hi", col("s_ts") + expr("INTERVAL 1 HOUR"))
    val r = ev.select(col("user_id").as("e_user"), col("ts").as("e_ts"),
      col("event_id").as("e_id"), col("value").as("e_value"))
    val ij = Joins.intervalJoinNative(l, r, "s_user", "e_user", "s_ts", "s_hi", "e_ts",
        joinType = "left")
      .select(col("s_id"), col("e_id"))
    val ijSchemas = "ReadSchema: [^\n]*".r
      .findAllIn(ij.queryExecution.executedPlan.toString).toList
    assert(ijSchemas.nonEmpty)
    assert(!ijSchemas.exists(s => s.contains("props") || s.contains("value")),
      s"interval-join scans read pruned-away payload:\n${ijSchemas.mkString("\n")}")

    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("props"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val ao = Joins.asofJoinNative(c, p, "user_id", "ts", "ts", outCol = "m_ts")
      .select(col("event_id"), col("m_ts"))
    val aoSchemas = "ReadSchema: [^\n]*".r
      .findAllIn(ao.queryExecution.executedPlan.toString).toList
    assert(aoSchemas.nonEmpty)
    assert(!aoSchemas.exists(s => s.contains("props") || s.contains("value")),
      s"as-of scans read pruned-away payload:\n${aoSchemas.mkString("\n")}")
  }
}
