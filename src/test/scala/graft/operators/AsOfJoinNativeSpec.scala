package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The custom whole-operator Catalyst path (AsOfJoin logical node →
  * AsOfJoinStrategy → sort-merge AsOfJoinExec) against the
  * union+window reference implementation: identical values on real
  * data and hand-built edges, plus plan-shape asserts proving the
  * operator actually runs (and runs withOUT a window or union).
  */
class AsOfJoinNativeSpec extends SparkTestBase {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Every node in the final plan, descending through AQE wrappers
    * (query stages are leaf-like and hide their subtree from collect).
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(flatten)
  }

  test("native as-of equals the union+window asofJoin on sf0.001 events") {
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
          Option(r.getTimestamp(3)))).toSet
    val reference = normalize(Joins.asofJoin(p, c, "user_id", "ts", "ts"))
    val native = normalize(Joins.asofJoinNative(p, c, "user_id", "ts", "ts"))
    assert(native == reference)
    assert(reference.exists(_._4.isEmpty), "corpus should exercise the no-match path")
  }

  test("inclusive boundary, interleaved keys, and string keys") {
    import spark.implicits._
    val left = Seq(
      ("a", ts("2024-01-01 00:00:10"), 1L),
      ("a", ts("2024-01-01 00:00:20"), 2L),
      ("b", ts("2024-01-01 00:00:05"), 3L),
      ("c", ts("2024-01-01 00:00:01"), 4L) // key with no right rows
    ).toDF("k", "ts", "id")
    val right = Seq(
      ("a", ts("2024-01-01 00:00:10")), // exactly at left id=1 -> taken
      ("a", ts("2024-01-01 00:00:15")),
      ("b", ts("2024-01-01 00:00:06")) // after left id=3 -> no match
    ).toDF("k", "ts")
    val got = Joins.asofJoinNative(left, right, "k", "ts", "ts")
      .collect().map(r => r.getLong(2) -> Option(r.getTimestamp(3))).toMap
    assert(got == Map(
      1L -> Some(ts("2024-01-01 00:00:10")),
      2L -> Some(ts("2024-01-01 00:00:15")),
      3L -> None,
      4L -> None), s"got $got")
  }

  test("the plan runs AsOfJoinExec: one exchange per side, no window, no union") {
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val df = Joins.asofJoinNative(p, c, "user_id", "ts", "ts")
    df.collect() // finalize any adaptive plan
    val all = flatten(df.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[graft.plans.AsOfJoinExec]), all.head.toString)
    assert(!all.exists(_.isInstanceOf[WindowExec]), "window must not appear")
    val exchanges = all.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exchanges == 2, s"expected one exchange per side, got $exchanges\n${all.head}")
  }

  test("forward direction: earliest at-or-after match, shared across consecutive lefts") {
    import spark.implicits._
    val left = Seq(
      ("a", ts("2024-01-01 00:00:05"), 1L),
      ("a", ts("2024-01-01 00:00:08"), 2L), // same forward match as id=1
      ("a", ts("2024-01-01 00:00:10"), 3L), // exactly at the right ts: inclusive
      ("a", ts("2024-01-01 00:00:11"), 4L) // past the last right: no match
    ).toDF("k", "ts", "id")
    val right = Seq(
      ("a", ts("2024-01-01 00:00:01")), // before everything: discarded
      ("a", ts("2024-01-01 00:00:10"))
    ).toDF("k", "ts")
    val got = Joins.asofJoinNative(left, right, "k", "ts", "ts", direction = "forward")
      .collect().map(r => r.getLong(2) -> Option(r.getTimestamp(3))).toMap
    val t10 = Some(ts("2024-01-01 00:00:10"))
    assert(got == Map(1L -> t10, 2L -> t10, 3L -> t10, 4L -> None), s"got $got")
  }

  test("forward direction matches a brute-force replay on sf0.001 events") {
    val ev = Tables.load(spark, sfDir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val got = Joins.asofJoinNative(c, p, "user_id", "ts", "ts", direction = "forward")
      .select(col("event_id"), unix_micros(col("asof_ts")).as("m"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    val rows = ev.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val pByUser: Map[Long, Seq[Long]] = rows.filter(_._3 == "purchase").groupBy(_._2)
      .map { case (u, xs) => u -> xs.map(_._4).sorted.toSeq }
    val expected = rows.filter(_._3 == "click").map { case (id, u, _, us) =>
      val later = pByUser.getOrElse(u, Seq.empty[Long]).filter(_ >= us)
      id -> (if (later.isEmpty) -1L else later.min)
    }.toMap
    assert(got == expected)
  }

  test("null left keys match nothing; null right keys and timestamps are skipped") {
    import spark.implicits._
    val left = Seq(
      (Some("a"), Some(ts("2024-01-01 00:00:10")), 1L),
      (None: Option[String], Some(ts("2024-01-01 00:00:10")), 2L), // null key
      (Some("a"), None: Option[java.sql.Timestamp], 3L) // null ts
    ).toDF("k", "ts", "id")
    val right = Seq(
      (Some("a"), Some(ts("2024-01-01 00:00:05"))),
      (None: Option[String], Some(ts("2024-01-01 00:00:01"))), // null key: skipped
      (Some("a"), None: Option[java.sql.Timestamp]) // null ts: skipped
    ).toDF("k", "ts")
    val got = Joins.asofJoinNative(left, right, "k", "ts", "ts")
      .collect().map(r => r.getLong(2) -> Option(r.getTimestamp(3))).toMap
    assert(got == Map(
      1L -> Some(ts("2024-01-01 00:00:05")),
      2L -> None,
      3L -> None), s"got $got")
  }

  test("DateType ordering column works (int-backed read path), the daily-prices case") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val left = Seq(("a", d("2024-03-10"), 1L), ("a", d("2024-01-01"), 2L))
      .toDF("k", "day", "id")
    val right = Seq(("a", d("2024-03-01")), ("a", d("2024-06-01")))
      .toDF("k", "day")
    val got = Joins.asofJoinNative(left, right, "k", "day", "day")
      .collect().map(r => r.getLong(2) -> Option(r.getDate(3))).toMap
    assert(got == Map(1L -> Some(d("2024-03-01")), 2L -> None), s"got $got")
  }

  test("string ts columns are rejected loudly instead of mis-read as longs") {
    import spark.implicits._
    val left = Seq(("a", "2024-01-01", 1L)).toDF("k", "ts", "id")
    val right = Seq(("a", "2024-01-01")).toDF("k", "ts")
    val e = intercept[Exception] {
      Joins.asofJoinNative(left, right, "k", "ts", "ts").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("timestamp/date/integral")), e.toString)
  }

  test("cross-side type mismatches are rejected at PLAN time, not mis-compared") {
    import spark.implicits._
    // timestamp (micros) vs date (days): each side's getter accepts
    // its own type, so without the cross-check the merge would
    // silently compare micros against days — garbage matches, no error
    val lTs = Seq(("a", ts("2024-01-02 00:00:00"), 1L)).toDF("k", "t", "id")
    val rDate = Seq(("a", java.sql.Date.valueOf("2024-01-01"))).toDF("k", "t")
    val e1 = intercept[IllegalArgumentException] {
      Joins.asofJoinNative(lTs, rDate, "k", "t", "t")
    }
    assert(e1.getMessage.contains("SAME type"), e1.getMessage)
    // long vs int keys: without the check this only dies at runtime
    // as a ClassCastException from the interpreted ordering
    val lLong = Seq((1L, ts("2024-01-02 00:00:00"), 1L)).toDF("k", "t", "id")
    val rInt = Seq((1, ts("2024-01-01 00:00:00"))).toDF("k", "t")
    val e2 = intercept[IllegalArgumentException] {
      Joins.asofJoinNative(lLong, rInt, "k", "t", "t")
    }
    assert(e2.getMessage.contains("SAME type"), e2.getMessage)
  }

  test("an outCol colliding with an existing left column is rejected at plan time") {
    import spark.implicits._
    val left = Seq(("a", ts("2024-01-02 00:00:00"), ts("2024-01-01 00:00:00")))
      .toDF("k", "t", "asof_ts")
    val right = Seq(("a", ts("2024-01-01 00:00:00"))).toDF("k", "t")
    val e = intercept[IllegalArgumentException] {
      Joins.asofJoinNative(left, right, "k", "t", "t")
    }
    assert(e.getMessage.contains("asof_ts"), e.getMessage)
    // a distinct outCol on the same frame works
    val ok = Joins.asofJoinNative(left, right, "k", "t", "t", outCol = "matched_ts")
    assert(ok.columns.count(_ == "matched_ts") == 1)
  }

  test("column resolution honors session case-insensitivity like the window form") {
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"))
    val upper = Joins.asofJoinNative(p, c, "USER_ID", "TS", "TS")
      .select(col("event_id"), col("asof_ts")).collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
    val exact = Joins.asofJoinNative(p, c, "user_id", "ts", "ts")
      .select(col("event_id"), col("asof_ts")).collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
    assert(upper == exact)
  }

  test("mismatched pre-partitioning: EnsureRequirements re-aligns the sides (13 vs default)") {
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .repartition(13, col("user_id")) // deliberately NOT the session's 8
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.getTimestamp(3)))).toSet
    val got = normalize(Joins.asofJoinNative(p, c, "user_id", "ts", "ts"))
    val ref = normalize(Joins.asofJoin(
      p, c, "user_id", "ts", "ts"))
    assert(got == ref)
  }

  test("the limit-pushdown rule drives a limit into the left child of AsOfJoin") {
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val full = Joins.asofJoinNative(p, c, "user_id", "ts", "ts")
    val limited = full.limit(25)
    // the optimized plan must show LocalLimit BELOW the AsOfJoin node
    val opt = limited.queryExecution.optimizedPlan
    val pushed = opt.collect {
      case a: graft.plans.AsOfJoin
        if a.left.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalLimit] => a
    }
    assert(pushed.nonEmpty, s"limit not pushed through AsOfJoin:\n$opt")
    // results: exactly 25 rows, each a valid row of the full join
    val fullSet = full.collect().map(_.toString).toSet
    val got = limited.collect()
    assert(got.length == 25)
    assert(got.forall(r => fullSet.contains(r.toString)))
  }

  test("pre-partitioned, pre-sorted inputs skip their exchange (the bucketing win)") {
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .repartition(col("user_id")).sortWithinPartitions(col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
      .repartition(col("user_id")).sortWithinPartitions(col("user_id"), col("ts"))
    val df = Joins.asofJoinNative(p, c, "user_id", "ts", "ts")
    df.collect()
    val all = flatten(df.queryExecution.executedPlan)
    // the two repartition exchanges are the only ones; the operator
    // itself added none on top (requirement already satisfied)
    val exchanges = all.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exchanges == 2, s"operator must reuse the existing partitioning\n${all.head}")
  }
}
