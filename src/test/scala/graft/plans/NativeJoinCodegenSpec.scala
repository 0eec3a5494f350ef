package graft.plans

import graft.SparkTestBase
import graft.operators.Joins
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Round-10: whole-stage codegen over the native join tier. Pins
  * (1) the execs are INSIDE a WholeStageCodegen span after AQE —
  * with a downstream projection fused into the SAME span (the
  * boundary whose absence cost the measured ~1.4x on fine-grained
  * keys, docs/SCALING.md round 9), (2) codegen-on equals codegen-off
  * row-for-row (the generated merge is the same state machine as the
  * iterator path), and (3) unsupported key types fall back to the
  * iterator path rather than failing or mis-planning.
  */
class NativeJoinCodegenSpec extends SparkTestBase {
  // conf-mutating suite: isolated SQLConf so concurrent suites
  // (testForkedParallel) never see this suite's toggles
  override lazy val spark = graft.SparkTestBase.isolatedSession


  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }) ++ p.subqueries
    p +: kids.flatMap(flatten)
  }

  private def codegenSpanOver(df: DataFrame, pred: SparkPlan => Boolean): Boolean = {
    df.collect()
    flatten(df.queryExecution.executedPlan).exists {
      case w: WholeStageCodegenExec => w.collectFirst { case p if pred(p) => p }.nonEmpty
      case _ => false
    }
  }

  private lazy val ev = Tables.load(spark, sfDir, "events")
  private def purchases = ev.filter(col("event_type") === "purchase")
    .select(col("event_id"), col("user_id"), col("ts"))
  private def clicks = ev.filter(col("event_type") === "click")
    .select(col("user_id"), col("ts"))

  private def asofDf = Joins.asofJoinNative(purchases, clicks, "user_id", "ts", "ts")
    // downstream arithmetic that must FUSE into the join's span
    .select(col("event_id"), (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("lag"))

  private def windows = ev.filter(col("event_type") === "purchase")
    .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
      (col("ts") - expr("INTERVAL 1 DAYS")).as("lo"), col("ts").as("hi"))
  private def cls = ev.filter(col("event_type") === "click")
    .select(col("user_id").as("c_user"), col("ts").as("c_ts"))

  private def intervalDf = Joins.intervalJoinNative(windows, cls,
      "p_user", "c_user", "lo", "hi", "c_ts")
    .select(col("p_event"), unix_micros(col("c_ts")).as("c_us"))

  test("AsOfJoinExec runs inside a whole-stage codegen span, downstream projection fused") {
    assert(codegenSpanOver(asofDf, _.isInstanceOf[AsOfJoinExec]),
      "AsOfJoinExec not inside a WholeStageCodegen span:\n" +
        asofDf.queryExecution.executedPlan)
  }

  test("IntervalJoinExec runs inside a whole-stage codegen span, downstream projection fused") {
    assert(codegenSpanOver(intervalDf, _.isInstanceOf[IntervalJoinExec]),
      "IntervalJoinExec not inside a WholeStageCodegen span:\n" +
        intervalDf.queryExecution.executedPlan)
  }

  private def withCodegenOff[T](f: => T): T = {
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, old)
  }

  test("codegen-on == codegen-off row-for-row (as-of, both directions; interval, both join types)") {
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val asofFwd = Joins.asofJoinNative(purchases, clicks, "user_id", "ts", "ts",
      direction = "forward")
    val intervalOuter = Joins.intervalJoinNative(windows, cls,
      "p_user", "c_user", "lo", "hi", "c_ts", joinType = "left")
    val on = Seq(rows(asofDf), rows(asofFwd.select(col("event_id"), col("asof_ts"))),
      rows(intervalDf), rows(intervalOuter.select(col("p_event"), col("c_ts"))))
    val off = withCodegenOff {
      Seq(rows(asofDf), rows(asofFwd.select(col("event_id"), col("asof_ts"))),
        rows(intervalDf), rows(intervalOuter.select(col("p_event"), col("c_ts"))))
    }
    on.zip(off).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.nonEmpty && a == b, s"probe $i: codegen and iterator paths disagree")
    }
  }

  test("unsupported key types fall back to the iterator path with correct values") {
    import spark.implicits._
    // decimal keys: no monomorphic comparator, supportCodegen = false
    val l = Seq((BigDecimal(1), 10L, 20L, "a"), (BigDecimal(2), 5L, 15L, "b"))
      .toDF("k", "lo", "hi", "tag")
    val r = Seq((BigDecimal(1), 12L, "x"), (BigDecimal(2), 30L, "y"))
      .toDF("rk", "ts", "rtag")
    val j = Joins.intervalJoinNative(l, r, "k", "rk", "lo", "hi", "ts")
    j.collect()
    assert(!codegenSpanOver(j, _.isInstanceOf[IntervalJoinExec]),
      "decimal-key interval join must not claim codegen support")
    assert(j.select($"tag", $"rtag").collect().map(x => (x.getString(0), x.getString(1)))
      .toSet == Set(("a", "x")))
    val aj = Joins.asofJoinNative(
      l.select($"k", $"lo".as("ts"), $"tag"),
      r.select($"rk".as("k"), $"ts"), "k", "ts", "ts", outCol = "m")
    aj.collect()
    assert(!codegenSpanOver(aj, _.isInstanceOf[AsOfJoinExec]),
      "decimal-key as-of join must not claim codegen support")
  }
}
