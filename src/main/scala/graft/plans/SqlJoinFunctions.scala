package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL syntax for the whole-operator join tier (X10): table-valued
  * functions `asof_join(...)` / `interval_join(...)`, registered
  * through `SparkSessionExtensions.injectTableFunction` (GraftExtensions)
  * — so the native P1/P3 operators, previously reachable only from
  * the Scala API, compose into plain SQL and the `Cli sql`
  * subcommand:
  *
  *   SELECT * FROM asof_join('clicks', 'impressions',
  *     'user_id', 'click_ts', 'imp_ts', 'matched_ts', 'backward')
  *   SELECT * FROM interval_join('sessions', 'events',
  *     's_user', 'e_user', 's_start', 's_end', 'e_ts', 'inner')
  *
  * Tables are referenced BY NAME (temp views or catalog tables —
  * `Cli sql -d dir` registers every testdata parquet as a view);
  * column names and options are string literals. The builder resolves
  * the names through `SparkSession.active.table` and delegates to the
  * same Ops constructors the Scala API uses — one code path, so every
  * plan-time contract (cross-side type agreement, outCol collision,
  * disjoint-columns, strategy self-registration) holds identically in
  * SQL, and the planned operator is the SAME AsOfJoinExec /
  * IntervalJoinExec (CliSpec pins row equality between the `sql`
  * surface and the Scala calls). A parser injection could add infix
  * `ASOF JOIN` syntax on top; the TVF form was chosen because it
  * needs no grammar fork and composes as a relation (CTEs, joins,
  * further filters all work around it).
  */
object SqlJoinFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  private def strArg(args: Seq[Expression], i: Int, fn: String, what: String): String =
    args.lift(i) match {
      case Some(Literal(s: UTF8String, StringType)) => s.toString
      case Some(other) => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} ($what) must be a string literal, got $other")
      case None => throw new IllegalArgumentException(
        s"$fn: missing argument ${i + 1} ($what)")
    }

  private def strOpt(args: Seq[Expression], i: Int, fn: String, what: String,
      dflt: String): String =
    if (i < args.length) strArg(args, i, fn, what) else dflt

  private def boolOpt(args: Seq[Expression], i: Int, fn: String, what: String,
      dflt: Boolean): Boolean =
    args.lift(i) match {
      case None => dflt
      case Some(Literal(b: java.lang.Boolean, BooleanType)) => b
      case Some(other) => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} ($what) must be a boolean literal, got $other")
    }

  /** `asof_join(left, right, key, left_ts, right_ts[, out_col[,
    * direction]])` — left/right are table names; appends `out_col`
    * (default `asof_ts`) = the latest right_ts at-or-before each left
    * row's left_ts per key (direction 'forward' flips to
    * earliest-at-or-after).
    */
  val asofJoinTvf: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("asof_join"),
    info("asof_join",
      "asof_join(left_table, right_table, key, left_ts, right_ts[, out_col[, direction]]) " +
        "- native sort-merge as-of join of two named tables"),
    (args: Seq[Expression]) => {
      val fn = "asof_join"
      require(args.length >= 5 && args.length <= 7,
        s"$fn takes 5 to 7 arguments, got ${args.length}")
      val spark = SparkSession.active
      graft.operators.Joins.asofJoinNative(
        spark.table(strArg(args, 0, fn, "left table")),
        spark.table(strArg(args, 1, fn, "right table")),
        strArg(args, 2, fn, "key column"),
        strArg(args, 3, fn, "left ts column"),
        strArg(args, 4, fn, "right ts column"),
        strOpt(args, 5, fn, "output column", "asof_ts"),
        strOpt(args, 6, fn, "direction", "backward")
      ).queryExecution.analyzed
    }
  )

  /** `interval_join(left, right, left_key, right_key, lo, hi,
    * right_ts[, join_type[, lower_inclusive, upper_inclusive]])` —
    * left/right are table names; emits left ++ right for each
    * key-matched pair with right_ts inside (lo, hi] (default bounds;
    * both flags settable). join_type 'inner' (default) or 'left'.
    */
  val intervalJoinTvf: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("interval_join"),
    info("interval_join",
      "interval_join(left_table, right_table, left_key, right_key, lo, hi, right_ts" +
        "[, join_type[, lower_inclusive, upper_inclusive]]) " +
        "- native sliding-buffer sort-merge interval join of two named tables"),
    (args: Seq[Expression]) => {
      val fn = "interval_join"
      require(args.length >= 7 && args.length <= 10,
        s"$fn takes 7 to 10 arguments, got ${args.length}")
      val spark = SparkSession.active
      graft.operators.Joins.intervalJoinNative(
        spark.table(strArg(args, 0, fn, "left table")),
        spark.table(strArg(args, 1, fn, "right table")),
        strArg(args, 2, fn, "left key column"),
        strArg(args, 3, fn, "right key column"),
        strArg(args, 4, fn, "lower-bound column"),
        strArg(args, 5, fn, "upper-bound column"),
        strArg(args, 6, fn, "right ts column"),
        strOpt(args, 7, fn, "join type", "inner"),
        boolOpt(args, 8, fn, "lower_inclusive", dflt = false),
        boolOpt(args, 9, fn, "upper_inclusive", dflt = true)
      ).queryExecution.analyzed
    }
  )

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] =
    Seq(asofJoinTvf, intervalJoinTvf)
}
