package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Relational operator suite (SURVEY.md §2.2) on the TPC-H-ish driver
  * tables. Every query is declarative DataFrame code — Catalyst gets
  * full pushdown/pruning/reorder freedom — with join strategies chosen
  * for 100 TB (broadcast dims, shuffle facts, AQE for skew).
  */
object Relational {

  /** Exact decimal for money columns (2dp data — cast is lossless). */
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Exact decimal for rate columns (discount/tax, 2dp in [0,1)). */
  private def dec4(c: Column): Column = c.cast(DecimalType(4, 2))
  private def sumd(c: Column): Column = sum(c).cast("double")
  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s))

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  val all: Seq[Q] = Seq(
    Q(
      "q01_pricing_agg",
      "TPC-H Q1 style pricing summary: groupBy agg with exact decimal sums",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "lineitem")
          .filter($"l_shipdate" <= ts("1998-09-02 00:00:00"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sumd(dec2($"l_quantity")).as("sum_qty"),
            sumd(dec2($"l_extendedprice")).as("sum_base_price"),
            sumd(dec2($"l_extendedprice") * (lit(1) - dec4($"l_discount"))).as("sum_disc_price"),
            sumd(dec2($"l_extendedprice") * (lit(1) - dec4($"l_discount")) * (lit(1) + dec4($"l_tax"))).as("sum_charge"),
            (sum(dec2($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order")
          )
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      // decimal→double via a VARCHAR round-trip: DuckDB's direct
      // DECIMAL→DOUBLE cast multiplies the int128 by 10^-s in double
      // arithmetic and can land 1 ulp off the correctly-rounded value
      // once the sum carries 17+ significant digits (seen at sf1);
      // strtod — and Spark's BigDecimal.doubleValue — are correctly
      // rounded, so the round-trip pins both engines to the same bits.
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")
    ),

    Q(
      "q02_filter_project",
      "Predicate + projection pushed to the parquet scan",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "lineitem")
          .filter(
            $"l_shipdate" >= ts("1996-01-01 00:00:00") &&
              $"l_shipdate" < ts("1996-04-01 00:00:00") &&
              $"l_discount" > 0.05
          )
          .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' AND l_discount > 0.05
        ORDER BY l_orderkey, l_linenumber""")
    ),

    Q(
      "q03_join_agg",
      "TPC-H Q3 style: 3-way join + agg + deterministic top-10",
      (spark, dir) => {
        import spark.implicits._
        val cust = t(spark, dir, "customer").filter($"c_mktsegment" === "BUILDING")
        val ord = t(spark, dir, "orders").filter($"o_orderdate" < ts("1996-03-15 00:00:00"))
        val li = t(spark, dir, "lineitem").filter($"l_shipdate" > ts("1996-03-15 00:00:00"))
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .groupBy($"l_orderkey", $"o_orderdate")
          .agg(sumd(dec2($"l_extendedprice") * (lit(1) - dec4($"l_discount"))).as("revenue"))
          .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")
    ),

    Q(
      "q04_semi_join",
      "EXISTS re-expressed as left_semi (no row duplication, no distinct)",
      (spark, dir) => {
        import spark.implicits._
        val big = t(spark, dir, "lineitem").filter($"l_quantity" > 45).select($"l_orderkey")
        t(spark, dir, "orders")
          .join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),

    Q(
      "q05_multi_join",
      "TPC-H Q5 style 6-way star join; dims broadcast, facts shuffle",
      (spark, dir) => {
        import spark.implicits._
        val region = t(spark, dir, "region").filter($"r_name" === "ASIA")
        val nation = t(spark, dir, "nation")
        val cust = t(spark, dir, "customer")
        val ord = t(spark, dir, "orders").filter(
          $"o_orderdate" >= ts("1995-01-01 00:00:00") && $"o_orderdate" < ts("1996-01-01 00:00:00")
        )
        val li = t(spark, dir, "lineitem")
        val supp = t(spark, dir, "supplier")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(sumd(dec2($"l_extendedprice") * (lit(1) - dec4($"l_discount"))).as("revenue"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY n_name ORDER BY n_name""")
    ),

    Q(
      "q06_conditional_agg",
      "TPC-H Q6 style: tight range filters feeding one exact sum",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "lineitem")
          .filter(
            $"l_shipdate" >= ts("1996-01-01 00:00:00") &&
              $"l_shipdate" < ts("1997-01-01 00:00:00") &&
              $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24
          )
          .agg(
            sumd(dec2($"l_extendedprice") * dec4($"l_discount")).as("revenue"),
            count(lit(1)).as("n_rows")
          )
      },
      Some("""SELECT
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""")
    ),

    Q(
      "q07_anti_join",
      "NOT EXISTS re-expressed as left_anti",
      (spark, dir) => {
        import spark.implicits._
        val urgent = t(spark, dir, "orders")
          .filter($"o_orderpriority" === "1-URGENT")
          .select($"o_custkey")
        t(spark, dir, "customer")
          .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_customers"), sumd(dec2($"c_acctbal")).as("total_bal"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers,
        CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_bal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    ),

    Q(
      "q08_outer_join",
      "Left outer join preserving zero-order customers; order-count histogram",
      (spark, dir) => {
        import spark.implicits._
        val ord = t(spark, dir, "orders").select($"o_custkey", $"o_orderkey")
        t(spark, dir, "customer")
          .join(ord, $"c_custkey" === $"o_custkey", "left")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("n_orders"))
          .groupBy($"n_orders")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy($"n_orders")
      },
      Some("""WITH c AS (
          SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          GROUP BY c_custkey)
        SELECT n_orders, COUNT(*) AS n_customers FROM c
        GROUP BY n_orders ORDER BY n_orders""")
    ),

    Q(
      "q09_distinct",
      "Distinct projection (shuffle dedup)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "orders")
          .select($"o_orderstatus", $"o_orderpriority")
          .distinct()
          .orderBy($"o_orderstatus", $"o_orderpriority")
      },
      Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        ORDER BY o_orderstatus, o_orderpriority""")
    ),

    Q(
      "q10_union",
      "Union-all of heterogenous key sources + aggregation",
      (spark, dir) => {
        import spark.implicits._
        val c = t(spark, dir, "customer").select($"c_nationkey".as("nationkey"))
        val s = t(spark, dir, "supplier").select($"s_nationkey".as("nationkey"))
        c.unionByName(s)
          .groupBy($"nationkey")
          .agg(count(lit(1)).as("n"))
          .orderBy($"nationkey")
      },
      Some("""SELECT nationkey, COUNT(*) AS n FROM (
          SELECT c_nationkey AS nationkey FROM customer
          UNION ALL SELECT s_nationkey AS nationkey FROM supplier) u
        GROUP BY nationkey ORDER BY nationkey""")
    ),

    Q(
      "q11_window_rank",
      "Rank over partition with deterministic tiebreak",
      (spark, dir) => {
        import spark.implicits._
        val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
        t(spark, dir, "customer")
          .withColumn("rnk", rank().over(w))
          .filter($"rnk" <= 3)
          .select($"c_nationkey", $"rnk", $"c_custkey", $"c_acctbal")
          .orderBy($"c_nationkey", $"rnk", $"c_custkey")
      },
      Some("""SELECT c_nationkey, CAST(rnk AS INT) AS rnk, c_custkey, c_acctbal FROM (
          SELECT c_nationkey, c_custkey, c_acctbal,
            RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
          FROM customer) r
        WHERE rnk <= 3 ORDER BY c_nationkey, rnk, c_custkey""")
    ),

    Q(
      "q12_window_running",
      "Running decimal-exact sum + lag gap per partition",
      (spark, dir) => {
        import spark.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        t(spark, dir, "orders")
          .withColumn(
            "running_spend",
            sum(dec2($"o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
          )
          .withColumn(
            "days_since_prev",
            datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)).cast("int")
          )
          .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"running_spend", $"days_since_prev")
          .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend,
        CAST(date_diff('day',
          lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          o_orderdate) AS INT) AS days_since_prev
        FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""")
    ),

    Q(
      "q13_rollup",
      "Hierarchical subtotals via ROLLUP",
      (spark, dir) => {
        import spark.implicits._
        val ord = t(spark, dir, "orders")
        val cust = t(spark, dir, "customer")
        val nation = t(spark, dir, "nation")
        ord
          .join(cust, $"o_custkey" === $"c_custkey")
          .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
          .rollup($"n_name", $"o_orderstatus")
          .agg(sumd(dec2($"o_totalprice")).as("total"), count(lit(1)).as("cnt"))
          .orderBy(asc_nulls_first("n_name"), asc_nulls_first("o_orderstatus"))
      },
      Some("""SELECT n_name, o_orderstatus,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total, COUNT(*) AS cnt
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, o_orderstatus)
        ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST""")
    ),

    Q(
      "q14_topn_per_group",
      "Top-N per group: aggregate then row_number window",
      (spark, dir) => {
        import spark.implicits._
        val spend = t(spark, dir, "orders")
          .groupBy($"o_custkey")
          .agg(sumd(dec2($"o_totalprice")).as("spend"))
        val cust = t(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
        val w = Window.partitionBy($"c_nationkey").orderBy($"spend".desc, $"c_custkey")
        spend
          .join(cust, $"o_custkey" === $"c_custkey")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 2)
          .select($"c_nationkey", $"rn", $"c_custkey", $"spend")
          .orderBy($"c_nationkey", $"rn")
      },
      Some("""WITH spend AS (
          SELECT o_custkey, CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS spend
          FROM orders GROUP BY o_custkey),
        ranked AS (
          SELECT c_nationkey, c_custkey, spend,
            ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rn
          FROM spend JOIN customer ON o_custkey = c_custkey)
        SELECT c_nationkey, CAST(rn AS INT) AS rn, c_custkey, spend FROM ranked
        WHERE rn <= 2 ORDER BY c_nationkey, rn""")
    ),

    Q(
      "q15_scalar_subquery",
      "Scalar subquery as broadcast cross-join of a 1-row aggregate",
      (spark, dir) => {
        import spark.implicits._
        val part = t(spark, dir, "part")
        val avgSize = part.agg((sum($"p_size").cast("double") / count(lit(1))).as("avg_size"))
        part
          .join(broadcast(avgSize))
          .filter($"p_size" > $"avg_size")
          .groupBy($"p_brand")
          .agg(count(lit(1)).as("n"))
          .orderBy($"p_brand")
      },
      Some("""SELECT p_brand, COUNT(*) AS n FROM part
        WHERE p_size > (SELECT CAST(SUM(p_size) AS DOUBLE) / COUNT(*) FROM part)
        GROUP BY p_brand ORDER BY p_brand""")
    ),

    Q(
      "q16_in_subquery",
      "IN (subquery) as left_semi on the subquery keys",
      (spark, dir) => {
        import spark.implicits._
        val mach = t(spark, dir, "customer")
          .filter($"c_mktsegment" === "MACHINERY")
          .select($"c_custkey")
        t(spark, dir, "orders")
          .join(mach, $"o_custkey" === $"c_custkey", "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),

    Q(
      "q17_case_when",
      "Pivot-style conditional aggregation (one pass, map-side combinable)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "orders")
          .groupBy(year($"o_orderdate").cast("int").as("o_year"))
          .agg(
            count(when($"o_orderstatus" === "F", 1)).as("n_f"),
            count(when($"o_orderstatus" === "O", 1)).as("n_o"),
            count(when($"o_orderstatus" === "P", 1)).as("n_p"),
            sum(when($"o_orderpriority".startsWith("1"), dec2($"o_totalprice"))
              .otherwise(lit(0).cast(DecimalType(12, 2)))).cast("double").as("urgent_total")
          )
          .orderBy($"o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
        CAST(CAST(SUM(CASE WHEN o_orderpriority LIKE '1%' THEN CAST(o_totalprice AS DECIMAL(12,2))
                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS urgent_total
        FROM orders GROUP BY CAST(year(o_orderdate) AS INT) ORDER BY o_year""")
    ),

    Q(
      "q18_string_funcs",
      "String kernel: substr/upper/concat/like/regexp_replace",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "part")
          .filter($"p_name".like("%ol%"))
          .groupBy(
            upper(substring($"p_name", 1, 4)).as("prefix4"),
            concat($"p_brand", lit("/"), $"p_type").as("brand_type")
          )
          .agg(
            count(lit(1)).as("n"),
            min(length(regexp_replace($"p_name", "[aeiou]", ""))).as("min_cons")
          )
          .orderBy($"prefix4", $"brand_type")
      },
      Some("""SELECT UPPER(SUBSTR(p_name, 1, 4)) AS prefix4,
        p_brand || '/' || p_type AS brand_type,
        COUNT(*) AS n,
        MIN(LENGTH(REGEXP_REPLACE(p_name, '[aeiou]', '', 'g'))) AS min_cons
        FROM part WHERE p_name LIKE '%ol%'
        GROUP BY 1, 2 ORDER BY prefix4, brand_type""")
    ),

    Q(
      "q19_date_funcs",
      "Date kernel: trunc to month + calendar extraction",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "orders")
          .groupBy(
            // month as a string: engine-neutral representation (DATE vs
            // TIMESTAMP pandas conversion differs between readers)
            date_format($"o_orderdate", "yyyy-MM").as("month"),
            quarter($"o_orderdate").cast("int").as("qtr")
          )
          .agg(count(lit(1)).as("n_orders"), sumd(dec2($"o_totalprice")).as("total"))
          .orderBy($"month")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
        CAST(quarter(o_orderdate) AS INT) AS qtr,
        COUNT(*) AS n_orders,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total
        FROM orders GROUP BY 1, 2 ORDER BY month""")
    ),

    Q(
      "q20_percentiles",
      "Exact percentiles per group (interpolated, rounded for fp parity)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "customer")
          .groupBy($"c_mktsegment")
          .agg(
            round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
            round(expr("percentile(c_acctbal, 0.9)"), 4).as("p90"),
            count(lit(1)).as("n")
          )
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
        ROUND(CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE), 4) AS p50,
        ROUND(CAST(quantile_cont(c_acctbal, 0.9) AS DOUBLE), 4) AS p90,
        COUNT(*) AS n
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    ),

    Q(
      "q21_stats_agg",
      "stddev/covariance/correlation from exact decimal moments (deterministic fp)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "lineitem")
          .agg(
            count(lit(1)).as("n"),
            sumd(dec2($"l_quantity")).as("sx"),
            sumd(dec2($"l_quantity") * dec2($"l_quantity")).as("sxx"),
            sumd(dec2($"l_extendedprice")).as("sy"),
            sumd(dec2($"l_extendedprice") * dec2($"l_extendedprice")).as("syy"),
            sumd(dec2($"l_quantity") * dec2($"l_extendedprice")).as("sxy")
          )
          .select(
            $"n",
            round($"sx" / $"n", 6).as("avg_qty"),
            round(sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)), 6).as("std_qty"),
            round(sqrt(($"syy" - $"sy" * $"sy" / $"n") / ($"n" - 1)), 6).as("std_price"),
            round(($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1), 6).as("cov_qty_price"),
            round(($"sxy" - $"sx" * $"sy" / $"n") /
              sqrt(($"sxx" - $"sx" * $"sx" / $"n") * ($"syy" - $"sy" * $"sy" / $"n")), 6)
              .as("corr_qty_price")
          )
      },
      Some("""WITH s AS (SELECT COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem)
        SELECT n,
          ROUND(sx / n, 6) AS avg_qty,
          ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS std_qty,
          ROUND(SQRT((syy - sy * sy / n) / (n - 1)), 6) AS std_price,
          ROUND((sxy - sx * sy / n) / (n - 1), 6) AS cov_qty_price,
          ROUND((sxy - sx * sy / n) / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS corr_qty_price
        FROM s""")
    ),

    Q(
      "q22_sessionize",
      "Gap-based sessionization (30 min) via window functions, exact µs math",
      (spark, dir) => {
        import spark.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(spark, dir, "events")
          .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
          .withColumn(
            "is_new",
            when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > 1800L * 1000000L, 1)
              .otherwise(0)
          )
          .withColumn(
            "session_id",
            sum($"is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int")
          )
          .groupBy($"user_id", $"session_id")
          .agg(count(lit(1)).as("n_events"), min($"ts").as("session_start"))
          .orderBy($"user_id", $"session_id")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id,
          CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
               THEN 1 ELSE 0 END AS is_new
          FROM events),
        s AS (SELECT user_id, ts,
          CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
          FROM e)
        SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start
        FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""")
    ),

    Q(
      "q23_asof_join",
      "As-of join (latest click at-or-before each purchase) via union+window — single shuffle, no custom node",
      (spark, dir) => {
        import spark.implicits._
        val ev = t(spark, dir, "events")
        val clicks = ev
          .filter($"event_type" === "click")
          .select($"user_id", $"ts", lit(0).as("kind"), $"ts".as("click_ts"),
            lit(null).cast("long").as("event_id"))
        val purchases = ev
          .filter($"event_type" === "purchase")
          .select($"user_id", $"ts", lit(1).as("kind"),
            lit(null).cast("timestamp").as("click_ts"), $"event_id")
        val w = Window
          .partitionBy($"user_id")
          .orderBy($"ts", $"kind")
          .rowsBetween(Window.unboundedPreceding, 0)
        clicks
          .unionByName(purchases)
          .withColumn("last_click_ts", last($"click_ts", ignoreNulls = true).over(w))
          .filter($"kind" === 1)
          .select($"event_id", $"user_id", $"ts", $"last_click_ts")
          .orderBy($"event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
        (SELECT MAX(c.ts) FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts
        FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""")
    ),

    Q(
      "q24_range_join",
      "Time-range interval join: events within 1h after each signup",
      (spark, dir) => {
        import spark.implicits._
        val ev = t(spark, dir, "events")
        val signups = ev
          .filter($"event_type" === "signup")
          .select($"event_id".as("s_id"), $"user_id".as("s_user"), $"ts".as("s_ts"))
        val others = ev.select($"user_id".as("e_user"), $"ts".as("e_ts"), $"event_id".as("e_id"))
        signups
          .join(
            others,
            $"e_user" === $"s_user" && $"e_ts" > $"s_ts" &&
              $"e_ts" <= $"s_ts" + expr("INTERVAL 1 HOUR"),
            "left"
          )
          .groupBy($"s_id")
          .agg(count($"e_id").as("n_follow"))
          .orderBy($"s_id")
      },
      Some("""SELECT s.event_id AS s_id, COUNT(e.event_id) AS n_follow
        FROM events s LEFT JOIN events e
          ON e.user_id = s.user_id AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL 1 HOUR
        WHERE s.event_type = 'signup'
        GROUP BY s.event_id ORDER BY s_id""")
    ),

    Q(
      "q25_grouping_sets",
      "CUBE with grouping indicators",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "orders")
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            grouping($"o_orderstatus").cast("int").as("g_status"),
            grouping($"o_orderpriority").cast("int").as("g_prio")
          )
          .orderBy(
            asc_nulls_first("o_orderstatus"),
            asc_nulls_first("o_orderpriority"),
            $"g_status",
            $"g_prio"
          )
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, g_status, g_prio""")
    ),

    Q(
      "q26_first_last",
      "min_by/max_by over a unique ordering key (deterministic arg-extremes)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "orders")
          .groupBy($"o_custkey")
          .agg(
            max($"o_orderkey").as("last_key"),
            expr("max_by(o_orderpriority, o_orderkey)").as("last_priority"),
            expr("min_by(o_orderstatus, o_orderkey)").as("first_status"),
            min($"o_orderdate").as("first_date")
          )
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey, MAX(o_orderkey) AS last_key,
        MAX_BY(o_orderpriority, o_orderkey) AS last_priority,
        MIN_BY(o_orderstatus, o_orderkey) AS first_status,
        MIN(o_orderdate) AS first_date
        FROM orders GROUP BY o_custkey ORDER BY o_custkey""")
    ),

    Q(
      "q27_exists_agg",
      "Conjunction of two correlated EXISTS as stacked left_semi joins",
      (spark, dir) => {
        import spark.implicits._
        val ord = t(spark, dir, "orders")
        val y95 = ord.filter(year($"o_orderdate") === 1995).select($"o_custkey".as("k95"))
        val y96 = ord.filter(year($"o_orderdate") === 1996).select($"o_custkey".as("k96"))
        t(spark, dir, "customer")
          .join(y95, $"c_custkey" === $"k95", "left_semi")
          .join(y96, $"c_custkey" === $"k96", "left_semi")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
          AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND year(o_orderdate) = 1996)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    ),

    Q(
      "q28_having",
      "Post-aggregation filter (HAVING)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "orders")
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n_orders"), sumd(dec2($"o_totalprice")).as("spend"))
          .filter($"n_orders" >= 15)
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey, COUNT(*) AS n_orders,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey""")
    ),

    Q(
      "q29_json_extract",
      "Semi-structured extraction from the events props JSON column",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "events")
          .withColumn("k", get_json_object($"props", "$.k").cast("int"))
          .groupBy($"event_type")
          .agg(
            count($"k").as("n_with_k"),
            sum($"k").cast("bigint").as("sum_k"),
            min($"k").as("min_k"),
            max($"k").as("max_k")
          )
          .orderBy($"event_type")
      },
      Some("""SELECT event_type,
        COUNT(CAST(props->>'$.k' AS INT)) AS n_with_k,
        CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
        MIN(CAST(props->>'$.k' AS INT)) AS min_k,
        MAX(CAST(props->>'$.k' AS INT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")
    ),

    Q(
      "q30_approx_distinct",
      "HLL++ approximate distinct counts (sketch aggregation), bounded against exact",
      (spark, dir) => {
        import spark.implicits._
        // The sketch value itself is engine-specific (HLL register
        // layouts differ), so the oracle-checked columns are the exact
        // count and the BOUND: rsd=0.01 keeps the sketch within 5% of
        // exact with overwhelming margin, and DuckDB emits literal
        // TRUE. RelationalSpec additionally pins the numeric error.
        t(spark, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            approx_count_distinct($"l_orderkey", 0.01).as("_approx"),
            countDistinct($"l_orderkey").as("exact_orders")
          )
          .withColumn("approx_within_5pct",
            abs($"_approx" - $"exact_orders").cast("double") / $"exact_orders" <= 0.05)
          .select($"l_returnflag", $"exact_orders", $"approx_within_5pct")
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_orderkey) AS exact_orders,
        TRUE AS approx_within_5pct
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),

    Q(
      "q31_heavy_hitters",
      "Exact heavy hitters: top-10 most referenced parts",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "lineitem")
          .groupBy($"l_partkey")
          .agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"l_partkey")
          .limit(10)
      },
      Some("""SELECT l_partkey, COUNT(*) AS cnt FROM lineitem
        GROUP BY l_partkey ORDER BY cnt DESC, l_partkey LIMIT 10""")
    ),

    Q(
      "q32_window_suite",
      "Distribution window functions: ntile / percent_rank / cume_dist",
      (spark, dir) => {
        import spark.implicits._
        // Scale note: this partitions by a 5-value key, so each
        // segment sorts on one task. Unlike q46 (which collapsed to a
        // histogram), the per-row output resists that fully: ntile
        // needs every row's total position. The 100 TB decomposition
        // is hybrid — percent_rank/cume_dist from a (segment,
        // acctbal) histogram cum-count joined back (rank(x) = #{y<x},
        // tie-exact), ntile via range-partitioned sort +
        // per-partition offset (Spark's global-orderBy machinery).
        // Kept as the native window here: customer is dim-scale and
        // the composed form is the documented escape hatch.
        val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
        t(spark, dir, "customer")
          .select(
            $"c_mktsegment", $"c_custkey",
            ntile(4).over(w).cast("int").as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume")
          )
          .orderBy($"c_mktsegment", $"c_custkey")
      },
      Some("""SELECT c_mktsegment, c_custkey,
        CAST(NTILE(4) OVER w AS INT) AS quartile,
        ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        ROUND(CUME_DIST() OVER w, 6) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        ORDER BY c_mktsegment, c_custkey""")
    ),

    Q(
      "q33_set_ops",
      "INTERSECT / EXCEPT set operators",
      (spark, dir) => {
        import spark.implicits._
        val y95 = t(spark, dir, "orders").filter(year($"o_orderdate") === 1995)
          .select($"o_custkey").distinct()
        val y96 = t(spark, dir, "orders").filter(year($"o_orderdate") === 1996)
          .select($"o_custkey").distinct()
        val both = y95.intersect(y96).withColumn("bucket", lit("both"))
        val only95 = y95.except(y96).withColumn("bucket", lit("only95"))
        both.unionByName(only95)
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
          .orderBy($"bucket")
      },
      Some("""WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        u AS (
          SELECT o_custkey, 'both' AS bucket FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
          UNION ALL
          SELECT o_custkey, 'only95' AS bucket FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96))
        SELECT bucket, COUNT(*) AS n FROM u GROUP BY bucket ORDER BY bucket""")
    ),

    Q(
      "q34_string_agg",
      "Ordered string aggregation (listagg equivalent)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "nation")
          .join(t(spark, dir, "region"), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name")
          .agg(
            array_join(array_sort(collect_list($"n_name")), ",").as("nations"),
            count(lit(1)).as("n")
          )
          .orderBy($"r_name")
      },
      Some("""SELECT r_name,
        string_agg(n_name, ',' ORDER BY n_name) AS nations,
        COUNT(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")
    ),

    Q(
      "q35_argmin_join",
      "TPC-H Q2 style argmin: per-group minimum joined back to recover the row",
      (spark, dir) => {
        import spark.implicits._
        val part = t(spark, dir, "part")
        // rename the derived side's columns: a self-derived join with
        // shared lineage needs disambiguated names
        val mins = part.groupBy($"p_type".as("mt"))
          .agg(min($"p_retailprice").as("min_price"))
        part
          .join(mins, $"p_type" === $"mt" && $"p_retailprice" === $"min_price")
          .select($"p_type", $"p_partkey", $"p_retailprice")
          .groupBy($"p_type")
          // ties on min price resolved deterministically
          .agg(min($"p_partkey").as("cheapest_part"), min($"p_retailprice").as("min_price"))
          .orderBy($"p_type")
      },
      Some("""SELECT p.p_type,
        MIN(p.p_partkey) AS cheapest_part, MIN(p.p_retailprice) AS min_price
        FROM part p JOIN (
          SELECT p_type, MIN(p_retailprice) AS m FROM part GROUP BY p_type) x
        ON p.p_type = x.p_type AND p.p_retailprice = x.m
        GROUP BY p.p_type ORDER BY p.p_type""")
    ),

    Q(
      "q36_multi_distinct",
      "Multiple COUNT(DISTINCT) in one aggregation (Expand-based planning)",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("n_parts"),
            countDistinct($"l_suppkey").as("n_supps"),
            countDistinct($"l_orderkey").as("n_orders"),
            count(lit(1)).as("n_rows")
          )
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT l_orderkey) AS n_orders,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),

    Q(
      "q37_range_window",
      "Time-based RANGE frame: 7-day trailing revenue per customer",
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        // RANGE frames order by a physical day number, so peers (same
        // customer, same day) aggregate together — the semantics rows
        // frames can't express. One shuffle on the partition key.
        val w = Window.partitionBy($"o_custkey").orderBy($"od")
          .rangeBetween(-6, 0)
        t(spark, dir, "orders")
          .withColumn("od", datediff($"o_orderdate", lit("1990-01-01")).cast("long"))
          .withColumn("trail7",
            sum(dec2($"o_totalprice")).over(w).cast("double"))
          .select($"o_orderkey", $"o_custkey",
            date_format($"o_orderdate", "yyyy-MM-dd").as("od_str"), $"trail7")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
        strftime(o_orderdate, '%Y-%m-%d') AS od_str,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
          PARTITION BY o_custkey
          ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS trail7
        FROM orders ORDER BY o_orderkey""")
    ),

    Q(
      "q38_unpivot",
      "Unpivot (wide→long melt) of part measures",
      (spark, dir) => {
        import spark.implicits._
        t(spark, dir, "part")
          .select($"p_partkey",
            $"p_size".cast("double").as("p_size"),
            $"p_retailprice".cast("double").as("p_retailprice"))
          .unpivot(
            Array($"p_partkey"),
            Array($"p_size", $"p_retailprice"),
            "measure", "val")
          .orderBy($"p_partkey", $"measure")
      },
      Some("""SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS val FROM part
        ORDER BY p_partkey, measure""")
    ),

    Q(
      "q39_pivot",
      "Pivot (long→wide) event values per user with exact decimal sums",
      (spark, dir) => {
        import spark.implicits._
        // The inverse of q38: groupBy().pivot() compiles to one hash
        // aggregate keyed on user_id with conditional partial sums —
        // a single shuffle, same plan at any scale. Values go through
        // DECIMAL so partial-aggregation order can't drift vs DuckDB.
        val types = Seq("click", "error", "purchase", "signup", "view")
        val piv = t(spark, dir, "events")
          .groupBy($"user_id")
          .pivot("event_type", types)
          .agg(sum($"value".cast(DecimalType(18, 6))))
        piv.select(
          ($"user_id" +: types.map(ty =>
            coalesce(col(ty), lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6)))
              .cast("double").as(s"v_$ty"))): _*)
          .orderBy($"user_id")
      },
      Some {
        val cols = Seq("click", "error", "purchase", "signup", "view").map { ty =>
          s"CAST(COALESCE(SUM(CASE WHEN event_type = '$ty' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS v_$ty"
        }.mkString(",\n          ")
        s"""SELECT user_id,
          $cols
        FROM events GROUP BY user_id ORDER BY user_id"""
      }
    ),

    Q(
      "q40_window_distinct",
      "Running COUNT(DISTINCT) over a window (composed — Spark has no native distinct window agg)",
      (spark, dir) => {
        import spark.implicits._
        // Neither engine has COUNT(DISTINCT) OVER; both COMPOSE it:
        // Spark as size(collect_set() OVER), DuckDB independently as
        // len(list_distinct(list() OVER)). Fine at bounded cardinality
        // (5 event types); for high-cardinality columns the 100 TB
        // form is q53_window_distinct_hc (first-seen flag + running
        // sum), which trades a second shuffle for O(1) state per row —
        // oracle-gated below and equality-pinned in RelationalSpec.
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        t(spark, dir, "events")
          .select($"user_id", $"event_id",
            size(collect_set($"event_type").over(w)).cast("int").as("n_types_seen"))
          .orderBy($"user_id", $"event_id")
      },
      Some("""SELECT user_id, event_id,
          CAST(len(list_distinct(list(event_type) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) AS INT) AS n_types_seen
        FROM events ORDER BY user_id, event_id""")
    ),

    Q(
      "q41_funnel",
      "Sequential funnel (signup → first later click → first later purchase) per user",
      (spark, dir) => {
        import spark.implicits._
        // The product-analytics sequence operator: each stage is a
        // conditional min over the user's events constrained by the
        // previous stage's timestamp. One groupBy per stage keyed on
        // user_id — at scale all three aggs reuse the same hash
        // partitioning (one exchange), and no self-join materializes
        // event pairs.
        val ev = t(spark, dir, "events")
        val s1 = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
        val s2 = ev.filter($"event_type" === "click")
          .join(s1, Seq("user_id"))
          .where($"ts" >= $"signup_ts")
          .groupBy($"user_id").agg(min($"ts").as("click_ts"))
        val s3 = ev.filter($"event_type" === "purchase")
          .join(s2, Seq("user_id"))
          .where($"ts" >= $"click_ts")
          .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
        s1.join(s2, Seq("user_id"), "left")
          .join(s3, Seq("user_id"), "left")
          .withColumn("converted", $"purchase_ts".isNotNull)
          .select($"user_id", $"signup_ts", $"click_ts", $"purchase_ts", $"converted")
          .orderBy($"user_id")
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
          WHERE event_type = 'signup' GROUP BY user_id),
        s2 AS (SELECT e.user_id, MIN(e.ts) AS click_ts FROM events e
          JOIN s1 ON s1.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts >= s1.signup_ts GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts FROM events e
          JOIN s2 ON s2.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= s2.click_ts GROUP BY e.user_id)
        SELECT s1.user_id, s1.signup_ts, s2.click_ts, s3.purchase_ts,
          s3.purchase_ts IS NOT NULL AS converted
        FROM s1
        LEFT JOIN s2 ON s2.user_id = s1.user_id
        LEFT JOIN s3 ON s3.user_id = s1.user_id
        ORDER BY s1.user_id""")
    ),

    Q(
      "q42_gaps_islands",
      "Gaps-and-islands: consecutive-day activity streaks per user (date minus row_number grouping)",
      (spark, dir) => {
        import spark.implicits._
        // The classic islands trick: within a user's DISTINCT active
        // days, (day - row_number) is constant across each run of
        // consecutive days, so a groupBy on that anchor collapses each
        // streak. One shuffle on user_id serves the distinct, the
        // window and the final agg (same hash partitioning); state per
        // user is its day count — bounded, skew-safe. Delegates to the
        // reusable Ops.streaks (O19); dates format to strings for the
        // engine-neutral oracle.
        Ops.streaks(
          t(spark, dir, "events").select($"user_id", to_date($"ts").as("day")),
          "user_id", "day")
          .select($"user_id",
            date_format($"streak_start", "yyyy-MM-dd").as("streak_start"),
            date_format($"streak_end", "yyyy-MM-dd").as("streak_end"),
            $"streak_days")
          .orderBy($"user_id", $"streak_start")
      },
      Some("""WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        runs AS (
          SELECT user_id, day,
            day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor
          FROM days)
        SELECT user_id,
          strftime(MIN(day), '%Y-%m-%d') AS streak_start,
          strftime(MAX(day), '%Y-%m-%d') AS streak_end,
          COUNT(*) AS streak_days
        FROM runs GROUP BY user_id, anchor
        ORDER BY user_id, streak_start""")
    ),

    Q(
      "q43_retention_cohort",
      "Weekly retention cohorts: users bucketed by first-seen week, activity per week offset",
      (spark, dir) => {
        import spark.implicits._
        // Cohort analysis with ONE fact scan: first-seen day per user
        // is a min() window (not a groupBy + self-join, which scans
        // the fact table twice), and cohort_size is a first_value()
        // window over the aggregate (offset-0 actives ARE the cohort
        // size — a filtered self-join branch would defeat exchange
        // reuse via filter pushdown and re-scan the facts a third
        // time; RuntimeAudit measured exactly that). Weeks are
        // ENGINE-NEUTRAL integers — epoch-day / 7 anchored to a Monday
        // (1970-01-05) — instead of date_trunc('week'), so both
        // engines bucket identically with pure integer arithmetic.
        // Shuffle volumes strictly decrease: deduped (user, day)
        // tuples, then distinct cohort tuples, then pre-counted
        // (cohort, offset) rows. Delegates to Ops.retentionCohorts
        // (O20).
        Ops.retentionCohorts(
          t(spark, dir, "events").select($"user_id", to_date($"ts").as("day")),
          "user_id", "day")
          .select($"cohort_week", $"week_offset", $"n_active", $"cohort_size", $"retention")
          .orderBy($"cohort_week", $"week_offset")
      },
      Some("""WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        cohorted AS (
          SELECT user_id,
            CAST((MIN(day) OVER (PARTITION BY user_id) - DATE '1970-01-05') // 7 AS INT) AS cohort_week,
            CAST((day - DATE '1970-01-05') // 7 AS INT) AS week_idx
          FROM days),
        active AS (
          SELECT cohort_week, CAST(week_idx - cohort_week AS INT) AS week_offset,
            COUNT(DISTINCT user_id) AS n_active
          FROM cohorted GROUP BY cohort_week, week_idx - cohort_week)
        SELECT cohort_week, week_offset, n_active,
          FIRST_VALUE(n_active) OVER (PARTITION BY cohort_week ORDER BY week_offset) AS cohort_size,
          round(CAST(n_active AS DOUBLE) /
            FIRST_VALUE(n_active) OVER (PARTITION BY cohort_week ORDER BY week_offset), 6) AS retention
        FROM active ORDER BY cohort_week, week_offset""")
    ),

    Q(
      "q44_explode_ordinality",
      "Lateral explode with ordinality: corpus word-position statistics",
      (spark, dir) => {
        import spark.implicits._
        // posexplode is Spark's UNNEST WITH ORDINALITY: one generator
        // per input row, no shuffle until the final groupBy on the
        // exploded key. At 100 TB the explode multiplies rows ~50x but
        // stays pipelined inside whole-stage codegen; the only
        // exchange is the word-keyed partial agg (map-side combined,
        // distinct-word cardinality is tiny next to the corpus).
        val words = t(spark, dir, "documents")
          .select($"doc_id",
            posexplode(filter(split($"text", " "), x => x =!= "")).as(Seq("pos0", "word")))
          .select($"doc_id", ($"pos0" + 1).cast("int").as("pos"), $"word")
        words.groupBy($"word")
          .agg(
            count(lit(1)).as("n_occ"),
            countDistinct($"doc_id").as("n_docs"),
            min($"pos").cast("int").as("first_pos"),
            sum($"pos".cast("long")).as("sum_pos"))
          .orderBy($"word")
      },
      Some("""WITH w AS (SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x <> '') AS wd FROM documents),
        x AS (SELECT doc_id, CAST(i AS INT) AS pos, wd[i] AS word
          FROM w, UNNEST(generate_series(1, len(wd))) AS t(i))
        SELECT word, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
          MIN(pos) AS first_pos, CAST(SUM(pos) AS BIGINT) AS sum_pos
        FROM x GROUP BY word ORDER BY word""")
    ),

    Q(
      "q45_interval_merge",
      "Overlapping-interval coalescing: merge per-user 60s activity intervals",
      (spark, dir) => {
        import spark.implicits._
        // Interval union via the running-max-end island trick: a new
        // island starts exactly when an interval's start exceeds the
        // max end seen so far. Both windows and the final agg share
        // ONE user_id hash partitioning (a single exchange serves all
        // three); per-user state is the sort — bounded by that user's
        // events, skew-safe. Timestamps work in integer epoch-micros
        // so both engines do pure int64 arithmetic.
        val iv = t(spark, dir, "events")
          .select($"user_id", unix_micros($"ts").as("s"))
          .withColumn("e", $"s" + lit(60000000L))
        val wPrev = Window.partitionBy($"user_id").orderBy($"s", $"e")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy($"user_id").orderBy($"s", $"e")
          .rowsBetween(Window.unboundedPreceding, 0)
        iv.withColumn("pmax", max($"e").over(wPrev))
          .withColumn("ni", when($"pmax".isNull || $"s" > $"pmax", 1L).otherwise(0L))
          .withColumn("island", sum($"ni").over(wRun))
          .groupBy($"user_id", $"island")
          .agg(min($"s").as("start_us"), max($"e").as("end_us"),
            count(lit(1)).as("n_events"))
          .select($"user_id", $"island".cast("int").as("island"),
            $"start_us", $"end_us", $"n_events")
          .orderBy($"user_id", $"island")
      },
      Some("""WITH iv AS (SELECT user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS s,
          epoch_us(CAST(ts AS TIMESTAMP)) + 60000000 AS e FROM events),
        f AS (SELECT user_id, s, e,
          CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1 ELSE 0 END AS ni FROM iv),
        g AS (SELECT user_id, s, e,
          SUM(ni) OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f)
        SELECT user_id, CAST(island AS INT) AS island,
          MIN(s) AS start_us, MAX(e) AS end_us, COUNT(*) AS n_events
        FROM g GROUP BY user_id, island ORDER BY user_id, island""")
    ),

    Q(
      "q46_median_mode",
      "Exact median + deterministic mode per group (identical composition in both engines)",
      (spark, dir) => {
        import spark.implicits._
        // Native median()/mode() interpolate and tiebreak differently
        // across engines, so BOTH sides compose the same exact
        // formulation — and the formulation is the HISTOGRAM method,
        // not a full-table rank: a row_number over the fact would
        // window-partition 600k rows by a 3-value key (parallelism 3
        // at any scale — a guaranteed straggler at 100 TB). Instead
        // ONE map-side-combinable groupBy collapses the fact to a
        // (flag, qty) histogram (~150 rows here; bounded by value
        // cardinality); the median is the value whose cumulative
        // count straddles the middle position, found by windows over
        // the histogram. Mode falls out of the same histogram.
        val li = t(spark, dir, "lineitem")
          .select($"l_returnflag".as("flag"), $"l_quantity".as("qty"))
        val cnts = li.groupBy($"flag", $"qty").agg(count(lit(1)).as("cnt"))
        val wCum = Window.partitionBy($"flag").orderBy($"qty")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy($"flag")
        val c2 = cnts
          .withColumn("cum", sum($"cnt").over(wCum))
          .withColumn("n", sum($"cnt").over(wAll))
        def straddles(pos: Column) = $"cum" >= pos && $"cum" - $"cnt" < pos
        val qlo = c2.where(straddles(floor(($"n" + 1) / 2)))
          .select($"flag", $"qty".as("q_lo"), $"n".as("n_rows"))
        val qhi = c2.where(straddles(floor(($"n" + 2) / 2)))
          .select($"flag", $"qty".as("q_hi"))
        val med = qlo.join(qhi, "flag")
          .withColumn("median_qty", ($"q_lo" + $"q_hi") / 2)
        val wMode = Window.partitionBy($"flag").orderBy($"cnt".desc, $"qty".asc)
        val mode = cnts
          .withColumn("mr", row_number().over(wMode)).where($"mr" === 1)
          .select($"flag", $"qty".as("mode_qty"), $"cnt".as("mode_cnt"))
        med.join(mode, "flag")
          .select($"flag", $"n_rows", $"median_qty", $"mode_qty", $"mode_cnt")
          .orderBy($"flag")
      },
      Some("""WITH cnts AS (SELECT l_returnflag AS flag, l_quantity AS qty, COUNT(*) AS cnt
          FROM lineitem GROUP BY 1, 2),
        c2 AS (SELECT flag, qty, cnt,
          SUM(cnt) OVER (PARTITION BY flag ORDER BY qty
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(cnt) OVER (PARTITION BY flag) AS n FROM cnts),
        qlo AS (SELECT flag, qty AS q_lo, n AS n_rows FROM c2
          WHERE cum >= FLOOR((n + 1) / 2) AND cum - cnt < FLOOR((n + 1) / 2)),
        qhi AS (SELECT flag, qty AS q_hi FROM c2
          WHERE cum >= FLOOR((n + 2) / 2) AND cum - cnt < FLOOR((n + 2) / 2)),
        med AS (SELECT l.flag, l.n_rows, (l.q_lo + h.q_hi) / 2 AS median_qty
          FROM qlo l JOIN qhi h ON h.flag = l.flag),
        modes AS (SELECT flag, qty AS mode_qty, cnt AS mode_cnt,
          ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cnt DESC, qty ASC) AS mr FROM cnts)
        SELECT m.flag AS flag, CAST(m.n_rows AS BIGINT) AS n_rows, m.median_qty, o.mode_qty, o.mode_cnt
        FROM med m JOIN modes o ON m.flag = o.flag AND o.mr = 1 ORDER BY m.flag""")
    ),

    Q(
      "q47_bitmap_segments",
      "Bitmap segment encoding: bit_or-aggregated event-type mask + popcount per user",
      (spark, dir) => {
        import spark.implicits._
        // Set membership as a bitmask: bit_or is commutative and
        // map-side combinable, so 100 TB of events collapse to one
        // int64 per user in a single exchange — the compact
        // alternative to collect_set for bounded vocabularies, and
        // the building block of bitmap indexes / audience segments.
        val mask = when($"event_type" === "click", 1L)
          .when($"event_type" === "error", 2L)
          .when($"event_type" === "purchase", 4L)
          .when($"event_type" === "signup", 8L)
          .when($"event_type" === "view", 16L)
          .otherwise(0L)
        t(spark, dir, "events")
          .withColumn("m", mask)
          .groupBy($"user_id")
          .agg(expr("bit_or(m)").as("segments"), count(lit(1)).as("n_events"))
          .select($"user_id", $"segments",
            expr("bit_count(segments)").cast("int").as("n_types"),
            ($"segments".bitwiseAND(lit(4L)) =!= 0L).as("has_purchase"),
            $"n_events")
          .orderBy($"user_id")
      },
      Some("""WITH m AS (SELECT user_id,
          CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
            WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
            WHEN 'view' THEN 16 ELSE 0 END AS m
          FROM events)
        SELECT user_id, CAST(bit_or(m) AS BIGINT) AS segments,
          CAST(bit_count(bit_or(m)) AS INT) AS n_types,
          (bit_or(m) & 4) <> 0 AS has_purchase,
          COUNT(*) AS n_events
        FROM m GROUP BY user_id ORDER BY user_id""")
    ),

    Q(
      "q48_date_spine_gapfill",
      "Time-series gap fill: generated date spine left-joined to daily revenue, zeros filled",
      (spark, dir) => {
        import spark.implicits._
        // Resampling to a dense calendar: the spine (nation x day) is
        // GENERATED (sequence + explode) and the fact side aggregates
        // FIRST to (nation, day) grain, so the gap-filling join sees
        // only pre-aggregated rows, never raw facts. The spine must
        // stay outer-preserved, and Spark can't broadcast the
        // preserved side — so the join runs as RIGHT outer with the
        // (small, post-agg) daily side broadcast. At 100 TB the only
        // exchange is the daily-revenue partial agg.
        val spine = t(spark, dir, "nation")
          .select($"n_nationkey", $"n_name")
          .crossJoin(
            spark.range(1).select(explode(sequence(
              to_date(lit("1995-01-01")), to_date(lit("1995-03-31")),
              expr("interval 1 day"))).as("day")))
        val daily = t(spark, dir, "orders")
          .where($"o_orderdate" >= ts("1995-01-01 00:00:00")
            && $"o_orderdate" < ts("1995-04-01 00:00:00"))
          .join(t(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_nationkey", to_date($"o_orderdate").as("day"))
          .agg(sum(dec2($"o_totalprice")).as("rev"), count(lit(1)).as("n_orders"))
        broadcast(daily)
          .join(spine,
            spine("n_nationkey") === daily("c_nationkey") && spine("day") === daily("day"),
            "right")
          .select($"n_name",
            date_format(spine("day"), "yyyy-MM-dd").as("day"),
            coalesce($"rev".cast("double"), lit(0.0)).as("revenue"),
            coalesce($"n_orders", lit(0L)).as("n_orders"))
          .orderBy($"n_name", $"day")
      },
      Some("""WITH spine AS (SELECT n.n_nationkey, n.n_name, CAST(gs AS DATE) AS day
          FROM nation n, generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY) AS s(gs)),
        daily AS (SELECT c.c_nationkey, CAST(o.o_orderdate AS DATE) AS day,
            SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev, COUNT(*) AS n_orders
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND o.o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
          GROUP BY 1, 2)
        SELECT s.n_name, strftime(s.day, '%Y-%m-%d') AS day,
          COALESCE(CAST(d.rev AS DOUBLE), 0.0) AS revenue,
          COALESCE(d.n_orders, 0) AS n_orders
        FROM spine s LEFT JOIN daily d
          ON d.c_nationkey = s.n_nationkey AND d.day = s.day
        ORDER BY s.n_name, s.day""")
    ),

    Q(
      "q49_zorder_clustering",
      "Z-order (Morton) clustering codes + per-cell locality stats over two part dimensions",
      (spark, dir) => {
        import spark.implicits._
        // The data-layout operator: interleaving the bits of (size,
        // price-bucket) gives one sort key whose ranges are 2-D
        // rectangles, so a range write on it lets parquet min/max
        // stats prune BOTH dimensions (Ops.zorderLayout is the write
        // path; file effects are spec-measured in ZorderSpec since
        // file boundaries aren't SQL-observable). The canned query
        // pins the code arithmetic and the locality witness: each
        // cell (code >> 6 — the top bits, 8x8 rectangles) must span a
        // bounded (a, b) box, which is exactly why the layout prunes.
        val p = t(spark, dir, "part")
          .select($"p_partkey", $"p_size".cast("long").as("a"),
            floor($"p_retailprice" - 900.0).cast("long").as("b"))
          .withColumn("z", Ops.mortonCode($"a", $"b", 8))
        p.withColumn("cell", shiftright($"z", 6))
          .groupBy($"cell")
          .agg(count(lit(1)).as("n"),
            min($"a").as("min_a"), max($"a").as("max_a"),
            min($"b").as("min_b"), max($"b").as("max_b"))
          .withColumn("box_area",
            ($"max_a" - $"min_a" + 1) * ($"max_b" - $"min_b" + 1))
          .orderBy($"cell")
      },
      Some {
        val z = Ops.sqlMortonCode("a", "b", 8)
        s"""WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS a,
          CAST(FLOOR(p_retailprice - 900.0) AS BIGINT) AS b FROM part),
        zc AS (SELECT p_partkey, a, b, $z >> 6 AS cell FROM p)
        SELECT cell, COUNT(*) AS n,
          MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b,
          (MAX(a) - MIN(a) + 1) * (MAX(b) - MIN(b) + 1) AS box_area
        FROM zc GROUP BY cell ORDER BY cell"""
      }
    ),

    Q(
      "q50_relational_division",
      "Relational division: customers whose orders cover EVERY priority class",
      (spark, dir) => {
        import spark.implicits._
        // Division ("for all") via the count trick: a customer covers
        // the divisor set iff its distinct-priority count equals the
        // global distinct count — two aggregations that share one
        // custkey partitioning plus a broadcast of a 1-row frame. The
        // textbook anti-join-of-cross-product formulation would
        // materialize |customers| x |divisor| rows; this never builds
        // the cross product, so it survives any divisor size.
        val o = t(spark, dir, "orders")
        val tot = o.agg(countDistinct($"o_orderpriority").as("np"))
        o.groupBy($"o_custkey")
          .agg(countDistinct($"o_orderpriority").as("nc"),
            count(lit(1)).as("n_orders"))
          .crossJoin(broadcast(tot))
          .where($"nc" === $"np")
          .select($"o_custkey", $"n_orders")
          .orderBy($"o_custkey")
      },
      Some("""WITH tot AS (SELECT COUNT(DISTINCT o_orderpriority) AS np FROM orders),
        per AS (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nc, COUNT(*) AS n_orders
          FROM orders GROUP BY o_custkey)
        SELECT o_custkey, n_orders FROM per, tot WHERE nc = np
        ORDER BY o_custkey""")
    ),

    Q(
      "q51_ratio_to_report",
      "Ratio-to-report: each nation's share of its region's revenue (unordered partition window)",
      (spark, dir) => {
        import spark.implicits._
        // The BI share-of-total shape: aggregate to (region, nation)
        // grain FIRST, then a whole-partition window (no ORDER BY —
        // every row is a peer) computes the region total without a
        // second scan or a join back. Window input is the aggregate
        // (one row per nation), so the single-partition-per-region
        // state is trivially bounded; revenue stays DECIMAL through
        // the window and divides once at the end.
        val rev = t(spark, dir, "customer")
          .join(t(spark, dir, "orders"), $"c_custkey" === $"o_custkey")
          .join(broadcast(t(spark, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(t(spark, dir, "region")), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"n_name")
          .agg(sum(dec2($"o_totalprice")).as("rev"))
        val w = Window.partitionBy($"r_name")
        rev
          .withColumn("region_rev", sum($"rev").over(w))
          .select($"r_name", $"n_name",
            $"rev".cast("double").as("revenue"),
            $"region_rev".cast("double").as("region_revenue"),
            round($"rev".cast("double") / $"region_rev".cast("double"), 6).as("share"))
          .orderBy($"r_name", $"n_name")
      },
      Some("""WITH rev AS (SELECT r.r_name, n.n_name,
          SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name),
      win AS (SELECT r_name, n_name, rev,
          SUM(rev) OVER (PARTITION BY r_name) AS region_rev FROM rev)
      SELECT r_name, n_name,
        CAST(rev AS DOUBLE) AS revenue,
        CAST(region_rev AS DOUBLE) AS region_revenue,
        ROUND(CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE), 6) AS share
      FROM win ORDER BY r_name, n_name""")
    ),

    Q(
      "q52_ewma",
      "Exponential smoothing per key: zero-seeded EWMA (alpha=0.25) over time-ordered values",
      (spark, dir) => {
        import spark.implicits._
        // Exponential smoothing is inherently sequential, so it's
        // computed as an ORDERED left fold over each key's
        // (ts, event_id)-sorted values — the t15 renormalizer trick at
        // per-key scale, which also makes it cross-engine exact
        // (alpha = 0.25 is a binary-exact fraction; both engines
        // perform the identical multiply-add chain). One groupBy
        // shuffle; per-key state is that key's event list — the same
        // bound a streaming mapGroups EWMA carries. Zero-seeded
        // (acc starts at 0) so the semantics need no first-element
        // special case on either engine.
        t(spark, dir, "events")
          .groupBy($"user_id")
          .agg(sort_array(collect_list(struct($"ts", $"event_id", $"value"))).as("l"))
          .select($"user_id",
            size($"l").cast("long").as("n_events"),
            round(expr(
              "aggregate(l, CAST(0 AS DOUBLE), (acc, e) -> acc * 0.75 + CAST(e.value AS DOUBLE) * 0.25)"
            ), 6).as("ewma"))
          .orderBy($"user_id")
      },
      Some("""WITH l AS (SELECT user_id,
          list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
        FROM events GROUP BY user_id)
        SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
          ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), vs),
            (acc, x) -> acc * 0.75 + x * 0.25), 6) AS ewma
        FROM l ORDER BY user_id""")
    ),

    Q(
      "q53_window_distinct_hc",
      "Running COUNT(DISTINCT) over a window, high-cardinality form (first-seen flag + running sum)",
      (spark, dir) => {
        import spark.implicits._
        // q40's scale-out twin: collect_set-over-window carries the
        // whole distinct SET as per-row window state — fine for 5
        // event types, fatal when the distinct column has millions of
        // values (URLs, SKUs). This form keeps O(1) state per row:
        // pass 1 flags each (user, value)'s FIRST occurrence with a
        // row_number over (user_id, event_type); pass 2 running-sums
        // the flags per user. The price is one extra exchange (the
        // (user_id, event_type) window isn't subsumed by the user_id
        // one); the win is state independent of cardinality. The
        // cardinality crossover: below ~thousands of distinct values
        // per key, q40's one-shuffle set form wins; above it, only
        // this form finishes. Equality with q40 is oracle-checked
        // here and spec-pinned in RelationalSpec.
        val wFirst = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts", $"event_id")
        val wRun = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        t(spark, dir, "events")
          .withColumn("first_seen",
            when(row_number().over(wFirst) === 1, 1).otherwise(0))
          .select($"user_id", $"event_id",
            sum($"first_seen").over(wRun).cast("int").as("n_types_seen"))
          .orderBy($"user_id", $"event_id")
      },
      Some("""WITH f AS (SELECT user_id, event_id, ts,
          CASE WHEN ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
          THEN 1 ELSE 0 END AS first_seen FROM events)
        SELECT user_id, event_id,
          CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS n_types_seen
        FROM f ORDER BY user_id, event_id""")
    ),

    Q(
      "q54_rollup",
      "ROLLUP hierarchy totals: revenue at (region, nation), per-region, and grand-total grains",
      (spark, dir) => {
        import spark.implicits._
        // The OLAP subtotal operator: one pass emits all three grains.
        // Spark plans rollup as Expand (3 output rows per input group
        // pre-agg, partial-agg combined map-side) — one shuffle keyed
        // on the expanded grouping sets, NOT one job per grain; at
        // 100 TB that beats 3 separate aggregations + union by reading
        // and shuffling the fact once. grouping_id disambiguates a
        // real NULL key from a subtotal row (both engines emit the
        // same integer), and names are COALESCEd to 'ALL' so the
        // output is join-friendly. Revenue follows the q03 decimal
        // convention: exact DECIMAL through the agg, one double cast
        // at the end.
        val region = t(spark, dir, "region").select($"r_regionkey", $"r_name")
        val nation = t(spark, dir, "nation")
          .select($"n_nationkey", $"n_regionkey", $"n_name")
        val cust = t(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
        val ord = t(spark, dir, "orders").select($"o_orderkey", $"o_custkey")
        val li = t(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .join(nation, $"c_nationkey" === $"n_nationkey")
          .join(region, $"n_regionkey" === $"r_regionkey")
          .rollup($"r_name", $"n_name")
          .agg(
            sumd(dec2($"l_extendedprice") * (lit(1) - dec4($"l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"),
            grouping_id().cast("int").as("gid"))
          .select(
            coalesce($"r_name", lit("ALL")).as("region"),
            coalesce($"n_name", lit("ALL")).as("nation"),
            $"gid", $"revenue", $"n_items")
          .orderBy($"gid", $"region", $"nation")
      },
      Some("""SELECT
          COALESCE(r_name, 'ALL') AS region,
          COALESCE(n_name, 'ALL') AS nation,
          CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY gid, region, nation""")
    ),

    Q(
      "q55_bloom_semi_join",
      "Bloom-prefiltered semi-join: lineitem vs high-value order keys past broadcast capacity",
      (spark, dir) => {
        import spark.implicits._
        // The O25 operator in a canned query. A key set that scales
        // WITH the corpus (here: high-value orders, ~10% of the
        // orders table) eventually outgrows broadcast capacity, and a
        // plain left_semi then shuffles BOTH full sides on the key.
        // bloomSemiJoin builds a fixed-size Bloom of the keys
        // (self-sized from one count — no fixed capacity to undersize)
        // and plans codegen'd might_contain AHEAD of the exchange, so
        // ~90% of lineitem never transits the shuffle; the exact
        // left_semi on the survivors restores exact semantics — the
        // oracle is a full value-level IN (subquery), not a weaker
        // rows-only check, precisely because the Bloom is
        // filter-only.
        val li = t(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_returnflag", $"l_quantity",
            $"l_extendedprice", $"l_discount")
        val keys = t(spark, dir, "orders")
          .filter($"o_totalprice" > 450000.0)
          .select($"o_orderkey")
        Ops.bloomSemiJoin(li, "l_orderkey", keys, "o_orderkey")
          .groupBy($"l_returnflag")
          .agg(
            sumd(dec2($"l_quantity")).as("sum_qty"),
            sumd(dec2($"l_extendedprice") * (lit(1) - dec4($"l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),

    Q(
      "q56_salted_skew_join",
      "Skew-mitigated fact join through Ops.saltedJoin, exact vs the plain join oracle",
      (spark, dir) => {
        import spark.implicits._
        // The O7 skew machinery in a canned query: events (the skewed
        // fact — a hot user_id concentrates a partition) joined to
        // customer through an 8-way salt. saltedJoin explodes the
        // DIM side 8x (bounded: dims are small by definition) and
        // spreads each hot fact key across 8 sub-partitions, so the
        // per-task row bound drops 8x for the hottest key at any
        // scale — AQE's skew split handles post-shuffle skew, the
        // salt handles it at shuffle time deterministically. Values
        // are EXACT: the measure is integer cents (floor(value*100)),
        // so the salted re-aggregation cannot drift vs the plain
        // join — the oracle is the unsalted formulation, pinning
        // result-equality of the two plans, not just plausibility.
        val ev = t(spark, dir, "events")
          .select($"user_id".as("k"),
            floor($"value" * 100).cast("long").as("_cents"))
        val cust = t(spark, dir, "customer")
          .select($"c_custkey".as("k"), $"c_mktsegment")
        Ops.saltedJoin(ev, cust, "k", salts = 8)
          .groupBy($"c_mktsegment".as("segment"))
          .agg(count(lit(1)).as("n_events"), sum($"_cents").as("sum_cents"))
          .orderBy($"segment")
      },
      Some("""SELECT c.c_mktsegment AS segment,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY segment""")
    ),

    Q(
      "q57_asof_join",
      "As-of join: each purchase matched to the latest prior click per user (O1, DuckDB ASOF oracle)",
      (spark, dir) => {
        import spark.implicits._
        // The O1 operator in a canned query, value-gated against
        // DuckDB's native ASOF LEFT JOIN — the inclusive (>=) boundary
        // and the no-prior-click NULL path are both exercised. The
        // Spark plan is NOT a range join (which Catalyst would execute
        // as a per-key cartesian + filter): asofJoin unions both sides
        // and runs ONE window partitioned by user ordered by
        // (ts, kind) with right-before-left at ties, so each purchase
        // picks up the last click timestamp at-or-before it in a
        // single shuffle, linear in |events|. At 100 TB the partition
        // key (user_id) bounds per-task state to one user's history;
        // a hot user salts the same way q56 does.
        val ev = t(spark, dir, "events")
        val p = ev.filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts")
        val c = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts")
        Ops.asofJoin(p, c, "user_id", "ts", "ts", outCol = "click_ts")
          .select($"event_id", $"user_id",
            // exact integer micros; -1 marks "no prior click" so the
            // hash compare never sees an engine-specific NULL encoding
            coalesce(unix_micros($"ts") - unix_micros($"click_ts"), lit(-1L))
              .as("lag_us"))
          .orderBy($"event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.event_id AS event_id, p.user_id AS user_id,
          COALESCE(CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT), -1) AS lag_us
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY event_id""")
    ),

    Q(
      "q58_asof_native",
      "The same as-of join through the NATIVE sort-merge operator (AsOfJoinExec) — custom-plan path, same oracle",
      (spark, dir) => {
        import spark.implicits._
        // q57's exact semantics executed by the whole-operator
        // Catalyst path (graft.plans: logical node -> strategy ->
        // sort-merge exec) instead of the union+window encoding.
        // Running BOTH under the same DuckDB ASOF oracle value-gates
        // the custom operator end-to-end and benches the two plan
        // shapes head-to-head; the native form shuffles each side once
        // on its own key and merges with O(1) per-partition state, so
        // bucketed/pre-partitioned inputs skip their exchange entirely
        // (spec-pinned in AsOfJoinNativeSpec).
        val ev = t(spark, dir, "events")
        val p = ev.filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts")
        val c = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts")
        Ops.asofJoinNative(p, c, "user_id", "ts", "ts", outCol = "click_ts")
          .select($"event_id", $"user_id",
            coalesce(unix_micros($"ts") - unix_micros($"click_ts"), lit(-1L))
              .as("lag_us"))
          .orderBy($"event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.event_id AS event_id, p.user_id AS user_id,
          COALESCE(CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT), -1) AS lag_us
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY event_id""")
    ),

    Q(
      "q59_funnel",
      "Ordered conversion funnel: signup -> first later click -> first later purchase, per-user stage timestamps",
      (spark, dir) => {
        import spark.implicits._
        // The product-analytics funnel: a user converts a stage only
        // if it happens STRICTLY AFTER their previous stage (a
        // purchase before the first click doesn't count). Three
        // chained min-aggregations, each a keyed agg + one join back
        // on user_id — no windows over event history, no per-user
        // sort; at 100 TB each stage is one shuffle on user_id over
        // rows of ONE event type (a ~1/5 slice). Output: per-user
        // stage timestamps (null = never reached) in exact micros,
        // so the per-stage conversion counts are a trivial roll-up
        // and the oracle gates the FULL per-user detail, not just
        // the four funnel totals.
        val ev = t(spark, dir, "events")
          .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
        val s1 = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"us").as("signup_us"))
        val s2 = ev.filter($"event_type" === "click")
          .join(s1, "user_id").where($"us" > $"signup_us")
          .groupBy($"user_id").agg(min($"us").as("click_us"))
        val s3 = ev.filter($"event_type" === "purchase")
          .join(s2, "user_id").where($"us" > $"click_us")
          .groupBy($"user_id").agg(min($"us").as("purchase_us"))
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .select($"user_id", $"signup_us",
            coalesce($"click_us", lit(-1L)).as("click_us"),
            coalesce($"purchase_us", lit(-1L)).as("purchase_us"))
          .orderBy($"user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        s1 AS (SELECT user_id, CAST(MIN(us) AS BIGINT) AS signup_us
          FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        s2 AS (SELECT ev.user_id, CAST(MIN(ev.us) AS BIGINT) AS click_us
          FROM ev JOIN s1 USING (user_id)
          WHERE ev.event_type = 'click' AND ev.us > s1.signup_us
          GROUP BY ev.user_id),
        s3 AS (SELECT ev.user_id, CAST(MIN(ev.us) AS BIGINT) AS purchase_us
          FROM ev JOIN s2 USING (user_id)
          WHERE ev.event_type = 'purchase' AND ev.us > s2.click_us
          GROUP BY ev.user_id)
        SELECT s1.user_id AS user_id, s1.signup_us,
          COALESCE(s2.click_us, -1) AS click_us,
          COALESCE(s3.purchase_us, -1) AS purchase_us
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        ORDER BY user_id""")
    ),

    Q(
      "q60_asof_forward",
      "FORWARD as-of through the native operator: each click matched to the next at-or-after purchase per user",
      (spark, dir) => {
        import spark.implicits._
        // merge_asof's direction='forward' (time-to-NEXT-event — the
        // conversion-latency query q59's funnel summarizes), through
        // the same AsOfJoinExec with the mirrored merge: rights below
        // the left ts are discarded (they can never serve a later
        // left of the same key), the match is the un-consumed right
        // head. Same one-exchange-per-side plan; gated by DuckDB's
        // forward ASOF (p.ts <= c.ts picks the EARLIEST c at-or-after).
        val ev = t(spark, dir, "events")
        val c = ev.filter($"event_type" === "click")
          .select($"event_id", $"user_id", $"ts")
        val p = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts")
        Ops.asofJoinNative(c, p, "user_id", "ts", "ts",
            outCol = "next_purchase_ts", direction = "forward")
          .select($"event_id", $"user_id",
            coalesce(unix_micros($"next_purchase_ts") - unix_micros($"ts"), lit(-1L))
              .as("wait_us"))
          .orderBy($"event_id")
      },
      Some("""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT c.event_id AS event_id, c.user_id AS user_id,
          COALESCE(CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT), -1) AS wait_us
        FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
        ORDER BY event_id""")
    ),

    Q(
      "q61_interval_join_native",
      "q24's interval join through the native IntervalJoinExec: events within 1h after each signup",
      (spark, dir) => {
        import spark.implicits._
        // Same query and same DuckDB oracle as q24, but the range
        // predicate is EXECUTED by the custom sliding-buffer
        // sort-merge operator (plans/IntervalJoinPlan.scala) instead
        // of Spark's SMJ-with-residual-condition, which inside one
        // hot key tests every same-key pair. Left carries the
        // interval as two real columns; right keeps its payload.
        val ev = t(spark, dir, "events")
        val signups = ev
          .filter($"event_type" === "signup")
          .select($"event_id".as("s_id"), $"user_id".as("s_user"), $"ts".as("s_ts"))
          .withColumn("s_hi", $"s_ts" + expr("INTERVAL 1 HOUR"))
        val others = ev.select($"user_id".as("e_user"), $"ts".as("e_ts"), $"event_id".as("e_id"))
        Ops.intervalJoinNative(signups, others,
            leftKeyCol = "s_user", rightKeyCol = "e_user",
            loCol = "s_ts", hiCol = "s_hi", rightTsCol = "e_ts",
            joinType = "left")
          .groupBy($"s_id")
          .agg(count($"e_id").as("n_follow"))
          .orderBy($"s_id")
      },
      Some("""SELECT s.event_id AS s_id, COUNT(e.event_id) AS n_follow
        FROM events s LEFT JOIN events e
          ON e.user_id = s.user_id AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL 1 HOUR
        WHERE s.event_type = 'signup'
        GROUP BY s.event_id ORDER BY s_id""")
    ),

    Q(
      "q62_global_shuffle",
      "Deterministic global corpus shuffle + shard assignment: portable-hash permutation ranked scale-safe",
      (spark, dir) => {
        import spark.implicits._
        // The epoch-reproducibility primitive every training-data
        // pipeline ends with: a GLOBAL pseudo-random permutation of
        // the corpus (break source/time locality before the loader
        // streams it) that any engine can replay bit-for-bit from
        // (id, seed) alone. Shuffle key = the engine-neutral 60-bit
        // md5 hash of doc_id#seed (PortableHash — the d03/t08 oracle
        // trick), shard = key mod n_shards (non-negative key, so %
        // agrees across engines), position = Ops.rankGlobal over
        // (key, doc_id) — the two-phase range-partitioned rank, so
        // the permutation index never funnels through one task
        // (window row_number would; at 10^9 docs that task IS the
        // job). doc_id tiebreak makes the total order unique, so the
        // rank is engine-deterministic even on a hash collision.
        val h = graft.functions.PortableHash.hash60(
          concat($"doc_id".cast("string"), lit("#42")))
        val keyed = t(spark, dir, "documents")
          .select($"doc_id", h.as("skey"))
          .withColumn("shard", pmod($"skey", lit(8)).cast("int"))
        Ops.rankGlobal(keyed, Seq($"skey".asc, $"doc_id".asc), "pos")
          .select($"doc_id", $"skey", $"shard", $"pos")
          .orderBy($"pos")
      },
      Some(s"""WITH h AS (SELECT doc_id,
          ${graft.functions.PortableHash.sqlHash60("CAST(doc_id AS VARCHAR) || '#42'")} AS skey
          FROM documents)
        SELECT doc_id, skey, CAST(skey % 8 AS INT) AS shard,
          ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS pos
        FROM h ORDER BY pos""")
    ),

    Q(
      "q63_rollup_cube",
      "ROLLUP hierarchy totals: per (flag, status), per flag, and grand total in ONE pass with grouping ids",
      (spark, dir) => {
        import spark.implicits._
        // The reporting shape warehouses run hourly: subtotals at
        // every prefix of a dimension hierarchy from ONE scan —
        // Spark's rollup plans a single Expand + one aggregate (each
        // input row expands to its 3 grouping-set replicas, partial
        // aggs stay map-side combinable), NOT one scan per level.
        // gid is the standard grouping-id bitmask (0 = leaf,
        // 1 = per-flag subtotal, 3 = grand total) and NULL dimension
        // values are COALESCEd to 'ALL' on both engines so the
        // comparison never trips on NULL-ordering differences.
        // At 100 TB: cost is one shuffle on the leaf grouping keys ×
        // the (tiny) expansion factor — subtotal levels aggregate
        // from the same partials; no re-scan, no union of N jobs.
        t(spark, dir, "lineitem")
          .filter($"l_shipdate" <= ts("1998-09-02 00:00:00"))
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(
            grouping_id().cast("long").as("gid"),
            sumd(dec2($"l_quantity")).as("sum_qty"),
            sumd(dec2($"l_extendedprice")).as("sum_price"),
            count(lit(1)).as("n")
          )
          .select(
            $"gid",
            coalesce($"l_returnflag", lit("ALL")).as("flag"),
            coalesce($"l_linestatus", lit("ALL")).as("status"),
            $"sum_qty", $"sum_price", $"n")
          .orderBy($"gid", $"flag", $"status")
      },
      Some("""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        COALESCE(l_returnflag, 'ALL') AS flag,
        COALESCE(l_linestatus, 'ALL') AS status,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
        COUNT(*) AS n
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY gid, flag, status""")
    ),

    Q(
      "q64_quantile_sketch",
      "One-pass mergeable quantile sketch: approx p50/p90/p99 rank-bounded against exact discrete percentiles",
      (spark, dir) => {
        import spark.implicits._
        // q20 is the exact form: percentile() buffers and sorts every
        // group — unrunnable at 100 TB. The scale path is a MERGEABLE
        // sketch: approx_percentile's Greenwald-Khanna summary builds
        // in one streaming pass, partial-agg combinable (each task
        // summarizes its split, summaries merge associatively on the
        // reduce side), memory O(accuracy·log n) per group — and its
        // guarantee is DETERMINISTIC, not probabilistic: rank error
        // <= n/accuracy per summary. Like q30 (HLL), the sketch's
        // chosen element is engine-specific, so the oracle-checked
        // columns are the exact discrete percentiles plus the bound
        // VERDICT: each approx value must lie inside the exact-value
        // window at p ± 2/accuracy — 2x the single-summary eps
        // because (a) merging per-task partial summaries can exceed
        // the one-pass bound (measured: 1.02x eps·n at sf0.001) and (b) percentile_disc's
        // ceil-rank convention shaves up to one rank off each edge.
        // Still scale-invariant, so the same query gates at every
        // sf; DuckDB emits literal TRUE. Round10OpsSpec additionally
        // pins the numeric rank error against a driver-side exact
        // sort at the same 2x-eps tolerance.
        val acc = 1000
        val eps = 2.0 / acc
        def disc(p: Double) =
          expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY l_extendedprice)")
        t(spark, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            expr(s"approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), $acc)").as("ap"),
            disc(0.5).as("p50"), disc(0.9).as("p90"), disc(0.99).as("p99"),
            disc(0.5 - eps).as("lo50"), disc(0.5 + eps).as("hi50"),
            disc(0.9 - eps).as("lo90"), disc(0.9 + eps).as("hi90"),
            disc(0.99 - eps).as("lo99"), disc(0.99 + eps).as("hi99"),
            count(lit(1)).as("n")
          )
          .select(
            $"l_returnflag",
            $"p50", $"p90", $"p99",
            ($"ap"(0) >= $"lo50" && $"ap"(0) <= $"hi50").as("p50_in_bound"),
            ($"ap"(1) >= $"lo90" && $"ap"(1) <= $"hi90").as("p90_in_bound"),
            ($"ap"(2) >= $"lo99" && $"ap"(2) <= $"hi99").as("p99_in_bound"),
            $"n")
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
        PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
        PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90,
        PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99,
        TRUE AS p50_in_bound, TRUE AS p90_in_bound, TRUE AS p99_in_bound,
        COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    ),

    Q(
      "q65_changelog_compaction",
      "CDC changelog compaction: last-writer-wins per key with delete tombstones, as a combinable agg",
      (spark, dir) => {
        import spark.implicits._
        // The lakehouse MERGE/compaction primitive: reduce an
        // append-only change log to current state — latest op per key
        // wins, keys whose latest op is a tombstone disappear. Log =
        // events keyed (user_id, k) (k from the props JSON), op =
        // event_type with 'error' as the tombstone. The SCALE choice:
        // NOT the row_number window (which sorts every key group) but
        // ONE map-side-combinable aggregate — max(struct(ts_us,
        // event_id, ...)): the (ts_us, event_id) prefix is a unique
        // total order, so lexicographic struct-max IS last-writer-wins
        // and partial aggs combine associatively across 100 TB of log
        // without any per-key sort. The oracle states the same thing
        // the standard way (ROW_NUMBER DESC = 1) — the gate pins the
        // two formulations equal. Tombstoned keys are filtered AFTER
        // the agg (a tombstone must suppress earlier upserts, not be
        // skipped). n_ops counts every op incl. the tombstone's
        // predecessors — the compaction-ratio metric ops/keys.
        val log0 = t(spark, dir, "events")
          .select($"user_id",
            get_json_object($"props", "$.k").cast("bigint").as("k"),
            unix_micros($"ts").as("ts_us"), $"event_id", $"event_type", $"value")
        log0.groupBy($"user_id", $"k")
          .agg(
            max(struct($"ts_us", $"event_id", $"event_type", $"value")).as("last"),
            count(lit(1)).as("n_ops"))
          .where($"last.event_type" =!= "error")
          .select($"user_id", $"k",
            $"last.ts_us".as("last_ts_us"),
            $"last.event_type".as("last_op"),
            $"last.value".as("last_value"),
            $"n_ops")
          .orderBy($"user_id", $"k")
      },
      Some("""WITH c AS (SELECT user_id,
          CAST(props->>'$.k' AS BIGINT) AS k,
          epoch_us(ts) AS ts_us, event_id, event_type, value FROM events),
        r AS (SELECT user_id, k, ts_us, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY user_id, k ORDER BY ts_us DESC, event_id DESC) AS rn,
          COUNT(*) OVER (PARTITION BY user_id, k) AS n_ops
          FROM c)
        SELECT user_id, k, ts_us AS last_ts_us, event_type AS last_op,
          value AS last_value, CAST(n_ops AS BIGINT) AS n_ops
        FROM r WHERE rn = 1 AND event_type <> 'error'
        ORDER BY user_id, k""")
    ),

    Q(
      "q66_incremental_view",
      "Incremental view maintenance: snapshot agg + delta partials merged == full recompute",
      (spark, dir) => {
        import spark.implicits._
        // The "don't recompute the world" primitive every nightly
        // 100 TB pipeline needs: a materialized per-key aggregate
        // view maintained with one day's delta instead of re-reading
        // the whole log. Here the view is per (user_id, event_type)
        // op counts + exact cent sums + min/max over events; the
        // snapshot is everything before Jan 24, the delta the tail
        // week. Ops.maintainAggView (O42) merges the delta's partial
        // aggregates into the stored states: untouched view rows
        // pass through a broadcast ANTI join (the view is scanned,
        // never shuffled — at 100 TB that is the whole point), only
        // keys the delta touches re-aggregate (2x|touched| rows),
        // delta-only keys surface through the merge leg. Sums are
        // exact integer cents (the q55 discipline — a maintained fp
        // sum would drift from a recomputed one by addition order);
        // min/max are sound because the delta is insert-only. The
        // ORACLE aggregates the WHOLE log in one pass — the gate
        // pins maintained == recomputed, IVM's entire contract.
        val cutoffUs = 1706054400000000L // 2024-01-24 00:00:00 UTC in epoch micros
        val ev = t(spark, dir, "events")
          .select($"user_id", $"event_type",
            unix_micros($"ts").as("ts_us"),
            floor($"value" * 100).cast("long").as("cents"))
        val snapshot = ev.filter($"ts_us" < cutoffUs)
          .groupBy($"user_id", $"event_type")
          .agg(
            count(lit(1)).as("n_ops"),
            sum($"cents").as("sum_cents"),
            min($"cents").as("min_cents"),
            max($"cents").as("max_cents"))
        val delta = ev.filter($"ts_us" >= cutoffUs)
        Ops.maintainAggView(
          snapshot, delta,
          keys = Seq("user_id", "event_type"),
          aggs = Seq(
            ("n_ops", "count", lit(1)),
            ("sum_cents", "sum", $"cents"),
            ("min_cents", "min", $"cents"),
            ("max_cents", "max", $"cents")))
          .orderBy($"user_id", $"event_type")
      },
      // Full single-pass recompute — deliberately NOT a replay of the
      // snapshot/delta split: agreeing with this is what makes the
      // maintenance correct.
      Some("""SELECT user_id, event_type,
        COUNT(*) AS n_ops,
        CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        CAST(MIN(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
        CAST(MAX(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
        FROM events
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type""")
    ),

    Q(
      "q67_funnel",
      "Ordered-event funnel per user: first view -> first later click -> first later purchase",
      (spark, dir) => {
        import spark.implicits._
        // The product-analytics staple (and the eval-pipeline shape
        // for any "did step B follow step A" sequence question):
        // per user, the FIRST view, the first click strictly AFTER
        // it, the first purchase strictly after that. "First" and
        // "after" are decided on the (ts_us, event_id) lexicographic
        // order — a unique total order (q65's discipline), so ties
        // in ts cannot flip stages between engines. Plan: three
        // user-keyed min-struct aggs (map-side combinable — the
        // struct min IS the argmin, no window over the corpus) and
        // two user-keyed equi-joins that feed each stage its
        // predecessor's cutoff; stage frames only ever shrink
        // (click rows join v, purchase rows join c), and the final
        // assembly is three broadcast-able left joins onto the user
        // universe. reached is monotone by construction: a stage
        // exists only by joining through its predecessor.
        val ev = Tables.load(spark, dir, "events")
          .select($"user_id", unix_micros($"ts").as("tu"), $"event_id", $"event_type")
        def firstAfter(typ: String, prev: DataFrame, ptu: String, pid: String) =
          ev.filter($"event_type" === typ)
            .join(prev, "user_id")
            .where($"tu" > col(ptu) || ($"tu" === col(ptu) && $"event_id" > col(pid)))
            .groupBy($"user_id")
            .agg(min(struct($"tu", $"event_id")).as("m"))
        val v = ev.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min(struct($"tu", $"event_id")).as("m"))
          .select($"user_id", $"m.tu".as("v_tu"), $"m.event_id".as("v_id"))
        val c = firstAfter("click", v, "v_tu", "v_id")
          .select($"user_id", $"m.tu".as("c_tu"), $"m.event_id".as("c_id"))
        val p = firstAfter("purchase", c, "c_tu", "c_id")
          .select($"user_id", $"m.tu".as("p_tu"), $"m.event_id".as("p_id"))
        ev.select($"user_id").distinct()
          .join(v, Seq("user_id"), "left")
          .join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .select($"user_id", $"v_tu", $"c_tu", $"p_tu",
            ($"v_tu".isNotNull.cast("int") + $"c_tu".isNotNull.cast("int") +
              $"p_tu".isNotNull.cast("int")).as("reached"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_id, event_type FROM events),
        v AS (SELECT user_id, tu AS v_tu, event_id AS v_id FROM (
          SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tu, event_id) AS rn
          FROM e WHERE event_type = 'view') WHERE rn = 1),
        c AS (SELECT user_id, tu AS c_tu, event_id AS c_id FROM (
          SELECT e.*, ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY tu, event_id) AS rn
          FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND (tu > v_tu OR (tu = v_tu AND event_id > v_id))) WHERE rn = 1),
        p AS (SELECT user_id, tu AS p_tu, event_id AS p_id FROM (
          SELECT e.*, ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY tu, event_id) AS rn
          FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND (tu > c_tu OR (tu = c_tu AND event_id > c_id))) WHERE rn = 1)
        SELECT u.user_id, v.v_tu, c.c_tu, p.p_tu,
          CAST((v.v_tu IS NOT NULL)::INT + (c.c_tu IS NOT NULL)::INT + (p.p_tu IS NOT NULL)::INT AS INT) AS reached
        FROM (SELECT DISTINCT user_id FROM e) u
        LEFT JOIN v USING (user_id)
        LEFT JOIN c USING (user_id)
        LEFT JOIN p USING (user_id)
        ORDER BY u.user_id""")
    ),

    Q(
      "q68_retention_cohorts",
      "Weekly cohort retention matrix: cohort = first-activity week, exact-integer ppm rates",
      (spark, dir) => {
        import spark.implicits._
        // The engagement-analytics staple: group users by the week
        // of their FIRST event (cohort), then for each later week
        // offset k report what fraction is still active. Week index
        // = epoch-micros floor-div one week — an absolute integer
        // both engines compute identically (no calendar/timezone
        // semantics to disagree on); rates in exact ppm via
        // 1e6*n div size. Plan at 100 TB: the only corpus-scale
        // work is the (user, week) distinct (one shuffle,
        // map-side-combinable); cohorts and the matrix are
        // user- and cell-scale aggs, and the size join is
        // cohort-count rows — broadcast at any scale. No window.
        val wkUs = 604800000000L // 7 * 86400 * 1e6
        val uw = Tables.load(spark, dir, "events")
          .select($"user_id", expr(s"unix_micros(ts) div ${wkUs}L").as("wk"))
          .distinct()
        val cohort = uw.groupBy($"user_id").agg(min($"wk").as("cwk"))
        val sizes = cohort.groupBy($"cwk").agg(count(lit(1)).cast("long").as("cohort_size"))
        uw.join(cohort, "user_id")
          .groupBy($"cwk", ($"wk" - $"cwk").as("k"))
          .agg(count(lit(1)).cast("long").as("n_active")) // (user, wk) distinct upstream
          .join(sizes, "cwk")
          .select($"cwk".as("cohort_week"), $"k", $"n_active", $"cohort_size",
            expr("1000000L * n_active div cohort_size").as("retention_ppm"))
          .orderBy($"cohort_week", $"k")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        ch AS (SELECT user_id, MIN(wk) AS cwk FROM uw GROUP BY 1),
        sz AS (SELECT cwk, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM ch GROUP BY 1),
        r AS (SELECT c.cwk, u.wk - c.cwk AS k, CAST(COUNT(*) AS BIGINT) AS n_active
          FROM uw u JOIN ch c USING (user_id) GROUP BY 1, 2)
        SELECT r.cwk AS cohort_week, CAST(r.k AS BIGINT) AS k, r.n_active, s.cohort_size,
          CAST(1000000 * r.n_active // s.cohort_size AS BIGINT) AS retention_ppm
        FROM r JOIN sz s USING (cwk) ORDER BY cohort_week, k""")
    )
  )
}
