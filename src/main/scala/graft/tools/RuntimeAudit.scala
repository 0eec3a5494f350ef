package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Runtime complement to [[ExplainAudit]]: EXECUTES each query and
  * reads the measured SQLMetrics off the final (post-AQE) physical
  * plan — actual shuffle bytes/records written, broadcast sizes, and
  * scan output rows. Static plan counts can't see what AQE re-planned
  * or how big the exchanges really were; this catches plan-vs-runtime
  * drift (e.g. a "1-shuffle" query that actually moves the whole
  * input through its exchange).
  *
  * The action runs on the SAME QueryExecution whose plan is audited
  * (toRdd.count) — a df.write/count would build a NEW plan and leave
  * these metrics at zero. Accumulator merges complete before the
  * action returns, so the values are final when read.
  *
  * Run: sbt "runMain graft.tools.RuntimeAudit [sfDir] [queryName...]"
  */
object RuntimeAudit {

  final case class RunAudit(
      rows: Long,
      shuffles: Int,
      shuffleBytes: Long,
      shuffleRecords: Long,
      broadcasts: Int,
      broadcastBytes: Long,
      scanRows: Long,
      sec: Double
  ) {
    def line(name: String): String =
      f"$name%-28s rows=$rows%-7d shuffles=$shuffles shufBytes=$shuffleBytes%-9d " +
        f"shufRecords=$shuffleRecords%-8d bcast=$broadcasts bcastBytes=$broadcastBytes%-8d " +
        f"scanRows=$scanRows%-8d sec=$sec%.2f"
  }

  /** All distinct physical nodes reachable from `p`, descending
    * through AQE wrappers (final plan, materialized stages) and
    * subquery plans; identity-dedup so reused exchanges count once.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(n: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(n)) Seq.empty
      else {
        val kids: Seq[SparkPlan] = (n match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => n.children
        }) ++ n.subqueries
        n +: kids.flatMap(go)
      }
    go(p)
  }

  /** Execute `df` and read the measured metrics off its final plan. */
  def run(df: DataFrame): RunAudit = {
    val t0 = System.nanoTime()
    val rows = df.queryExecution.toRdd.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val nodes = flatten(df.queryExecution.executedPlan)
    def metric(n: SparkPlan, key: String): Long =
      n.metrics.get(key).map(_.value).getOrElse(0L)
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    val bcasts = nodes.collect { case b: BroadcastExchangeExec => b }
    val scans = nodes.filter(_.getClass.getSimpleName == "FileSourceScanExec")
    RunAudit(
      rows = rows,
      shuffles = shuffles.size,
      shuffleBytes = shuffles.map(metric(_, "shuffleBytesWritten")).sum,
      shuffleRecords = shuffles.map(metric(_, "shuffleRecordsWritten")).sum,
      broadcasts = bcasts.size,
      broadcastBytes = bcasts.map(metric(_, "dataSize")).sum,
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      sec = sec
    )
  }

  def runQuery(spark: SparkSession, name: String, sfDir: String): RunAudit = {
    // clear BEFORE as well as after: a cached plan fragment from an
    // earlier query in the same session would satisfy the whole query
    // from memory and the audit would measure no exchange at all
    spark.catalog.clearCache()
    try run(graft.SparkEntry.queries(name)(spark, sfDir))
    finally spark.catalog.clearCache() // queries cache internally
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession()
    spark.sparkContext.setLogLevel("ERROR")

    names.foreach { name =>
      println(runQuery(spark, name, sfDir).line(name))
    }
    spark.stop()
  }
}
