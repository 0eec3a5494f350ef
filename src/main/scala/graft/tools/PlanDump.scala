package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Dev-only: execute one query and dump its post-AQE physical plan
  * plus per-broadcast measured sizes (rows / dataSize / build time) —
  * the detail RuntimeAudit sums away. Usage:
  *   sbt "runMain graft.tools.PlanDump [sfDir] <queryName>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val spark = ToolSession()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.count()
    def flatten(n: SparkPlan, seen: java.util.IdentityHashMap[SparkPlan, Boolean]): Seq[SparkPlan] =
      if (seen.containsKey(n)) Seq.empty
      else {
        seen.put(n, true)
        val kids = (n match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => n.children
        }) ++ n.subqueries
        n +: kids.flatMap(flatten(_, seen))
      }
    val nodes = flatten(df.queryExecution.executedPlan,
      new java.util.IdentityHashMap[SparkPlan, Boolean]())
    nodes.collect { case b: BroadcastExchangeExec => b }.zipWithIndex.foreach {
      case (b, i) =>
        def m(k: String) = b.metrics.get(k).map(_.value).getOrElse(-1L)
        println(s"BCAST[$i] rows=${m("numOutputRows")} dataSize=${m("dataSize")} " +
          s"buildMs=${m("buildTime")} collectMs=${m("collectTime")}")
        println("  child: " + b.child.toString.linesIterator.take(3).mkString(" | "))
    }
    println(df.queryExecution.executedPlan.toString.linesIterator.take(120).mkString("\n"))
    spark.stop()
  }
}
