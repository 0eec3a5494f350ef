package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** End-to-end audit of the WORKFLOW-routed pipeline (SURVEY §1's
  * "whole pipeline = one Catalyst plan" claim, measured at scale):
  * resolves each terminal route of graft.examples.DataPipeline through
  * graft.core's provide/depend engine, executes it with RuntimeAudit's
  * measured SQLMetrics, and prints the cross-cell pushdown evidence
  * (the downstream lang filter's PushedFilters entry and the stats
  * route's pruned ReadSchema) read off the EXECUTED plan.
  *
  * Run: sbt "runMain graft.tools.PipelineAudit [dir]"
  * where dir is an sf directory or a make_scale_corpus.py output
  * (docs/SCALING.md runs it on the 10x corpus).
  */
object PipelineAudit {

  private def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case r: ReusedExchangeExec => fileScans(r.child)
    case other => other.children.flatMap(fileScans)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = ToolSession()
    spark.sparkContext.setLogLevel("ERROR")

    val wkf = graft.examples.DataPipeline.build(spark, dir)
    // docs.export.de is the round-5 full-width route: the lang
    // predicate declared in the terminal cell crosses quality's
    // semi-join, the (h, lang)-keyed dedup window, canonical's anti
    // join, the sample filter and the packing window on its way to
    // the scan — PushedFilters on the executed plan is the proof
    val routes = Seq("docs.dedup", "docs.lang.de", "docs.langstats.de",
      "docs.packed", "docs.export.de")
    routes.foreach { route =>
      spark.catalog.clearCache()
      val df = wkf.run(route).asInstanceOf[DataFrame]
      val audit = RuntimeAudit.run(df)
      println(audit.line(route))
      val scans = fileScans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
      scans.zipWithIndex.foreach { case (s, i) =>
        println(s"  $route documents-scan#$i PushedFilters=${s.metadata("PushedFilters")}")
        println(s"  $route documents-scan#$i ReadSchema=${s.metadata("ReadSchema")}")
      }
    }
    spark.stop()
  }
}
