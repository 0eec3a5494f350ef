package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}

/** Global-window auditor: the scale hazard `WindowExec` warns about
  * ("No Partition Defined ... moving all data to a single partition")
  * is fatal only when the window's INPUT is corpus-sized. This
  * library's design rule (SURVEY §6, O23) is that an unpartitioned
  * window may only run over a BOUNDED relation — one whose subtree
  * contains an Aggregate (rows bounded by group-key cardinality) or a
  * Limit. The auditor makes that rule checkable: it collects every
  * `Window` node with an empty partitionSpec from a query's OPTIMIZED
  * logical plan and classifies its child subtree.
  *
  * Run: sbt "runMain graft.tools.WindowAudit [sfDir] [queryName...]"
  * — prints one line per query with global-window counts; exits
  * nonzero if any global window lacks a bounding Aggregate/Limit.
  * WindowAuditSpec pins unbounded == 0 across the whole suite.
  */
object WindowAudit {

  final case class GlobalWindows(total: Int, unbounded: Int)

  private def bounded(child: LogicalPlan): Boolean =
    child.collectFirst {
      case a: Aggregate => a
      case l: GlobalLimit => l
      case l: LocalLimit => l
    }.isDefined

  def audit(df: DataFrame): GlobalWindows = {
    val globals = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    GlobalWindows(globals.size, globals.count(w => !bounded(w.child)))
  }

  def auditQuery(spark: SparkSession, name: String, sfDir: String): GlobalWindows =
    audit(graft.SparkEntry.queries(name)(spark, sfDir))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession()
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    names.foreach { name =>
      val g = auditQuery(spark, name, sfDir)
      if (g.total > 0 || g.unbounded > 0)
        println(f"$name%-28s globalWindows=${g.total} unbounded=${g.unbounded}")
      bad += g.unbounded
    }
    println(s"== unbounded global windows across suite: $bad ==")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
