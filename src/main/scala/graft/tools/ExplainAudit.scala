package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan auditor: per-query plan health — PushedFilters reaching the
  * parquet scan, scan count, broadcast vs shuffle join counts,
  * exchange (shuffle) count, and whole-stage-codegen span count.
  *
  * Counters parse FormattedMode explain, where an exchange renders as
  * a node line `(n) Exchange` (its `hashpartitioning(...)` detail is
  * on a separate `Arguments:` line) and codegen membership renders as
  * `[codegen id : N]` markers. Round 1 grepped
  * `Exchange hashpartitioning` / `WholeStageCodegen` — strings that
  * never occur in formatted mode — so every count was 0;
  * ExplainAuditSpec now pins nonzero counts on known-shuffling plans.
  *
  * Run: sbt "runMain graft.tools.ExplainAudit [sfDir] [queryName...]"
  */
object ExplainAudit {

  final case class Audit(
      scans: Int,
      pushedFilters: Int,
      bhj: Int,
      smj: Int,
      shj: Int,
      shuffles: Int,
      codegenIds: Int
  ) {
    def line(name: String): String =
      f"$name%-28s scans=$scans pushedF=$pushedFilters bhj=$bhj smj=$smj shj=$shj " +
        f"shuffles=$shuffles codegen=$codegenIds"
  }

  /** Audit a DataFrame's formatted plan text. */
  def audit(df: DataFrame): Audit = {
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    def count(pattern: String): Int = pattern.r.findAllMatchIn(formatted).size
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(formatted).map(_.group(1)).count(_.nonEmpty)
    Audit(
      // node-line form: the tree section repeats each node name, so a
      // bare "Scan parquet" grep double-counts every scan
      scans = count("\\(\\d+\\) Scan parquet"),
      pushedFilters = pushed,
      bhj = count("\\(\\d+\\) BroadcastHashJoin"),
      smj = count("\\(\\d+\\) SortMergeJoin"),
      shj = count("\\(\\d+\\) ShuffledHashJoin"),
      // node-line form; covers Exchange hashpartitioning/rangepartitioning
      shuffles = count("\\(\\d+\\) Exchange"),
      // distinct codegen ids = number of whole-stage-codegen spans
      codegenIds = "\\[codegen id : (\\d+)\\]".r
        .findAllMatchIn(formatted).map(_.group(1)).toSet.size
    )
  }

  /** Audit a canned query's STATIC plan with AQE disabled for the
    * planning pass: under AQE, formatted explain shows only the
    * pre-codegen initial plan (no `[codegen id]` markers), so codegen
    * coverage is only visible on the non-adaptive plan. The audited
    * shuffle/join structure is the static one; AQE can only improve
    * it at runtime (SMJ→BHJ, partition coalescing).
    */
  def auditQuery(spark: SparkSession, name: String, sfDir: String): Audit = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try audit(graft.SparkEntry.queries(name)(spark, sfDir))
    finally spark.conf.set(key, prev)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession()
    spark.sparkContext.setLogLevel("ERROR")

    names.foreach { name =>
      println(auditQuery(spark, name, sfDir).line(name))
    }
    spark.stop()
  }
}
