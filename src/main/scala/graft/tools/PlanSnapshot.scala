package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-only: write `.explain("formatted")` of named canned queries to
  * `<outDir>/<query>_<label>.txt` — the before/after plan evidence for
  * optimization rounds. AQE is disabled for the planning pass (the
  * ExplainAudit convention: formatted mode under AQE hides codegen
  * annotation; at runtime AQE can only improve on the static plan).
  * Iterative queries run their convergence rounds at BUILD time, so
  * their static plan is the final-join plan over checkpointed frames —
  * the loop structure itself is documented in OPTIMIZATION_r16.md.
  * Expression ids (`#123`) and `plan_id=N` are stripped — they count
  * up per session — so two snapshots of one plan diff directly.
  * Usage:
  *   sbt "runMain graft.tools.PlanSnapshot <outDir> <label> <query>..."
  */
object PlanSnapshot {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val label = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession("spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
          .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
        Files.writeString(Paths.get(s"$outDir/${name}_$label.txt"), txt)
        println(s"[plan] wrote $outDir/${name}_$label.txt (${txt.length} chars)")
      } catch {
        case e: Throwable => println(s"[plan] $name FAILED: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
