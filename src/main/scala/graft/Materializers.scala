package graft

import org.apache.spark.sql.Dataset
import graft.core.Workflow

/** Spark binding for the workflow materialization policy (SURVEY.md
  * §2.1 C9): by default graft cells compose ONE lazy Catalyst plan;
  * a cell marked `.cached()` / `.checkpointed()` pins its result so
  * downstream cells reuse the materialization instead of recomputing —
  * the Spark-native analogue of the reference's per-run result dict
  * (workflow.py:217 `self.cache`), but opt-in, because recomputation
  * through one fused plan is usually cheaper than caching at 100 TB.
  */
object Materializers {

  /** Install cache/checkpoint handling on a workflow. */
  def spark(wkf: Workflow): Workflow = {
    wkf.materializer = (cell, res) =>
      res match {
        case ds: Dataset[_] =>
          cell.materializePolicy match {
            case Some("cache") => ds.cache()
            case Some("checkpoint") => graft.operators.Ops.checkpointFrame(ds, eager = true)
            case _ => ds
          }
        case other => other
      }
    wkf
  }
}
