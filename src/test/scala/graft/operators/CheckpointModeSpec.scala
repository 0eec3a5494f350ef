package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The reliable-checkpoint knob (`spark.graft.checkpoint.reliable`):
  * every iterative operator's lineage cut goes through
  * Ops.checkpointFrame, so flipping one conf turns executor-local
  * checkpoints (fast, lost with an executor at 1000-executor scale)
  * into reliable ones (survivable) — values must be identical either
  * way, and reliable mode must actually write to the checkpoint dir.
  */
class CheckpointModeSpec extends SparkTestBase {
  // conf-mutating suite: isolated SQLConf so concurrent suites
  // (testForkedParallel) never see this suite's toggles
  override lazy val spark = graft.SparkTestBase.isolatedSession


  test("reliable mode equals local mode on CC + kCore and writes checkpoint files") {
    import spark.implicits._
    val edges = (1L to 40L).flatMap(i => Seq((i, i + 1))) // chain
      .++(Seq((100L, 101L), (101L, 102L), (102L, 100L))) // plus a triangle
      .toDF("id_a", "id_b")

    val sym = edges.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(edges.select($"id_b".as("src"), $"id_a".as("dst")))

    // min-label needs ~40 rounds on the 41-node chain
    def cc() = Ops.connectedComponents(edges, "id_a", "id_b", maxIterations = 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val localCc = cc()
    val truth = (1L to 41L).map(_ -> 1L).toMap ++ Seq(100L, 101L, 102L).map(_ -> 100L)
    assert(localCc == truth)
    val localCore = Ops.kCore(sym, k = 2).collect()
      .map(r => r.getLong(0)).toSet

    val ckDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val relCc = cc()
      val relCore = Ops.kCore(sym, k = 2).collect()
        .map(r => r.getLong(0)).toSet
      assert(relCc == localCc)
      assert(relCore == localCore)
      // reliable mode really checkpoints: the dir gains rdd-* payloads
      def rddFiles(d: java.io.File): Int =
        Option(d.listFiles()).toSeq.flatten.map { f =>
          (if (f.isDirectory) rddFiles(f) else 0) +
            (if (f.getName.startsWith("rdd-") || f.getName.startsWith("part-")) 1 else 0)
        }.sum
      assert(rddFiles(new java.io.File(ckDir)) > 0,
        s"no checkpoint payloads under $ckDir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
    }
  }
}
