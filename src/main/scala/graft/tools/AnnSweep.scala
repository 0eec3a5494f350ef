package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Ops, VectorIndex}
import graft.tables.Tables

/** Recall/cost sweep for the trained IVF+PQ pipeline (s07 /
  * VectorIndex.ivfPqTrained) against the s01 brute-force ground truth.
  *
  * The corpus embeddings are unit-normalized (verified: norms in
  * [1 - 1e-7, 1 + 1e-7] at sf0.1), so the index's L2 ADC ranking and
  * s01's cosine ranking target the SAME neighbor order — measured
  * exact-L2 top-5 vs cosine top-5 overlap is 1.0. Any recall loss is
  * therefore quantization/routing loss, which is what the knobs
  * (k cells, nprobe, m subspaces, kSub codes) control.
  *
  * Usage: runMain graft.tools.AnnSweep [sfDir]
  * Prints one line per config:
  *   k=.. nprobe=.. m=.. kSub=..  recall@5=..  wall_s=..
  * Results are frozen in docs/SCALING.md §ANN.
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = ToolSession()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val e = Tables.load(spark, dir, "embeddings").cache()
    val nCorpus = e.count()
    val probes = e.orderBy($"vec_id").limit(10).cache()
    probes.count()

    // ground truth: brute-force cosine top-5 (the s01 shape)
    val gt = Ops.cosineTopK(probes.select($"vec_id".as("p_id"), $"embedding".as("pe")),
        e.select($"vec_id".as("n_id"), $"embedding".as("ne")),
        "p_id", "pe", "n_id", "ne", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    require(gt.nonEmpty, "ground truth is empty")

    val grid = Seq(
      // (k, nprobe, m, kSub, refine) — k=8/m=4/kSub=8/nprobe=2/no
      // refine is the s06/s07 canned-oracle config (kept tiny so
      // DuckDB unrolls it). The sweep walks the ADC knobs first
      // (showing their ceiling), then the exact-rerank refine axis.
      (8, 2, 4, 8, 0), (8, 4, 4, 8, 0), (8, 8, 4, 8, 0),
      (16, 4, 4, 8, 0), (32, 8, 4, 8, 0),
      (8, 2, 8, 32, 0), (8, 2, 16, 64, 0),
      (16, 4, 8, 32, 0), (16, 4, 16, 64, 0), (32, 8, 16, 64, 0),
      (8, 2, 4, 8, 25), (8, 2, 4, 8, 50),
      (8, 4, 4, 8, 50), (8, 4, 4, 8, 100),
      (16, 4, 4, 8, 50), (16, 4, 4, 8, 100),
      (8, 8, 4, 8, 100), (16, 4, 8, 32, 50),
      (16, 4, 8, 32, 100), (16, 8, 4, 8, 100), (16, 8, 8, 32, 100),
      (16, 8, 8, 32, 200), (32, 8, 8, 32, 100)
    )
    println(s"corpus=$nCorpus probes=${gt.size} dir=$dir")
    grid.foreach { case (k, nprobe, m, kSub, refine) =>
      val t0 = System.nanoTime()
      val res = VectorIndex.ivfPqTrained(e, "vec_id", "embedding",
          probes, "vec_id", "embedding",
          k = k, nprobe = nprobe, m = m, kSub = kSub, iters = 2, dim = 64,
          topK = 5, refine = refine)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val secs = (System.nanoTime() - t0) / 1e9
      val byProbe = res.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
      val recall = gt.map { case (p, truth) =>
        byProbe.getOrElse(p, Set.empty[Long]).intersect(truth).size.toDouble / truth.size
      }.sum / gt.size
      println(f"k=$k%-3d nprobe=$nprobe%-2d m=$m%-3d kSub=$kSub%-3d refine=$refine%-4d " +
        f"recall@5=$recall%.3f wall_s=$secs%.2f")
      spark.catalog.clearCache()
      e.cache(); e.count(); probes.cache(); probes.count()
    }
    spark.stop()
  }
}
