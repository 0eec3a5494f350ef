package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** e10 training unit: the 3-iteration batch perceptron is exact
  * int64 end-to-end, so training must be bit-deterministic, and its
  * scoring leg must agree with an independent driver-side replay of
  * w·xq (the e05 literal-fold inference shape vs plain Scala ints).
  */
class PerceptronSpec extends SparkTestBase {
  import spark.implicits._

  // a linearly separable toy set in 64 dims: class +1 (even label)
  // has dim0 = +0.5, class -1 has dim0 = -0.5; other dims zero
  private def toy = {
    val rows = (0 until 20).map { i =>
      val y = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, i % 10, Array.fill(64)(0.0f).updated(0, 0.5f * y).toSeq)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("training is deterministic and separates a separable set") {
    val w1 = Embeddings.trainPerceptron(toy)
    val w2 = Embeddings.trainPerceptron(toy)
    assert(w1.toSeq == w2.toSeq, "two training runs diverged")
    assert(w1.length == 65)
    val scored = Embeddings.perceptronScore(toy, w1).collect()
    // every doc classified correctly: y agrees with sign(score)
    scored.foreach { r =>
      val y = r.getInt(2)
      val s = r.getLong(3)
      assert(y * s > 0, s"vec ${r.getLong(0)}: y=$y score=$s")
    }
  }

  test("e11's scale path: predictions from stored-index neighbors == the brute-force leg") {
    // the query's scaladoc claims the brute-force neighbor leg swaps
    // for probeAnnIndex at scale with the same measurement — pin it:
    // at nprobe=k with full refine the stored index returns the exact
    // top-5, so the majority votes (and thus every e11 row) agree
    val emb = graft.tables.Tables.load(spark, sfDir, "embeddings")
    val dir = tempDir("graft-e11-ann").toString
    VectorIndex.writeAnnIndex(emb, "vec_id", "embedding", dir, k = 16, m = 4, kSub = 8)
    // the query's OWN probe definition (shared helper) — fixed-count
    // hash-ranked sample, renamed back to the probeAnnIndex arg shape
    val probes = Embeddings.e11Probes(emb)
      .select($"p_id".as("vec_id"), $"pe".as("embedding"))
    val nCorpus = emb.count().toInt
    val annTop = VectorIndex.probeAnnIndex(probes, "vec_id", "embedding",
        VectorIndex.readAnnIndex(spark, dir), nprobe = 16, topK = 5, refine = nCorpus)
      .select($"p_id", $"n_id")
      .join(emb.select($"vec_id".as("n_id"), $"label".as("n_label")), "n_id")
    val wV = org.apache.spark.sql.expressions.Window
      .partitionBy($"p_id").orderBy($"v".desc, $"n_label")
    val annPred = annTop.groupBy($"p_id", $"n_label").agg(count(lit(1)).as("v"))
      .withColumn("vr", row_number().over(wV)).filter($"vr" === 1)
      .select($"p_id", $"n_label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val brute = graft.SparkEntry.queries("e11_knn_label_eval")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(annPred == brute && brute.nonEmpty,
      s"ANN-leg predictions diverge (${annPred.size} vs ${brute.size})")
  }

  test("e10 scoring leg == driver-side replay of w . xq (exact ints)") {
    val emb = graft.tables.Tables.load(spark, sfDir, "embeddings")
    val w = Embeddings.trainPerceptron(emb)
    val viaPlan = graft.SparkEntry.queries("e10_train_classifier")(spark, sfDir)
      .select($"vec_id", $"score_w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent replay: quantize in Scala, integer dot in Scala
    val raw = emb.select($"vec_id", $"embedding", $"label").collect()
    raw.foreach { r =>
      val xq = r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1000.0 + 0.5).toLong) :+ 1000L
      val s = xq.zip(w).map { case (x, wv) => x * wv }.sum
      assert(viaPlan(r.getLong(0)) == s,
        s"vec ${r.getLong(0)}: plan=${viaPlan(r.getLong(0))} replay=$s")
    }
    // and training moved the model off zero (the corpus is learnable
    // enough that SOME update fired)
    assert(w.exists(_ != 0L))
  }
}
