package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The star-contraction CC option: correctness (equal to min-label on
  * arbitrary graphs) and the scale property that justifies it — round
  * count logarithmic in component size, independent of diameter.
  */
class ConnectedComponentsSpec extends SparkTestBase {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star equals min-label on a mixed random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph: cliques, chains, and isolated
    // self-loops mixed together
    val edges = (
      (0L to 400L).map(i => (i, (i * 7919) % 401)) ++ // dense tangle
        (1000L to 1050L).map(i => (i, i + 1)) ++ // a chain
        Seq((2000L, 2000L), (3000L, 3001L)) // self-loop + pair
      ).toDF("a", "b")
    val ml = labelsOf(Clustering.connectedComponents(edges, "a", "b", maxIterations = 500))
    val st = labelsOf(Clustering.connectedComponentsStar(edges, "a", "b")._1)
    assert(st == ml)
  }

  test("10k-node chain converges in O(log n) rounds (min-label would need ~10k)") {
    import spark.implicits._
    val n = 10000L
    val chain = spark.range(n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    val (labels, rounds) = Clustering.connectedComponentsStar(chain, "a", "b")
    assert(rounds <= 25, s"star took $rounds rounds on a ${n}-node chain")
    val bad = labels.filter(col("label") =!= 0L).count()
    assert(bad == 0, s"$bad nodes not labeled by the component minimum")
    assert(labels.count() == n)
  }

  test("min-label raises when its budget runs out before the fixpoint") {
    import spark.implicits._
    // the 41-node chain needs ~40 min-label rounds; the default 20
    // used to return a partial labeling with 20 labels for one component
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      Clustering.connectedComponents(chain, "a", "b").collect()
    }
    assert(ex.getMessage.contains("no fixpoint within 20 rounds"), ex.getMessage)
    val labels = labelsOf(Clustering.connectedComponents(chain, "a", "b", maxIterations = 50))
    assert(labels.size == 41 && labels.values.toSet == Set(1L))
  }

  test("min-label settles in one round when the initial labels are final") {
    import spark.implicits._
    // a 6-clique on 10..15 and a star centred on its minimum id 1:
    // every node's min(self, neighbours) already is its component's
    // minimum, so round 1 lowers no label
    val clique = for (a <- 10L to 15L; b <- a + 1 to 15L) yield (a, b)
    val star = (2L to 9L).map(leaf => (1L, leaf))
    val edges = (clique ++ star).toDF("a", "b")
    val (labels, rounds) = Clustering.minLabel(edges, "a", "b", 20, "id", "label")
    assert(rounds == 1, s"min-label took $rounds rounds")
    assert(labelsOf(labels) ==
      ((10L to 15L).map(_ -> 10L) ++ (1L to 9L).map(_ -> 1L)).toMap)
  }

  test("star raises when maxIterations is too small") {
    val chain = spark.range(999).select(col("id").as("a"), (col("id") + 1).as("b"))
    val ex = intercept[IllegalArgumentException] {
      Clustering.connectedComponentsStar(chain, "a", "b", maxIterations = 2)
    }
    assert(ex.getMessage.contains("no fixpoint within 2 rounds"), ex.getMessage)
  }

  test("both algorithms return empty on an empty edge list (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Clustering.connectedComponents(empty, "a", "b").count() == 0)
    assert(Clustering.connectedComponentsStar(empty, "a", "b")._1.count() == 0)
  }

  test("star handles self-loop-only nodes by labeling them themselves") {
    import spark.implicits._
    val edges = Seq((5L, 5L), (7L, 8L)).toDF("a", "b")
    val st = labelsOf(Clustering.connectedComponentsStar(edges, "a", "b")._1)
    assert(st == Map(5L -> 5L, 7L -> 7L, 8L -> 7L))
  }
}
