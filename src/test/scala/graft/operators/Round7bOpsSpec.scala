package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Specs for the round-7 batch-2 operators: g02 triangle counting,
  * t19 shard JS divergence, e06 power iteration (d15 containment's
  * specs live in DedupScaleSpec, next to its scale operator).
  *
  * The pattern is the GraphSpec/q52 one: wherever the math is small
  * enough to express sequentially, the spec replays it in plain Scala
  * over collected rows and demands equality with the distributed
  * result — plan changes (AQE, join reorder, partial-agg order) can't
  * hide behind an independently-computed expected value.
  */
class Round7bOpsSpec extends SparkTestBase {

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-r7b").toString
    rows.map { case (id, text, lang, source) =>
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- g02 / Graph.triangleCounts -------------------------------

  test("triangleCounts on K4 plus a pendant: 4 triangles, 3 per core node, none on the pendant") {
    import spark.implicits._
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 :+ ((4L, 9L))).toDF("u", "v")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 has C(4,3)=4 triangles; each core node sits in C(3,2)=3 of
    // them; the pendant (9) closes nothing and must be absent
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
  }

  test("g02 matches a brute-force driver replay over adjacency sets") {
    val got = q("g02_triangle_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val ip = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") >= 30)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ip.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val counts = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((u, v) <- edges; w <- adj(u) intersect adj(v); if u < v && v < w) {
      counts(u) += 1; counts(v) += 1; counts(w) += 1
    }
    assert(got.size == counts.size, s"node count ${got.size} != ${counts.size}")
    counts.foreach { case (n, c) =>
      assert(got(n) == c, s"node $n: distributed ${got(n)} != replay $c")
    }
  }

  // ---- t19 shard divergence -------------------------------------

  test("t19 is 0 for identical shards and ln 2 for disjoint vocabularies") {
    val dir = writeDocs(Seq(
      (1L, "a a b", "en", "sA"),
      (2L, "a a b", "en", "sB"),
      (3L, "c d c d", "en", "sC")
    ))
    val got = graft.SparkEntry.queries("t19_shard_divergence")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(got(("sA", "sB")) == 0.0, s"identical shards: ${got(("sA", "sB"))}")
    val ln2r = BigDecimal(math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("sA", "sC")) == ln2r, s"disjoint shards: ${got(("sA", "sC"))}")
    assert(got(("sB", "sC")) == ln2r)
  }

  test("t19 values sit in [0, ln 2] and cover every shard pair") {
    val rows = q("t19_shard_divergence").collect()
    val nShards = Tables.load(spark, sfDir, "documents")
      .select(countDistinct(col("source"))).head.getLong(0)
    assert(rows.length == nShards * (nShards - 1) / 2,
      s"${rows.length} pairs for $nShards shards")
    rows.foreach { r =>
      val js = r.getDouble(2)
      assert(js >= 0.0 && js <= math.log(2) + 1e-9, s"JS out of range: $r")
    }
  }

  // ---- e06 power iteration --------------------------------------

  test("e06 matches a sequential replay of quantize -> covariance -> 3 iterations") {
    val got = q("e06_power_iteration").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap

    val em = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).toArray)
    val d = 64
    val n = em.length.toLong
    val qz = em.map(_.map(x => math.floor(x.toDouble * 1000).toLong))
    val s = Array.tabulate(d)(j => qz.map(_(j)).sum)
    val ss = Array.tabulate(d)(j => qz.map(v => v(j) * v(j)).sum)
    val top = (0 until d).sortBy(j => (-(ss(j) * n - s(j) * s(j)), j)).take(8)
    val cov = Array.tabulate(8, 8) { (a, b) =>
      val (i, j) = (top(a), top(b))
      val sp = qz.map(v => v(i) * v(j)).sum
      (sp * n - s(i) * s(j)).toDouble
    }
    var v = Array.fill(8)(1.0)
    for (_ <- 1 to 3)
      v = Array.tabulate(8)(a => (0 until 8).map(b => cov(a)(b) * v(b)).sum)
    val nn = math.sqrt(v.map(x => x * x).sum)
    val expected = top.zip(v.map(_ / nn)).map { case (dim, x) =>
      dim -> BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(got.keySet == expected.keySet, s"dims ${got.keySet} != ${expected.keySet}")
    expected.foreach { case (dim, x) =>
      assert(math.abs(got(dim) - x) <= 1e-6 + 1e-12,
        s"dim $dim: distributed ${got(dim)} != replay $x")
    }
  }

  test("g03 matches a sequential peel replay") {
    val got = q("g03_kcore_peel").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val ip = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") >= 30)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges: Set[(Long, Long)] = ip.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length;
           e <- Seq((ps(i), ps(j)), (ps(j), ps(i)))) yield e
    }.toSet
    for (_ <- 1 to 5) {
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
      val keep = deg.filter(_._2 >= 3).keySet
      edges = edges.filter { case (s, d) => keep(s) && keep(d) }
    }
    val expected = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet).take(5)} / ${(expected.toSet diff got.toSet).take(5)}")
  }

  test("e07 scores match the replayed eigenvector projection for every vector") {
    val got = q("e07_pc1_scores").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val em = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val d = 64
    val n = em.length.toLong
    val qz = em.map { case (id, a) => id -> a.map(x => math.floor(x.toDouble * 1000).toLong) }
    val s = Array.tabulate(d)(j => qz.map(_._2(j)).sum)
    val ss = Array.tabulate(d)(j => qz.map(v => v._2(j) * v._2(j)).sum)
    val top = (0 until d).sortBy(j => (-(ss(j) * n - s(j) * s(j)), j)).take(8)
    val cov = Array.tabulate(8, 8) { (a, b) =>
      val (i, j) = (top(a), top(b))
      (qz.map(v => v._2(i) * v._2(j)).sum * n - s(i) * s(j)).toDouble
    }
    var v = Array.fill(8)(1.0)
    for (_ <- 1 to 3)
      v = Array.tabulate(8)(a => (0 until 8).map(b => cov(a)(b) * v(b)).sum)
    val nn = math.sqrt(v.map(x => x * x).sum)
    val w = v.map(_ / nn)
    assert(got.size == em.length)
    qz.foreach { case (id, arr) =>
      val score = top.indices.map(a => arr(top(a)) * w(a)).sum
      assert(math.abs(got(id) - score) <= 1e-5,
        s"vec $id: distributed ${got(id)} != replay $score")
    }
  }

  test("e06 loadings form a unit vector") {
    val v = q("e06_power_iteration").collect().map(_.getDouble(1))
    assert(v.length == 8)
    val norm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"norm $norm")
  }
}
