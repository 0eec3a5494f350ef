package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Round-13 guard fixes from the round-12 advice: column-collision
  * require on tokenizeWindows.
  */
class Round13Spec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  test("tokenizeWindows refuses inputs whose columns collide with outputs/temps") {
    Seq("window_id", "n_real", "ids", "_ids", "_cw").foreach { c =>
      val bad = docs.withColumn(c, lit(1))
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.tokenizeWindows(bad, 64)
      }
      assert(e.getMessage.contains(c), s"guard missed collision on '$c'")
    }
    // and a clean frame still works
    assert(TextAnalysis.tokenizeWindows(docs.limit(5), 64).count() > 0)
  }

  test("t28 contains t27: every duplicated full window lies inside a repeated-interval") {
    // A t27-duplicated FULL (n_real=64) window's 57 constituent
    // 8-grams all repeat corpus-wide, so its token span
    // [w*64, w*64+63] must sit inside one maximal t28 interval of
    // the same doc — windowed dup detection is a special case of
    // the any-length interval report.
    val win = TextAnalysis.tokenizeWindows(docs, window = 64)
      .withColumn("window_hash",
        md5(concat_ws(" ", expr("transform(ids, x -> cast(x as string))"))))
      .cache()
    val dupHashes = win.groupBy($"window_hash").count()
      .where($"count" >= 2).select($"window_hash")
    val dupFull = win.join(dupHashes, "window_hash")
      .where($"n_real" === 64)
      .select($"doc_id", ($"window_id" * 64).as("s"), ($"window_id" * 64 + 63).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dupFull.nonEmpty, "corpus has no duplicated full windows — pin is vacuous")
    val intervals = graft.SparkEntry.queries("t28_suffix_dup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    dupFull.foreach { case (d, s, e) =>
      assert(intervals.get(d).exists(_.exists(iv => iv._2 <= s && e <= iv._3)),
        s"dup window [$s,$e] of doc $d not contained in any t28 interval")
    }
    win.unpersist()
  }

  test("X17 idGrams equals the HOF slice/cast/join chain (incl. codegen path)") {
    val enc = docs.limit(200)
      .withColumn("_ids", graft.functions.GraftExpressions.bpeEncode($"text"))
      .withColumn("_n", size($"_ids").cast("long"))
      .filter($"_n" >= 8)
      .cache()
    val viaX17 = enc
      .select($"doc_id", posexplode(
        graft.functions.GraftExpressions.idGrams($"_ids", 8)).as(Seq("p", "g")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val viaHof = enc
      .select($"doc_id", posexplode(expr(
        "transform(sequence(CAST(0 AS BIGINT), _n - 8), " +
          "i -> array_join(transform(slice(_ids, cast(i + 1 as int), 8), " +
          "x -> cast(x as string)), '-'))")).as(Seq("p", "g")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaX17 == viaHof && viaX17.nonEmpty,
      s"X17 diverged from the HOF chain (${viaX17.size} vs ${viaHof.size})")
    // short arrays emit no grams; exactly n ids emit one
    val edge = Seq((1L, Seq(1, 2, 3)), (2L, (1 to 8).toSeq)).toDF("doc_id", "ids")
    val got = edge.select($"doc_id",
        graft.functions.GraftExpressions.idGrams($"ids", 8).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L).isEmpty && got(2L) == Seq("1-2-3-4-5-6-7-8"))
    enc.unpersist()
  }
}
