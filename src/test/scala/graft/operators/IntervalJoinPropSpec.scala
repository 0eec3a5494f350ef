package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property sweep for the native interval join: randomized corpora
  * (fixed seeds — reproducible) with HOT keys, null keys/bounds/ts,
  * and empty (lo > hi) intervals, compared row-for-multiset-row
  * against the composed equi-join-plus-range-predicate reference
  * plan across every (lowerInclusive, upperInclusive, joinType)
  * combination. The handcrafted cases in IntervalJoinNativeSpec pin
  * the known-hard shapes (non-monotonic ends, boundary flags); this
  * sweep guards the shapes nobody thought to handcraft.
  */
class IntervalJoinPropSpec extends SparkTestBase {

  import spark.implicits._

  /** Random corpus: n left intervals / 2n right events over a SMALL
    * key domain (hot keys stress the sliding buffer), ~5% nulls in
    * every joinable column, interval widths from -10 (empty) to 50.
    */
  private def randCorpus(seed: Long, n: Int, keyDom: Int): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def nl(v: Long): Option[Long] = if (rnd.nextInt(20) == 0) None else Some(v)
    val left = (1 to n).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (i.toLong, nl(rnd.nextInt(keyDom).toLong), nl(lo),
        nl(lo + rnd.nextInt(61) - 10))
    }.toDF("l_id", "k", "lo", "hi")
    val right = (1 to n * 2).map { j =>
      (j.toLong, nl(rnd.nextInt(keyDom).toLong), nl(rnd.nextInt(1000).toLong))
    }.toDF("r_id", "rk", "rts")
    (left, right)
  }

  private def composed(l: DataFrame, r: DataFrame, linc: Boolean, uinc: Boolean,
      joinType: String): DataFrame = {
    val loCond = if (linc) col("rts") >= col("lo") else col("rts") > col("lo")
    val hiCond = if (uinc) col("rts") <= col("hi") else col("rts") < col("hi")
    val jt = if (joinType == "left") "left_outer" else "inner"
    l.join(r, col("k") === col("rk") && loCond && hiCond, jt)
  }

  test("native interval join equals the composed plan on randomized hot-key corpora (all flag/join combos)") {
    for {
      seed <- Seq(11L, 12L)
      linc <- Seq(false, true)
      uinc <- Seq(false, true)
      joinType <- Seq("inner", "left")
    } {
      val (l, r) = randCorpus(seed, n = 40, keyDom = 3)
      val native = Joins.intervalJoinNative(l, r, "k", "rk", "lo", "hi", "rts",
        joinType, lowerInclusive = linc, upperInclusive = uinc)
      val ref = composed(l, r, linc, uinc, joinType)
      val label = s"seed=$seed linc=$linc uinc=$uinc join=$joinType"
      assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty,
        s"multiset mismatch ($label): native=${native.count()} ref=${ref.count()}")
    }
  }
}
