package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Property sweep for the native as-of join: randomized hot-key
  * corpora with null keys/timestamps and duplicate right timestamps,
  * each left row's match recomputed by an INDEPENDENT driver-side
  * brute force (max right ts <= left ts backward / min right ts >=
  * left ts forward, per key, inclusive, nulls excluded). The oracle
  * gates (q58/q60) pin the operator on the events corpus; this sweep
  * covers both directions on shapes the corpus doesn't produce —
  * ties on the boundary, keys entirely absent from one side, all-null
  * key groups.
  */
class AsOfJoinPropSpec extends SparkTestBase {

  import spark.implicits._

  test("native as-of equals driver-side brute force on randomized corpora, both directions") {
    for (seed <- Seq(21L, 22L, 23L)) {
      val rnd = new scala.util.Random(seed)
      def nl(v: Long): Option[Long] = if (rnd.nextInt(20) == 0) None else Some(v)
      // key domain 4 on the left, 5 on the right: key 4 exists only
      // on the right, and left keys draw 0..3 — some groups starve
      val leftRows = (1L to 80L).map(i =>
        (i, nl(rnd.nextInt(4).toLong), nl(rnd.nextInt(200).toLong)))
      val rightRows = (1L to 160L).map(_ =>
        (nl(rnd.nextInt(5).toLong), nl(rnd.nextInt(200).toLong)))
      val l = leftRows.toDF("l_id", "k", "ts")
      val r = rightRows.toDF("rk", "rts")

      val byKey = rightRows
        .collect { case (Some(k), Some(t)) => (k, t) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      def expected(k: Option[Long], ts: Option[Long], dir: String): Option[Long] =
        (k, ts) match {
          case (Some(kk), Some(tt)) =>
            val cands = byKey.getOrElse(kk, Seq.empty)
            if (dir == "backward") cands.filter(_ <= tt).lastOption
            else cands.find(_ >= tt)
          case _ => None
        }

      for (dir <- Seq("backward", "forward")) {
        val got = Joins.asofJoinNative(
            l, r.select($"rk".as("k"), $"rts"), "k", "ts", "rts",
            outCol = "m", direction = dir)
          .select($"l_id", $"m")
          .collect().map(rw => rw.getLong(0) ->
            (if (rw.isNullAt(1)) None else Some(rw.getLong(1)))).toMap
        assert(got.size == leftRows.size, s"row count drifted (seed=$seed dir=$dir)")
        val wrong = leftRows.flatMap { case (id, k, ts) =>
          val e = expected(k, ts, dir)
          if (got(id) != e) Some((id, k, ts, got(id), e)) else None
        }
        assert(wrong.isEmpty,
          s"seed=$seed dir=$dir: ${wrong.length} mismatches, first=${wrong.headOption}")
      }
    }
  }
}
