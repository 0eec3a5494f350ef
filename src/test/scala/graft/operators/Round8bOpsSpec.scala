package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Specs for the round-8 batch-2 operators: q57 as-of join,
  * d16 decontamination, d17 maximal dup-span intervals, e08
  * cluster-balanced sampling.
  *
  * Same discipline as Round7bOpsSpec: every distributed result is
  * replayed sequentially in plain Scala over collected rows and the
  * two must agree exactly — the spec is an independent second
  * implementation, not a snapshot.
  */
class Round8bOpsSpec extends SparkTestBase {

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-r8b").toString
    rows.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Driver-side replica of PortableHash.hash60 (md5 hex prefix). */
  private def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  // ---- q57 / Joins.asofJoin ---------------------------------------

  test("q57 matches a per-purchase scan replay (latest click at-or-before, -1 when none)") {
    val got = q("q57_asof_join").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap

    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicksByUser: Map[Long, Seq[Long]] = ev.filter(_._3 == "click")
      .groupBy(_._2)
      .map { case (u, rows) => u -> rows.map(_._4).sorted.toSeq }
    val expected = ev.filter(_._3 == "purchase").map { case (id, u, _, us) =>
      val prior = clicksByUser.getOrElse(u, Seq.empty[Long]).filter(_ <= us)
      id -> (if (prior.isEmpty) -1L else us - prior.max)
    }.toMap
    assert(got == expected, s"${got.size} purchases, first diff: " +
      got.collectFirst { case (k, v) if expected.get(k) != Some(v) => (k, v, expected.get(k)) })
  }

  test("asofJoin boundary: a click exactly at the purchase ts is taken (inclusive >=)") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val left = Seq((1L, 7L, ts0)).toDF("event_id", "user_id", "ts")
    val right = Seq((7L, ts0), (7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05")))
      .toDF("user_id", "ts")
    val out = Joins.asofJoin(left, right, "user_id", "ts", "ts", outCol = "click_ts")
      .select(col("click_ts")).collect()
    assert(out.head.getTimestamp(0) == ts0)
  }

  // ---- d16 decontamination --------------------------------------

  test("d16 flags the doc built from eval text and not the novel doc") {
    // doc 10 is the eval shard (10 % 10 == 0); doc 11 repeats its
    // text verbatim plus fresh words (overlap >= 0.5 -> contaminated);
    // doc 12 shares nothing (overlap 0, kept)
    val evalText = "alpha beta gamma delta epsilon zeta"
    val dir = writeDocs(Seq(
      10L -> evalText,
      11L -> (evalText + " quux corge"),
      12L -> "one two three four five six seven"
    ))
    val sh = graft.SparkEntry.queries("d16_decontaminate")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4)))
    val byId = sh.map(t => t._1 -> t).toMap
    // doc 11: 6 distinct 3-grams (8 words -> 6 windows, all distinct);
    // the 4 windows fully inside evalText are hits
    assert(byId(11L) == ((11L, 6L, 4L, 1)), s"got ${byId(11L)}")
    assert(byId(12L) == ((12L, 5L, 0L, 0)), s"got ${byId(12L)}")
    assert(!byId.contains(10L), "eval docs must not appear in the train output")
  }

  test("d16 replays exactly at sf0.001") {
    val got = q("d16_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toSet

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val evalUniverse = docs.filter(_._1 % 10 == 0).flatMap(d => shingles(d._2)).toSet
    val expected = docs.filter(_._1 % 10 != 0).flatMap { case (id, t) =>
      val s = shingles(t)
      if (s.isEmpty) None
      else {
        val hit = s.count(evalUniverse)
        Some((id, s.size.toLong, hit.toLong, if (2 * hit >= s.size) 1 else 0))
      }
    }.toSet
    assert(got == expected)
  }

  // ---- d17 maximal dup-span intervals ---------------------------

  test("d17 merges adjacent duplicated windows into one maximal interval") {
    // docs 1 and 2 share a 9-word prefix -> window positions 1 and 2
    // are both duplicated -> ONE island [1, 9]; their tails differ.
    // doc 3 is disjoint and must not appear.
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val dir = writeDocs(Seq(
      1L -> (shared + " tail1 tail2"),
      2L -> (shared + " other3 other4"),
      3L -> "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    ))
    val got = graft.SparkEntry.queries("d17_dup_span_intervals")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got.toSet == Set((1L, 1, 9, 2L), (2L, 1, 9, 2L)), s"got ${got.toSeq}")
  }

  test("d17 replays exactly at sf0.001 (islands over cross-doc 8-gram positions)") {
    val got = q("d17_dup_span_intervals").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val pos = docs.flatMap { case (id, w) =>
      if (w.length < 8) Seq.empty
      else (0 to w.length - 8).map(i => (id, i + 1, w.slice(i, i + 8).mkString(" ")))
    }
    val dup = pos.map(p => (p._1, p._3)).distinct.groupBy(_._2)
      .collect { case (s, ds) if ds.length >= 2 => s }.toSet
    val expected = pos.filter(p => dup(p._3)).groupBy(_._1).toSeq.flatMap {
      case (id, ps) =>
        val sorted = ps.map(_._2).sorted
        // islands: split where consecutive positions gap
        val islands = sorted.foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: t), p) if h.head == p - 1 => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }
        islands.map(is => (id, is.min, is.max + 7, is.size.toLong))
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "sf0.001 corpus should contain at least one cross-doc dup span")
  }

  // ---- d18 span removal -----------------------------------------

  test("d18 cuts exactly the duplicated intervals and keeps the rest in order") {
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val dir = writeDocs(Seq(
      1L -> (shared + " tail1 tail2"),
      2L -> (shared + " other3 other4"),
      3L -> "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", // no cross-doc dup: untouched
      4L -> "a b c" // < 8 words: untouched
    ))
    val got = graft.SparkEntry.queries("d18_span_removal")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((11L, 2L, "tail1 tail2")), s"got ${got(1L)}")
    assert(got(2L) == ((11L, 2L, "other3 other4")), s"got ${got(2L)}")
    assert(got(3L) == ((10L, 10L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")))
    assert(got(4L) == ((3L, 3L, "a b c")))
  }

  test("d18 is consistent with d17 at sf0.001: removed words == covered interval words") {
    val spans = q("d17_dup_span_intervals").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val coveredPerDoc = spans.groupBy(_._1).view
      .mapValues(_.map(s => s._3 - s._2 + 1).sum.toLong).toMap
    val got = q("d18_span_removal").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    got.foreach { case (id, nWords, nKept, text) =>
      assert(nWords - nKept == coveredPerDoc.getOrElse(id, 0L),
        s"doc $id: removed ${nWords - nKept}, intervals cover ${coveredPerDoc.get(id)}")
      assert(nKept == 0 && text.isEmpty ||
        text.split(" ").count(_.nonEmpty) == nKept, s"doc $id text/count mismatch")
    }
    assert(got.exists(g => g._2 != g._3), "some doc must actually be cut at sf0.001")
  }

  // ---- t20 weighted sampling ------------------------------------

  test("t20 keeps exactly the docs whose hash clears the quantized quality threshold") {
    val got = q("t20_weighted_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = docs.flatMap { case (id, nc) =>
      val wq = math.min(nc, 500L) * 1024L / 500L
      if (hash60(id.toString) < (wq << 50)) Some((id, nc, wq.toInt)) else None
    }.toSet
    assert(got == expected)
    // the weighting must actually discriminate: the kept fraction of
    // short docs must be below the kept fraction of long docs
    val (long, short) = docs.partition(_._2 >= 500)
    def rate(xs: Array[(Long, Long)]) =
      if (xs.isEmpty) 1.0 else xs.count(d => got.exists(_._1 == d._1)).toDouble / xs.length
    assert(short.isEmpty || rate(short) < rate(long) || rate(long) == 1.0)
  }

  // ---- q59 funnel -----------------------------------------------

  test("q59 funnel stages match a per-user sequential replay (strict ordering)") {
    val got = q("q59_funnel").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val expected = byUser.flatMap { case (u, rows) =>
      val s = rows.filter(_._2 == "signup").map(_._3)
      if (s.isEmpty) None
      else {
        val su = s.min
        val c = rows.filter(r => r._2 == "click" && r._3 > su).map(_._3)
        val cu = if (c.isEmpty) -1L else c.min
        val p = if (cu < 0) Array.empty[Long]
          else rows.filter(r => r._2 == "purchase" && r._3 > cu).map(_._3)
        Some(u -> ((su, cu, if (p.isEmpty) -1L else p.min)))
      }
    }
    assert(got == expected)
    assert(got.values.exists(v => v._3 > 0), "corpus should contain full conversions")
  }

  test("q59 strict ordering: a purchase before the first post-signup click does not convert") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: signup, purchase, click — the purchase precedes the
    // first post-signup click, so stage 3 must stay unreached;
    // user 2: signup, click, purchase in order — full conversion
    val dir = tempDir("graft-funnel").toString
    Seq(
      (1L, t("2024-01-01 00:00:01"), 1L, "signup", 0.0, "{}"),
      (2L, t("2024-01-01 00:00:02"), 1L, "purchase", 1.0, "{}"),
      (3L, t("2024-01-01 00:00:03"), 1L, "click", 0.0, "{}"),
      (4L, t("2024-01-01 00:00:01"), 2L, "signup", 0.0, "{}"),
      (5L, t("2024-01-01 00:00:02"), 2L, "click", 0.0, "{}"),
      (6L, t("2024-01-01 00:00:03"), 2L, "purchase", 5.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.SparkEntry.queries("q59_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2) > 0, r.getLong(3) > 0))).toMap
    assert(got == Map(1L -> ((true, false)), 2L -> ((true, true))), s"got $got")
  }

  // ---- e08 cluster-balanced sampling ----------------------------

  test("e08 picks the hash-least 4 ids per trained cell, exactly") {
    val asg = Clustering.kmeansAssign(Tables.load(spark, sfDir, "embeddings"),
      "vec_id", "embedding", k = 8, iters = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = asg.groupBy(_._2).toSeq.flatMap { case (cell, rows) =>
      rows.sortBy(r => (hash60(r._1.toString), r._1)).take(4).zipWithIndex
        .map { case ((id, _, dq), i) => (cell, i + 1, id, dq) }
    }.toSet
    val got = q("e08_cluster_sample").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    // quota respected and at least 2 distinct cells survive at sf0.001
    assert(got.groupBy(_._1).forall(_._2.size <= 4))
    assert(got.map(_._1).size >= 2)
  }
}
