package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

/** Scale guards for the dedup pipelines: the hot-shingle cap must
  * bound candidate generation on a boilerplate-skewed corpus while
  * keeping exact Jaccard values for every surviving pair.
  */
class DedupScaleSpec extends SparkTestBase {

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  /** A corpus dir holding only the `documents` table. */
  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-d15").toString
    rows.map { case (id, text, lang, source) =>
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The pre-round-13 d02/d21 verify, kept ONLY as the independent
    * reference formulation for the equality pin below: posting lists
    * restricted to candidate docs (semi-join), shared-shingle counts
    * via a shingle-keyed self-join, candidate-filtered, exact Jaccard
    * from per-doc sizes. Value-identical to
    * [[Dedup.minhashLshAtScale]] but quadratic within one hot
    * shingle's candidate posting — a boilerplate shingle shared by g
    * candidate docs emits g²/2 join rows before the pair agg, which is
    * why the canned queries route through the pairwise verify.
    */
  private def minhashLshPostingVerifyRef(docs: DataFrame, threshold: Double = 0.4): DataFrame = {
    val sh = Dedup.shingleArrays(docs).cache()
    val posting = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val cands = Dedup.minhashCandidates(sh).cache()
    val candDocs =
      cands.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val restricted = posting.join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    restricted.select(col("doc_id").as("id_a"), col("s"))
      .join(restricted.select(col("doc_id").as("id_b"), col("s")), Seq("s"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("c"))
      .join(cands, Seq("id_a", "id_b"), "left_semi")
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The original posting-groupBy signature derivation, kept as the
    * independent reference formulation for the banding equality pin
    * below (min() aggregate over the exploded (doc_id, s) postings,
    * HOF-free but one extra shuffle; 16 permutations, 4 bands of 4).
    */
  private def minhashCandidatesPostingRef(posting: DataFrame): DataFrame = {
    val mhAggs = (0 until 16).map { i =>
      min(substring(md5(concat(col("s"), lit(s"|$i"))), 1, 16)).as(s"mh$i")
    }
    val sig = posting.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
    val bands = sig.select(
      col("doc_id"),
      posexplode(
        array((0 until 4).map(bnd =>
          md5(concat_ws("|", (bnd * 4 until bnd * 4 + 4).map(r => col(s"mh$r")): _*))
        ): _*)
      ).as(Seq("band", "bh"))
    )
    val la = bands.select(col("doc_id").as("id_a"), col("band"), col("bh"))
    val lb = bands.select(col("doc_id").as("id_b"), col("band"), col("bh"))
    la.join(lb, Seq("band", "bh")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  // 120 docs: 10 boilerplate words shared by ALL docs + an 8-word
  // tail. Docs 0..5 reuse 3 tails (id % 3), so (0,3) (1,4) (2,5) are
  // exact duplicates; every other doc's tail is unique. Every pair
  // shares the 8 boilerplate-only shingles -> uncapped candidate
  // generation is O(n^2).
  private def skewedDocs = {
    val boiler = "terms of service apply to every user of this platform"
    spark.range(120).select(
      col("id").as("doc_id"),
      concat(
        lit(boiler + " "),
        expr("concat_ws(' ', transform(sequence(0, 7), " +
          "j -> concat('t', CAST(CASE WHEN id < 6 THEN id % 3 ELSE id END AS STRING), 'x', CAST(j AS STRING))))")
      ).as("text")
    )
  }

  test("hot-shingle cap bounds candidate blowup on a skewed corpus; survivors exact") {
    val uncapped = Dedup.ngramJaccardAtScale(skewedDocs, 0.3, maxPostingsPerToken = None)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = Dedup.ngramJaccardAtScale(skewedDocs, 0.3, maxPostingsPerToken = Some(10))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    // uncapped: boilerplate makes EVERY pair jaccard >= 1/3 -> n^2 blowup
    assert(uncapped.size == 120 * 119 / 2, s"uncapped: ${uncapped.size}")
    // capped: boilerplate shingles (df=120 > 10) are excluded from
    // candidate generation; only the true duplicate pairs (which share
    // non-hot tail shingles) survive
    assert(capped.keySet == Set((0L, 3L), (1L, 4L), (2L, 5L)), s"capped: ${capped.keySet}")
    // values for survivors are EXACT (full-posting Jaccard, cap only
    // affects candidate generation): identical docs -> 1.0, and equal
    // to the uncapped value
    capped.foreach { case (pair, j) =>
      assert(j == 1.0 && uncapped(pair) == j, s"$pair: capped=$j uncapped=${uncapped(pair)}")
    }
    // the one-pass verify (non-hot count + shared hot-token sets)
    // returns what re-counting the candidate docs' full postings does
    val postingRef = cappedJaccardPostingRef(skewedDocs, 0.3, 10)
    assert(postingRef == capped, s"posting verify diverged: ${postingRef.size} vs ${capped.size}")
  }

  /** The restricted-postings capped verify `Ops.jaccardPairs` used
    * before its one-pass verify, kept as the independent reference
    * formulation: candidates from the non-hot postings, then exact
    * counts re-derived by a shingle-keyed self-join over the FULL
    * postings of the candidate docs.
    */
  private def cappedJaccardPostingRef(
      docs: DataFrame, threshold: Double, cap: Int): Map[(Long, Long), Double] = {
    val posting = Dedup.shingleArrays(docs).select(col("doc_id").as("_id"), explode(col("sh")).as("_t"))
    val sizes = posting.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    def pairCounts(src: DataFrame) =
      src.select(col("_id").as("id_a"), col("_t"))
        .join(src.select(col("_id").as("id_b"), col("_t")), Seq("_t"))
        .where(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_c"))
    val hot = posting.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > cap).select(col("_t"))
    val cands = pairCounts(posting.join(hot, Seq("_t"), "left_anti")).select(col("id_a"), col("id_b"))
    val candDocs = cands.select(explode(array(col("id_a"), col("id_b"))).as("_id")).distinct()
    pairCounts(posting.join(candDocs, Seq("_id"), "left_semi"))
      .join(cands, Seq("id_a", "id_b"), "left_semi")
      .join(sizes.select(col("_id").as("id_a"), col("_n").as("_na")), "id_a")
      .join(sizes.select(col("_id").as("id_b"), col("_n").as("_nb")), "id_b")
      .withColumn("jaccard", col("_c").cast("double") / (col("_na") + col("_nb") - col("_c")))
      .filter(col("jaccard") >= threshold)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard")))
      .toMap
  }

  // Surviving pairs share hot AND non-hot tokens with partial overlap,
  // so each exact value lies strictly between the threshold and 1 and
  // any count missing the hot tokens both docs hold reads low. Hot
  // tokens h0..h2 sit in more than `cap` = 3 docs; the fillers (ids
  // 20..27) carry them with six private tokens each, far below every
  // threshold. (1,2): 3 hot + 4 non-hot shared of 9 each; (3,4): hot
  // sets {h0,h1} vs {h0,h2} meet in h0; (5,6): no hot token on either
  // side; (7,8): a hot token on one side only.
  private def hotTokenDocs = {
    import spark.implicits._
    def p(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val hot3 = Seq("h0", "h1", "h2")
    (Seq(
      1L -> (hot3 ++ p("a", 4) ++ p("pp", 2)),
      2L -> (hot3 ++ p("a", 4) ++ p("qq", 2)),
      3L -> (Seq("h0", "h1") ++ p("b", 3) ++ Seq("r1")),
      4L -> (Seq("h0", "h2") ++ p("b", 3) ++ Seq("s1", "s2")),
      5L -> (p("c", 4) ++ Seq("t1")),
      6L -> (p("c", 4) ++ Seq("u1")),
      7L -> (Seq("h0") ++ p("d", 4)),
      8L -> (p("d", 4) ++ Seq("v1"))
    ) ++ (20L to 27L).map(id => id -> (hot3 ++ p(s"f${id}_", 6)))).toDF("id", "tk")
  }

  test("capped survivors carry the exact overlap when they share hot and non-hot tokens") {
    val docs = hotTokenDocs
    def jac(cap: Option[Int]) = Ops.jaccardPairs(docs, "id", "tk", 0.4, cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val (exact, capped) = (jac(None), jac(Some(3)))
    assert(capped.keySet == Set((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)), s"capped: $capped")
    capped.foreach { case (pair, j) =>
      assert(j > 0.4 && j < 1.0 && exact.get(pair).contains(j),
        s"$pair: capped=$j uncapped=${exact.get(pair)}")
    }
    def cont(cap: Option[Int]) = Ops.containmentPairs(docs, "id", "tk", 0.5, cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(4)))).toMap
    val (exactC, cappedC) = (cont(None), cont(Some(3)))
    assert(cappedC.keySet == Set((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (5L, 6L), (6L, 5L),
      (7L, 8L), (8L, 7L)), s"capped: $cappedC")
    cappedC.foreach { case (pair, v @ (_, c)) =>
      assert(c > 0.5 && c < 1.0 && exactC.get(pair).contains(v),
        s"$pair: capped=$v uncapped=${exactC.get(pair)}")
    }
  }

  test("pairwise array_intersect verify equals the posting-join verify (d02/d21 reroute)") {
    // Round 13 routed canned d02/d21 through minhashLshAtScale's
    // pairwise verify; the retired restricted-posting self-join is
    // kept as the independent reference formulation and must stay
    // value-identical — same candidates, same exact Jaccard.
    val docs = Tables.load(spark, sfDir, "documents")
    val pairwise = Dedup.minhashLshAtScale(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    val postingRef = minhashLshPostingVerifyRef(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairwise == postingRef && pairwise.nonEmpty,
      s"${pairwise.size} vs ${postingRef.size}")
    spark.catalog.clearCache()
    val canned = graft.SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairwise == canned, s"${pairwise.size} vs ${canned.size}")
  }

  test("canned d04 equals the scale configuration when no shingle is hot") {
    // on the real sf0.001 corpus with a cap far above the hottest
    // shingle, the capped pipeline is value-identical to canned d04
    val docs = Tables.load(spark, sfDir, "documents")
    val atScale = Dedup.ngramJaccardAtScale(docs, 0.4, maxPostingsPerToken = Some(100000))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val canned = graft.SparkEntry.queries("d04_dedup_ngram_jaccard")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(atScale == canned)
  }

  test("per-row bandKeys derive the same candidates as the groupBy minhash path") {
    // array_min over the distinct shingle array must equal min over
    // the grouped posting rows — same set, same md5 derivation — so
    // the streaming-safe banding (ST6) agrees with d02's batch banding.
    val docs = Tables.load(spark, sfDir, "documents")
    val bk = Dedup.bandKeys(docs, "doc_id", "text")
    val perRow = bk.select(col("doc_id").as("id_a"), col("band"), col("bh"))
      .join(bk.select(col("doc_id").as("id_b"), col("band"), col("bh")), Seq("band", "bh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val grouped = minhashCandidatesPostingRef(
        Dedup.shingleArrays(spark, sfDir).select(col("doc_id"), explode(col("sh")).as("s")))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(perRow == grouped && perRow.nonEmpty)
  }

  test("fuzzyEditAtScale equals canned d14 uncapped; bucket cap bounds the skewed corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val atScale = Dedup.fuzzyEditAtScale(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val canned = graft.SparkEntry.queries("d14_fuzzy_edit_distance")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(atScale == canned, s"${atScale.size} vs ${canned.size}")
    spark.catalog.clearCache()
    // banded DP with a threshold above every doc length == exact form
    val banded = Dedup.fuzzyEditAtScale(docs, maxDist = 600)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == canned, s"banded ${banded.size} vs ${canned.size}")
    spark.catalog.clearCache()
    // skewed corpus: every doc shares boilerplate shingles -> minhash
    // buckets go hot; the cap must bound candidate work while exact
    // duplicate pairs (same text -> same signature, low ids) survive
    val uncapped = Dedup.fuzzyEditAtScale(skewedDocs).count()
    val capped = Dedup.fuzzyEditAtScale(skewedDocs, maxBucket = 12)
    val cappedRows = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cappedRows.length <= uncapped.toInt)
    // the three exact-dup pairs sit at doc_ids 0..5 (lowest ids, kept
    // by the cap) and must survive with edit_dist == 0
    Seq((0L, 3L), (1L, 4L), (2L, 5L)).foreach { case (a, b) =>
      assert(cappedRows.exists(p => p._1 == a && p._2 == b && p._3 == 0L),
        s"exact pair ($a,$b) lost by cap")
    }
    spark.catalog.clearCache()
  }

  // ---- d15 containment ------------------------------------------

  test("d15 flags a doc contained in a longer wrapper, not the reverse") {
    // A's 3 shingles all appear in B (A + chrome); B->A is 3/8 < 0.8
    val dir = writeDocs(Seq(
      (1L, "w1 w2 w3 w4 w5", "en", "s0"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en", "s0"),
      (3L, "z1 z2 z3 z4 z5", "en", "s0")
    ))
    val rows = graft.SparkEntry.queries("d15_containment")(spark, dir).collect()
    assert(rows.length == 1, s"expected 1 pair, got ${rows.mkString(";")}")
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L) // n_shared, n_a
    assert(r.getDouble(4) == 1.0)
  }

  test("d15 contains both orders of every d04 pair with jaccard >= 0.8") {
    // containment c/|A| >= c/|union| = jaccard, so a resemblance hit
    // at >= 0.8 must appear in d15 in BOTH directions
    val strong = q("d04_dedup_ngram_jaccard")
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val d15 = q("d15_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    strong.foreach { case (a, b) =>
      assert(d15.contains((a, b)) && d15.contains((b, a)),
        s"jaccard>=0.8 pair ($a,$b) missing from containment output")
    }
  }

  test("containmentAtScale uncapped equals the canned d15 query") {
    val docs = Tables.load(spark, sfDir, "documents")
    val scale = Dedup.containmentAtScale(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val canned = q("d15_containment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(scale == canned, s"scale path diverges: ${scale.diff(canned)} / ${canned.diff(scale)}")
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
  }

  test("containmentAtScale capped keeps exact values on surviving pairs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val canned = q("d15_containment")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val capped = Dedup.containmentAtScale(docs, 0.8, maxPostingsPerToken = Some(8))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // cap is a recall trade only: surviving pairs carry the EXACT
    // full-posting counts, never values computed from capped postings
    capped.foreach { case (pair, v) =>
      assert(canned.contains(pair) && canned(pair) == v,
        s"pair $pair: capped $v vs canned ${canned.get(pair)}")
    }
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
  }

  test("canned d04 and d15 run the overlap core: one join, no per-doc size aggregate") {
    // the posting self-join is the only join: each doc's size rides
    // its posting rows, so neither query joins sizes back onto pairs
    // nor aggregates on doc_id alone
    Seq("d04_dedup_ngram_jaccard", "d15_containment").foreach { name =>
      val plan = q(name).queryExecution.optimizedPlan
      val joins = plan.collect { case j: Join => j }
      assert(joins.length == 1, s"$name: ${joins.length} joins\n$plan")
      val perDoc = plan.collect {
        case a: Aggregate if a.groupingExpressions.map {
          case r: AttributeReference => r.name
          case e => e.sql
        } == Seq("doc_id") => a
      }
      assert(perDoc.isEmpty, s"$name: per-doc aggregate\n$plan")
    }
  }
}
