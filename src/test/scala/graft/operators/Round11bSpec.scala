package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Round-11 additions beyond the verdict sweep: t24 (Misra-Gries
  * candidates + exact recount), d23 (soft-dedup weights), g11
  * (capped resource-allocation link prediction).
  */
class Round11bSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  // ---------------------------------------------------------------- t24

  test("t24: sketch+recount output equals the exact top-20, all rows certified provable") {
    val docs = Tables.load(spark, sfDir, "documents")
    val exact = docs
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"w").limit(20)
      .select($"w", $"cnt")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    val got = q("t24_topk_sketch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toList
    assert(got.map(t => (t._1, t._2)) === exact,
      "sketch-certified top-20 diverged from the exact full-groupBy top-20")
    // On this corpus every top-20 word clears the N/(kP+1) bound, so
    // the MG guarantee (not luck) is what made the answer exact.
    assert(got.forall(_._3), s"uncertified rows: ${got.filterNot(_._3).map(_._1)}")
  }

  test("t24: the Misra-Gries union guarantee — partition-split MG survivors cover global heavy hitters") {
    // Driver-side replay of the algorithm the query's mapPartitions
    // runs, pinned against the averaging argument the comment claims:
    // for ANY partitioning, the union of per-partition MG(k)
    // survivors contains every element with global count > N/(k+1).
    def mg(xs: Seq[String], k: Int): Set[String] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      xs.foreach { w =>
        m.get(w) match {
          case Some(c) => m.update(w, c + 1L)
          case None if m.size < k => m.update(w, 1L)
          case None =>
            val dead = List.newBuilder[String]
            m.toList.foreach { case (key, c) =>
              if (c == 1L) dead += key else m.update(key, c - 1L)
            }
            dead.result().foreach(m.remove)
        }
      }
      m.keySet.toSet
    }
    // Deterministic skewed stream: one hot key above the bound, a
    // rotating tail below it; adversarial order (hot keys bunched at
    // the END so naive "first-k" sketching would miss them).
    val tail = Seq.tabulate(900)(i => s"tail${i % 97}")
    // N=1660, bound=N/4=415: "hot" (500 > bound) MUST survive; "warm"
    // (260) sits below the bound and is allowed either way.
    val stream = tail ++ Seq.fill(500)("hot") ++ Seq.fill(260)("warm")
    val n = stream.size
    val k = 3
    val bound = n.toDouble / (k + 1)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val mustFind = exact.collect { case (w, c) if c > bound => w }.toSet
    assert(mustFind.nonEmpty, "test stream lost its heavy hitters")
    // Try several partitionings, including pathological ones.
    Seq(1, 2, 4, 7, 146).foreach { parts =>
      val chunks = stream.grouped(math.max(1, n / parts)).toSeq
      val union = chunks.flatMap(c => mg(c, k)).toSet
      assert(mustFind.subsetOf(union),
        s"parts=$parts: MG union ${union.size} keys missed ${mustFind.diff(union)}")
    }
  }

  // ---------------------------------------------------------------- d23

  test("d23: weights floor-exact, mass-conserving per cluster, full doc coverage") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = q("d23_dup_weights").cache()
    assert(out.count() === docs.count(), "every doc gets exactly one weight row")
    // weight is the exact integer floor of 1e6/n_members
    assert(out.where($"weight_ppm" =!= expr("1000000L div n_members")).count() === 0L)
    // singletons carry full weight
    assert(out.where($"n_members" === 1 && $"weight_ppm" =!= 1000000L).count() === 0L)
    // per-cluster mass: n*floor(1e6/n) in (1e6 - n, 1e6] — the floor
    // loss is < 1 ppm per member, never over-counts
    val mass = out.groupBy($"cluster_id")
      .agg(sum($"weight_ppm").as("mass"), first($"n_members").as("n"))
    assert(mass.where($"mass" > 1000000L || $"mass" <= lit(1000000L) - $"n").count() === 0L)
    out.unpersist()
  }

  test("d23: cluster ids are d22's — the weight column composes with the leakage-safe split") {
    val w = q("d23_dup_weights").select($"doc_id", $"cluster_id".as("c_w"))
    val s = q("d22_leakage_safe_split").select($"doc_id", $"cluster_id".as("c_s"))
    assert(w.join(s, "doc_id").where($"c_w" =!= $"c_s").count() === 0L,
      "d23 and d22 disagree on cluster assignment — the shared-unit claim is false")
  }

  // ---------------------------------------------------------------- g11

  test("g11: scores positive, bounded, ordered; no returned pair is an existing edge") {
    val rows = q("g11_link_prediction").collect()
    assert(rows.nonEmpty)
    // RA weight per common neighbor is 1e6 div deg(w) with deg(w)>=2
    // (a wedge center has two distinct neighbors), so ra_fp <=
    // 500000 * common_cnt and >= common_cnt * (1e6 div 256).
    rows.foreach { r =>
      val (cc, ra) = (r.getLong(2), r.getLong(3))
      assert(cc >= 1L && ra >= cc * (1000000L / 256) && ra <= cc * 500000L,
        s"row $r breaks the per-neighbor weight bounds")
    }
    val scores = rows.map(r => (r.getLong(3), r.getLong(2)))
    assert(scores.zip(scores.tail).forall { case (a, b) =>
      a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)
    }, "output not ordered by (ra_fp desc, common_cnt desc)")
  }

  test("g11: driver-side brute-force replay agrees at spec scale") {
    // Independent formulation: collect the sf0.001 co-purchase edge
    // list, compute capped-RA over adjacency maps in plain Scala,
    // compare the full top-100 (total order, so comparable exactly).
    val ip = Tables.load(spark, sfDir, "lineitem")
      .filter($"l_quantity" >= 30)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    val und = ip.as("a").join(ip.as("b"), "ok")
      .where($"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
    und.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    val edgeSet = und.toSet
    val score = scala.collection.mutable.HashMap.empty[(Long, Long), (Long, Long)]
    adj.foreach { case (w, nbs) =>
      val deg = nbs.size.toLong
      if (deg <= 256) {
        val wgt = 1000000L / deg
        val sorted = nbs.toSeq.sorted
        for (i <- sorted.indices; j <- (i + 1) until sorted.size) {
          val k = (sorted(i), sorted(j))
          val (c0, r0) = score.getOrElse(k, (0L, 0L))
          score(k) = (c0 + 1L, r0 + wgt)
        }
      }
    }
    val expect = score.toSeq
      .collect { case ((u, v), (cc, ra)) if !edgeSet.contains((u, v)) => (u, v, cc, ra) }
      .sortBy { case (u, v, cc, ra) => (-ra, -cc, u, v) }
      .take(100)
    val got = q("g11_link_prediction").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect, "distributed capped-RA diverged from the driver replay")
  }

  // ---------------------------------------------------------------- t25

  test("t25: per-source budgets respected with bounded overshoot; seeded order reproducible") {
    val cap = 800L
    val out = q("t25_source_cap").cache()
    val perSrc = out.groupBy($"source")
      .agg(sum($"n_tokens").as("kept"), max($"n_tokens").as("mx"),
        max($"cum_before" + $"n_tokens").as("fin"))
    // greedy-fill bound: kept total < cap + the largest kept doc
    assert(perSrc.where($"kept" >= lit(cap) + $"mx").count() === 0L,
      "a source overshot its budget by more than one doc")
    // chain identity: the max exclusive+own total equals the kept sum
    assert(perSrc.where($"fin" =!= $"kept").count() === 0L,
      "cum_before chain does not reconstruct the kept token totals")
    // every source keeps at least one doc (first doc always admitted)
    val docs = Tables.load(spark, sfDir, "documents")
    assert(out.select($"source").distinct().count() ===
      docs.select($"source").distinct().count())
    // deterministic: a second evaluation is row-identical
    val again = q("t25_source_cap")
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    out.unpersist()
  }

  test("t25: the kept set is exactly the greedy prefix in seeded-hash order") {
    // driver replay: per source, sort by (hash60(doc_id#cap11),
    // doc_id) and fill to the cap — must equal the query's kept ids
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"source", $"doc_id",
        size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long").as("nt"),
        graft.functions.PortableHash.hash60(
          concat($"doc_id".cast("string"), lit("#cap11"))).as("hk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var acc = 0L
      rows.sortBy(r => (r._4, r._2)).flatMap { case (_, id, nt, _) =>
        if (acc < 800L) { acc += nt; Some(id) } else None
      }
    }.toSet
    val got = q("t25_source_cap").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect, "kept set diverged from the driver greedy replay")
  }

  // ---------------------------------------------------------------- s10 / X14

  test("X14 signPack60: first-principles replay on real embeddings + null edges") {
    val rows = Tables.load(spark, sfDir, "embeddings")
      .orderBy($"vec_id").limit(50)
      .select($"vec_id", $"embedding",
        graft.functions.GraftExpressions.signPack60($"embedding").as("sig"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val emb = r.getSeq[Float](1)
      var expect = 0L
      (0 until 60).foreach(j => if (emb(j) > 0f) expect |= (1L << j))
      assert(r.getLong(2) === expect, s"vec ${r.getLong(0)}: sign word diverged")
      assert((r.getLong(2) >>> 60) === 0L, "top nibble must stay zero")
    }
    // arrays under 60 elements are null, not garbage; and the SQL
    // registration surface serves the same expression
    graft.functions.GraftExtensions.register(spark)
    val s2 = spark.sql(
      "SELECT sign_pack60(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT))) AS s")
    assert(s2.head().isNullAt(0))
  }

  test("s10: driver-side full replay — Hamming candidates and cosine rerank agree") {
    val all = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def pack(v: Array[Float]): Long = {
      var h = 0L; (0 until 60).foreach(j => if (v(j) > 0f) h |= (1L << j)); h
    }
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val sigs = all.map { case (id, v) => (id, pack(v)) }.toMap
    val probes = all.sortBy(_._1).take(10)
    val expect = probes.flatMap { case (pid, pv) =>
      val cand = all.filter(_._1 != pid)
        .map { case (nid, _) => (nid, java.lang.Long.bitCount(sigs(pid) ^ sigs(nid))) }
        .sortBy { case (nid, h) => (h, nid) }.take(50)
      val byId = all.toMap
      cand.map { case (nid, h) => (pid, nid, h, cosine(pv, byId(nid))) }
        .sortBy { case (_, nid, _, cos) => (-cos, nid) }.take(5)
        .zipWithIndex
        .map { case ((p, n, h, cos), i) =>
          (p, i + 1, n, h, BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.toSeq
    val got = q("s10_sign_sketch_rerank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toSeq
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ===
      expect.map(t => (t._1, t._2, t._3, t._4)),
      "sketch candidates / rerank ranking diverged from the driver replay")
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._5 - e._5) < 2e-6, s"cosine drifted: $g vs $e")
    }
  }

  // ---------------------------------------------------------------- q67

  test("q67 funnel: driver-side replay with lexicographic (ts_us, event_id) order") {
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", unix_micros($"ts").as("tu"), $"event_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = ev.groupBy(_._1).map { case (uid, rows) =>
      def firstOf(typ: String, after: Option[(Long, Long)]): Option[(Long, Long)] = {
        val cands = rows.filter(_._4 == typ)
          .map(r => (r._2, r._3))
          .filter(k => after.forall(a => k._1 > a._1 || (k._1 == a._1 && k._2 > a._2)))
        if (cands.isEmpty) None else Some(cands.min)
      }
      val v = firstOf("view", None)
      val c = if (v.isDefined) firstOf("click", v) else None
      val p = if (c.isDefined) firstOf("purchase", c) else None
      (uid, v.map(_._1), c.map(_._1), p.map(_._1),
        v.size + c.size + p.size)
    }.toSeq.sortBy(_._1)
    val got = q("q67_funnel").collect().map { r =>
      def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getLong(0), optL(1), optL(2), optL(3), r.getInt(4))
    }.toSeq
    assert(got === expect, "funnel stages diverged from the driver replay")
    // monotonicity is structural: reached counts prefix stages only
    assert(got.forall { case (_, v, c, p, n) =>
      (c.isEmpty || v.nonEmpty) && (p.isEmpty || c.nonEmpty) &&
        n == v.size + c.size + p.size
    })
  }

  // ---------------------------------------------------------------- s11

  test("s11 MMR: driver-side greedy replay agrees; structure sound") {
    // exact replay: same fused fold, same ppm rounding, same integer
    // greedy — the selection sequence must match step for step
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def ppm(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val all = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val byId = all.toMap
    val probes = all.sortBy(_._1).take(10)
    val expect = probes.flatMap { case (pid, pv) =>
      val pool = all.filter(_._1 != pid)
        .map { case (nid, nv) => (nid, ppm(cos(pv, nv))) }
        .sortBy { case (nid, rel) => (-rel, nid) }.take(20)
      var selected = List.empty[(Long, Long, Int, Long)] // n_id, rel, rank, score
      (1 to 5).foreach { r =>
        val picked = selected.map(_._1).toSet
        val scored = pool.filterNot(c => picked(c._1)).map { case (nid, rel) =>
          val msim = if (selected.isEmpty) 0L
            else selected.map(s => ppm(cos(byId(nid), byId(s._1)))).max
          (nid, rel, rel * 7 - 3 * msim)
        }
        val (nid, rel, sc) = scored.minBy { case (n, _, s) => (-s, n) }
        selected = selected :+ ((nid, rel, r, sc))
      }
      selected.map { case (nid, rel, r, sc) => (pid, r, nid, rel, sc) }
    }.toSeq
    val got = q("s11_mmr_diversify").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect, "MMR selection sequence diverged from the driver greedy replay")
    // structure: 5 distinct picks per probe; rank-1 is the pure
    // relevance argmax (score_x10 == 7*rel_ppm)
    got.groupBy(_._1).foreach { case (pid, rows) =>
      assert(rows.map(_._3).distinct.length == 5, s"probe $pid repeated a pick")
      val r1 = rows.find(_._2 == 1).get
      assert(r1._5 == 7 * r1._4, s"probe $pid rank-1 is not the relevance argmax")
    }
  }

  // ---------------------------------------------------------------- q68

  test("q68 retention: k=0 row is the full cohort; rates bounded; driver replay agrees") {
    val got = q("q68_retention_cohorts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    // week-0 retention is definitionally 100%
    got.filter(_._2 == 0L).foreach { case (cw, _, n, size, ppm) =>
      assert(n == size && ppm == 1000000L, s"cohort $cw week-0 row is not full")
    }
    assert(got.forall { case (_, k, n, size, ppm) =>
      k >= 0 && n >= 1 && n <= size && ppm == 1000000L * n / size
    })
    // independent driver replay
    val wkUs = 604800000000L
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", unix_micros($"ts").as("tu")).collect()
      .map(r => (r.getLong(0), Math.floorDiv(r.getLong(1), wkUs)))
    val uw = ev.distinct
    val cohort = uw.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val sizes = cohort.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val expect = uw.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .map { case ((c, k), xs) =>
        (c, k, xs.size.toLong, sizes(c), 1000000L * xs.size / sizes(c))
      }.toSeq.sortBy(t => (t._1, t._2))
    assert(got.toSeq === expect, "retention matrix diverged from the driver replay")
  }
}
