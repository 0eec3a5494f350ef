package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-10 batch: local clustering coefficient (g09), the rollup hierarchy
  * (q63), the cross-source near-dup matrix (d21), and the embedding
  * truncation audit (e09).
  *
  * The oracle gates pin full-query value parity against DuckDB; these
  * specs pin the contracts the oracles can't see — hand-traced
  * triangle counts and the orientation's exactly-once guarantee, the
  * rollup's internal consistency (leaves sum to subtotals sum to the
  * grand total), the matrix's mass-conservation tie to d02's verified
  * pair list, and the truncation audit's fixed points.
  */
class Round10OpsSpec extends SparkTestBase {

  import spark.implicits._

  test("g09 engine (clustering numerator): hand-traced triangles on K4 + pendant, counted exactly once per corner") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5-1
    // (degree 1, zero triangles). Build the same plan shape as g09
    // from a literal edge list by mirroring its operator chain.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
      .toDF("u", "v")
    val deg = und.select($"u".as("node")).unionAll(und.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).cast("long").as("deg"))
    val withDeg = und
      .join(deg.select($"node".as("u"), $"deg".as("du")), "u")
      .join(deg.select($"node".as("v"), $"deg".as("dv")), "v")
    val oriented = withDeg.select(
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("src"),
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("dst"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
      .select($"x.src".as("apex"), $"x.dst".as("b"), $"y.dst".as("c"))
    val tris = wedges.join(und, $"b" === $"u" && $"c" === $"v")
      .select($"apex", $"b", $"c")
    // 4 triangles total, found once each (no double counting)
    assert(tris.count() == 4L)
    assert(tris.distinct().count() == 4L)
    val perNode = tris.select(explode(array($"apex", $"b", $"c")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perNode == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $perNode")
  }

  test("g09 on the corpus graph: clustering_fp bounded, degree-1 nodes at zero") {
    val rows = graft.SparkEntry.queries("g09_clustering_coeff")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (deg, nTri, cfp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(cfp >= 0L && cfp <= 1000000L, s"clustering out of [0,1]: $r")
      if (deg < 2) assert(nTri == 0L && cfp == 0L, s"deg<2 node with triangles: $r")
      // n_tri can never exceed the wedge count at the node
      assert(nTri <= deg * (deg - 1) / 2, s"more triangles than wedges: $r")
    }
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
  }

  test("q63 rollup: leaves sum to flag subtotals sum to the grand total, gid levels complete") {
    val rows = graft.SparkEntry.queries("q63_rollup_cube")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getLong(5)))
    val leaves = rows.filter(_._1 == 0L)
    val flags = rows.filter(_._1 == 1L)
    val grand = rows.filter(_._1 == 3L)
    assert(grand.length == 1, s"exactly one grand total, got ${grand.length}")
    assert(flags.forall(_._3 == "ALL") && grand.forall(t => t._2 == "ALL" && t._3 == "ALL"))
    // count conservation at every level (doubles compared via counts
    // — exact; the qty sums are oracle-gated)
    assert(leaves.map(_._5).sum == grand.head._5)
    flags.foreach { f =>
      assert(leaves.filter(_._2 == f._2).map(_._5).sum == f._5,
        s"flag ${f._2} subtotal drifted")
    }
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
  }

  test("d21 conserves d02's verified pairs: matrix mass == the dup-pair list length") {
    val matrix = graft.SparkEntry.queries("d21_cross_source_dup")(spark, sfDir).collect()
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
    val d02Pairs = graft.SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sfDir).count()
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
    assert(matrix.map(_.getLong(2)).sum == d02Pairs,
      s"matrix mass ${matrix.map(_.getLong(2)).sum} != d02 pair count $d02Pairs")
    // unordered crediting: src_a <= src_b everywhere
    assert(matrix.forall(r => r.getString(0) <= r.getString(1)))
  }

  test("q64: GK rank error within n/accuracy against a driver-side exact sort") {
    val out = graft.SparkEntry.queries("q64_quantile_sketch")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6), s"bound verdict false: $r")
    }
    // numeric rank error, independent of the query's own window check:
    // re-run the sketch standalone and rank its outputs in the exact
    // sorted values (rank = count of values <= ap)
    val acc = 1000
    val li = graft.tables.Tables.load(spark, sfDir, "lineitem")
      .select($"l_returnflag".as("flag"), $"l_extendedprice".as("x"))
    val ap = li.groupBy($"flag")
      .agg(expr(s"approx_percentile(x, array(0.5D, 0.9D, 0.99D), $acc)").as("ap"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val byFlag = li.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((flag, aps) <- ap; (p, v) <- Seq(0.5, 0.9, 0.99).zip(aps)) {
      val xs = byFlag(flag)
      val n = xs.length.toDouble
      // tolerance 2·n/acc (+1 for the discrete-rank edge): partial-
      // summary merges can exceed the one-pass eps·n bound (measured
      // 1.02x at this sf) — same window the query itself gates
      val rank = xs.count(_ <= v)
      assert(math.abs(rank - p * n) <= 2.0 * n / acc + 1,
        s"$flag p=$p: rank $rank vs target ${p * n} exceeds ${2.0 * n / acc}")
    }
  }

  test("d22: no verified dup pair straddles a split; full coverage; all splits populated") {
    val split = graft.SparkEntry.queries("d22_leakage_safe_split")(spark, sfDir).cache()
    try {
      // coverage: one row per document
      val nDocs = graft.tables.Tables.load(spark, sfDir, "documents").count()
      assert(split.count() == nDocs)
      // every cluster maps to exactly one split (split is a pure
      // function of cluster_id — pins the regression where someone
      // hashes doc_id instead)
      val perCluster = split.groupBy($"cluster_id")
        .agg(countDistinct($"split").as("k")).agg(max($"k")).head().getLong(0)
      assert(perCluster == 1L)
      // THE leakage property, checked against the raw pair list (not
      // the cluster labels): both endpoints of every verified
      // near-dup pair land in the same split
      val dupPairs = graft.SparkEntry.queries("d04_dedup_ngram_jaccard")(spark, sfDir)
        .select($"id_a", $"id_b")
      val straddling = dupPairs
        .join(split.select($"doc_id".as("id_a"), $"split".as("split_a")), "id_a")
        .join(split.select($"doc_id".as("id_b"), $"split".as("split_b")), "id_b")
        .where($"split_a" =!= $"split_b")
        .count()
      assert(straddling == 0L, s"$straddling dup pairs straddle splits")
      // all three splits populated and roughly 80/10/10
      val frac = split.groupBy($"split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(frac.keySet == Set("train", "val", "test"))
      assert(frac("train") > frac("val") && frac("train") > frac("test"))
    } finally split.unpersist()
  }

  test("t23 engine: hand-traced add-1 bigram cross-entropy on a literal corpus") {
    // corpus: d1 = "a b a", d2 = "a b". cnt(a,b)=2, cnt(b,a)=1;
    // tot(a)=2, tot(b)=1; V=2. p(a,b)=(2+1)/(2+2)=3/4,
    // p(b,a)=(1+1)/(1+2)=2/3. h(d1) = -(ln(3/4)+ln(2/3))/2,
    // h(d2) = -ln(3/4). Mirrors t23's operator chain on a literal
    // frame (the g09-spec pattern) so the smoothing arithmetic is
    // pinned independent of the documents table.
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val bi = docs.select($"doc_id", explode(
        graft.functions.GraftExpressions.wordShingles($"text", 2, distinct = false)).as("bg"))
      .select($"doc_id",
        split($"bg", " ").getItem(0).as("w1"), split($"bg", " ").getItem(1).as("w2"))
    val cnt = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy($"w1").agg(sum($"c").as("tot"))
    val vocab = docs.select(explode(split($"text", " ")).as("wrd"))
      .agg(countDistinct($"wrd").as("v"))
    val h = bi.join(cnt, Seq("w1", "w2"), "left").join(tot, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log(coalesce($"c", lit(0L)).cast("double") + 1.0) -
        log(coalesce($"tot", lit(0L)).cast("double") + $"v".cast("double")))
      .groupBy($"doc_id").agg((-sum($"lp") / count(lit(1))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected1 = -(math.log(3.0 / 4) + math.log(2.0 / 3)) / 2
    val expected2 = -math.log(3.0 / 4)
    assert(math.abs(h(1L) - expected1) < 1e-12)
    assert(math.abs(h(2L) - expected2) < 1e-12)
  }

  test("t23: h positive, n_bi = word count - 1, short docs dropped") {
    val out = graft.SparkEntry.queries("t23_perplexity_filter")(spark, sfDir)
    val docs = graft.tables.Tables.load(spark, sfDir, "documents")
      .select($"doc_id",
        size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long").as("nw"))
    val joined = out.join(docs, Seq("doc_id"), "right").cache()
    try {
      // docs with >= 2 words appear with n_bi = nw - 1; shorter drop
      assert(joined.where($"nw" >= 2 && ($"n_bi".isNull || $"n_bi" =!= $"nw" - 1)).count() == 0)
      assert(joined.where($"nw" < 2 && $"n_bi".isNotNull).count() == 0)
      assert(joined.where($"h" <= 0.0).count() == 0)
    } finally joined.unpersist()
  }

  test("q65 engine: LWW compaction hand trace — tombstone ordering, event_id tiebreak, n_ops") {
    // key (1,10): upsert then tombstone -> key disappears
    // key (1,20): tombstone then upsert -> survives with the upsert
    // key (2,30): two ops at the SAME ts -> event_id breaks the tie
    val log = Seq(
      (1L, 10L, 100L, 1L, "view", 1.0),
      (1L, 10L, 200L, 2L, "error", 0.0),
      (1L, 20L, 100L, 3L, "error", 0.0),
      (1L, 20L, 200L, 4L, "click", 5.0),
      (2L, 30L, 100L, 5L, "view", 1.0),
      (2L, 30L, 100L, 6L, "purchase", 2.0)
    ).toDF("user_id", "k", "ts_us", "event_id", "event_type", "value")
    val out = log.groupBy($"user_id", $"k")
      .agg(max(struct($"ts_us", $"event_id", $"event_type", $"value")).as("last"),
        count(lit(1)).as("n_ops"))
      .where($"last.event_type" =!= "error")
      .select($"user_id", $"k", $"last.event_type".as("op"), $"last.value".as("v"), $"n_ops")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(3), r.getLong(4))).toMap
    assert(!out.contains((1L, 10L)), "tombstoned key must disappear")
    assert(out((1L, 20L)) == ("click", 5.0, 2L), "late upsert must override earlier tombstone")
    assert(out((2L, 30L)) == ("purchase", 2.0, 2L), "event_id must break same-ts ties")
  }

  test("m08 engine: the same raster under png and jpeg containers decodes to identical bodies") {
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val body = "The quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    // format-true headers as imagePayloads builds them (16x16 dims)
    val png = hx("89504E470D0A1A0A0000000D49484452" + "00000010" + "00000010" +
      "0806000000" + "00000000") ++ body
    val jpg = hx("FFD8FFC00011" + "08" + "0010" + "0010" + "03012200021101031101") ++ body
    val rows = graft.operators.Multimodal.decodeBodies(
        Seq((1L, png), (2L, jpg)).toDF("doc_id", "payload"))
      .collect().map(r => r.doc_id -> (r.format, r.body_hex)).toMap
    assert(rows(1L)._1 == "png" && rows(2L)._1 == "jpeg")
    // the whole point: the header is excluded, the fingerprint input
    // is identical — a raw-blob hash would see two unrelated files
    assert(rows(1L)._2 == rows(2L)._2)
    assert(rows(1L)._2.length == body.length * 2)
  }

  test("m08: verified pairs only, ordered, and cross-container dups are found") {
    val out = graft.SparkEntry.queries("m08_container_invariant_dup")(spark, sfDir).cache()
    try {
      assert(out.count() > 0)
      assert(out.where($"jaccard" < 0.4).count() == 0)
      assert(out.where($"id_a" >= $"id_b").count() == 0)
      // the rows this operator exists for: same/near-same raster in
      // DIFFERENT containers (format = doc_id % 3, so near-dup docs
      // routinely land in different containers)
      assert(out.where($"cross_container").count() > 0)
    } finally out.unpersist()
  }

  test("e09: widths complete, overlaps in [0,1], and a full-width control hits exactly 1") {
    val rows = graft.SparkEntry.queries("e09_truncation_quality")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.keySet == Set(8L, 16L, 32L), s"widths drifted: ${rows.keySet}")
    assert(rows.values.forall(v => v >= 0.0 && v <= 1.0))
    // (round 17) global clearCache removed: suites run concurrently on a shared session, and clearing the GLOBAL cache yanks other suites' in-flight cached frames
    // control: truncating at the FULL width must reproduce the exact
    // top-5 (overlap 1.0) — pins that the truncated ranking machinery
    // itself introduces no drift (ties, slicing, ordering)
    import org.apache.spark.sql.expressions.Window
    val e = graft.tables.Tables.load(spark, sfDir, "embeddings")
    val probes = e.orderBy($"vec_id").limit(5)
      .select($"vec_id".as("p_id"), $"embedding".as("pe"))
    val joined = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
      .join(broadcast(probes), $"n_id" =!= $"p_id")
    val w = Window.partitionBy($"p_id").orderBy($"c".desc, $"n_id")
    def top5(c: org.apache.spark.sql.Column) = joined.withColumn("c", c)
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select($"p_id", $"n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = top5(graft.functions.VectorFunctions.cosine("pe", "ne"))
    val truncFull = top5(graft.functions.GraftExpressions.cosineSim(
      expr("slice(pe, 1, 64)"), expr("slice(ne, 1, 64)")))
    assert(full == truncFull && full.nonEmpty)
  }
}
