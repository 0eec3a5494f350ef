package graft.examples

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY §1's load-bearing claim, made measurable: because every
  * workflow cell returns a LAZY DataFrame, resolving a route composes
  * ONE Catalyst plan across all upstream cells — so a predicate
  * declared in a downstream cell lands in the upstream cell's parquet
  * scan (PushedFilters), and a downstream aggregation prunes columns
  * the upstream cell computed (ReadSchema). The reference's eager
  * per-node execution structurally cannot do either.
  */
class DataPipelineSpec extends SparkTestBase {

  private lazy val wkf = DataPipeline.build(spark, sfDir)

  private def docScan(df: DataFrame) = {
    df.collect()
    val scan = fileScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
    assert(scan.isDefined, "no documents scan in the executed plan")
    scan.get
  }

  test("a filter declared 2 cells downstream reaches the scan's PushedFilters") {
    val df = wkf.run("docs.lang.de").asInstanceOf[DataFrame]
    val pushed = docScan(df).metadata("PushedFilters")
    assert(pushed.contains("EqualTo(lang,de)"), s"PushedFilters: $pushed")
    assert(df.count() > 0, "the de slice must be non-empty for the pin to bite")
  }

  test("a downstream aggregation prunes upstream-computed columns from the scan") {
    val df = wkf.run("docs.langstats.de").asInstanceOf[DataFrame]
    val schema = docScan(df).metadata("ReadSchema")
    // docs.clean rewrites text, but the stats route never reads it —
    // project elimination must drop it from the physical scan
    assert(!schema.contains("text"), s"ReadSchema still reads text: $schema")
    assert(schema.contains("lang"), s"ReadSchema: $schema")
  }

  test("a lang filter in the TERMINAL export cell reaches the scan through 7 cells") {
    // raw → clean → quality → dedup → canonical → sample → packed →
    // export: every intermediate cell is pushdown-transparent (anti
    // joins on doc_id, windows PARTITIONED on lang — dedup keys
    // (h, lang) precisely so this predicate can cross it, row-local
    // filters), so the terminal predicate must land in the parquet
    // scan — SURVEY §1's thesis at full pipeline width
    val df = wkf.run("docs.export.de").asInstanceOf[DataFrame]
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
    assert(scans.nonEmpty, "no documents scan in the export plan")
    val pushed = scans.map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(lang,de)")),
      s"lang filter did not reach any documents scan: $pushed")
    assert(df.count() > 0, "the de export must be non-empty for the pin to bite")
  }

  /** The repetition rule in its (doc, 3-gram) count form — one row
    * per 3-gram occurrence, a count per (doc, gram), then distinct
    * grams over occurrences per doc, joined back as a keep verdict —
    * kept as the reference that [[DataPipeline.qualityGate]] must
    * agree with.
    */
  private def countFormGate(in: DataFrame): DataFrame = {
    val shape = in
      .withColumn("_nw", size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long"))
      .where(col("_nw") >= 20 && col("_nw") <= 100000)
      .drop("_nw")
    val rep = shape
      .select(col("doc_id"), explode(
        graft.functions.GraftExpressions.wordShingles(col("text"), 3, distinct = false)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((lit(1.0) - count(lit(1)).cast("double") / sum(col("c"))).as("dup_frac"))
      .where(col("dup_frac") < 0.3)
      .select(col("doc_id"))
    shape.join(rep, Seq("doc_id"), "left_semi")
  }

  private def keptIds(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  test("docs.quality keeps the (doc, 3-gram) count form's docs on the sf0.01 corpus") {
    // the oracle-scale corpus sits next to the spec-scale one
    val sf = DataPipeline.build(spark, new java.io.File(sfDir).getParent + "/sf0.01")
    val clean = sf.run("docs.clean").asInstanceOf[DataFrame]
    val got = keptIds(sf.run("docs.quality").asInstanceOf[DataFrame])
    val expected = keptIds(countFormGate(clean))
    assert(got == expected,
      s"only new: ${(got -- expected).take(5)}, only reference: ${(expected -- got).take(5)}")
    // both rules must bite for the agreement to mean anything
    assert(got.nonEmpty && got.size < clean.count(), s"kept ${got.size}")
  }

  test("docs.quality agrees with the count form at the rule boundaries") {
    import spark.implicits._
    def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i")
    // 22 words, 20 3-grams of which 14 are distinct: distinct/total is
    // 0.7, so dup_frac sits exactly on the 0.3 bound and the strict
    // '<' drops it, in either form's IEEE arithmetic
    val atBound = (words(13, "u") ++ Seq.fill(9)("r")).mkString(" ")
    val grams = atBound.split(" ").sliding(3).map(_.mkString(" ")).toSeq
    assert(grams.size == 20 && grams.distinct.size == 14)
    // 4 of 22 3-grams repeat (dup_frac ~ 0.18): kept
    val under = (words(17, "v") ++ Seq.fill(7)("r")).mkString(" ")
    val rows = Seq(
      1L -> Some(atBound),
      2L -> Some(under),
      3L -> Some(words(19, "w").mkString(" ")),
      4L -> Some(words(20, "w").mkString(" ")),
      5L -> Some(words(20, "x").mkString("  ", "   ", " ")),
      6L -> Some(words(19, "y").mkString("    ", "  ", "  ")),
      7L -> None
    ).toDF("doc_id", "text")
    val got = keptIds(DataPipeline.qualityGate(rows))
    assert(got == keptIds(countFormGate(rows)))
    assert(got == Set(2L, 4L, 5L), s"kept $got")
  }

  test("docs.quality is one row-local filter: no exchange, no generator, one 3-gram build") {
    val df = wkf.run("docs.quality").asInstanceOf[DataFrame]
    df.collect()
    val nodes = planNodes(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
      s"exchange in the quality plan:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      s"generator in the quality plan:\n$plan")
    // the scan's DataFilters only list the pushed-down predicate (no
    // parquet filter can evaluate it); the Filter node evaluates it
    val shingles = nodes
      .filterNot(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      .flatMap(_.expressions.flatMap(_.collect { case w: graft.functions.WordShingles => w }))
    assert(shingles.size == 1, s"${shingles.size} 3-gram builds in the quality plan:\n$plan")
  }

  test("pinCanonical exercises the materialization policy over the composed DAG") {
    // default build: one fused plan — the packed route reads parquet
    // directly, no in-memory relation anywhere
    val fused = wkf.run("docs.packed").asInstanceOf[DataFrame]
    fused.collect()
    assert(!fused.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "default build must stay one fused plan")
    // pinned build: the canonical cell is cached, so the packed route
    // consumes the pinned intermediate instead of recomputing the
    // upstream chain — the cache/checkpoint trade made per-cell (C9)
    val pinned = DataPipeline.build(spark, sfDir, pinCanonical = true)
    val packed = pinned.run("docs.packed").asInstanceOf[DataFrame]
    packed.collect()
    assert(packed.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "pinned build must consume the cached canonical cell")
    assert(packed.count() == fused.count(), "policy must not change results")
    spark.catalog.clearCache()
  }

  test("the divergence cell routes t19's core over the cleaned corpus") {
    val div = wkf.run("docs.divergence").asInstanceOf[DataFrame].collect()
    val nShards = wkf.run("docs.clean").asInstanceOf[DataFrame]
      .select(countDistinct(col("source"))).head.getLong(0)
    assert(div.length == nShards * (nShards - 1) / 2,
      s"${div.length} pairs for $nShards shards")
    div.foreach { r =>
      val js = r.getDouble(2)
      assert(js >= 0.0 && js <= math.log(2) + 1e-9, s"JS out of range: $r")
    }
  }

  test("the decontam cell measures every canonical train doc against the eval shard") {
    val dec = wkf.run("docs.decontam").asInstanceOf[DataFrame]
    val canonical = wkf.run("docs.canonical").asInstanceOf[DataFrame]
    // one row per measurable (>= 3 words) canonical non-eval doc
    val expected = canonical
      .filter(col("doc_id") % 10 =!= 0)
      .filter(size(expr("filter(split(text, ' '), x -> x <> '')")) >= 3)
      .count()
    assert(dec.count() == expected)
    val bad = dec.filter(col("n_hit") > col("n_spans") ||
      (col("contaminated") === 1) =!= (col("n_hit") * 2 >= col("n_spans"))).count()
    assert(bad == 0, "flag must follow the exact-integer threshold")
  }

  test("the vecs.sample cell draws a bounded, cluster-balanced subset") {
    val vs = wkf.run("vecs.sample").asInstanceOf[DataFrame].collect()
    assert(vs.length <= 32 && vs.length > 0)
    val perCell = vs.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perCell.values.forall(_ <= 4), s"quota violated: $perCell")
  }

  test("the sinks cell fans the corpus out through three routed formats") {
    val out = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    wkf.run(s"docs.sinks.$out")
    val packed = spark.read.parquet(s"$out/packed")
    val stats = spark.read.option("header", "true").csv(s"$out/langstats")
    val bins = spark.read.json(s"$out/bins")
    assert(packed.count() > 0)
    // hive layout by lang: per-lang directories under packed/
    assert(new java.io.File(s"$out/packed").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("lang=")))
    assert(stats.count() == packed.select("lang").distinct().count())
    assert(bins.agg(sum(col("bin_tokens"))).head().getLong(0) ==
      packed.agg(sum(col("n_tokens"))).head().getLong(0),
      "bin manifest must conserve the packed token total")
  }

  test("the packed route runs end-to-end through the routed sink and round-trips") {
    val packed = wkf.run("docs.packed").asInstanceOf[DataFrame]
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline-out").toString
    graft.sinks.RoutedSink.standard().write(s"parquet:$out/packed:by:lang", packed)
    val back = spark.read.parquet(s"$out/packed")
    assert(back.count() == packed.count() && packed.count() > 0)
    // per-bin budget invariant survives the round-trip: a bin's sum
    // minus its largest doc stays under the budget (sum < 512 + last
    // doc's tokens by construction)
    val over = back.groupBy(col("lang"), col("bin_id"))
      .agg(sum(col("n_tokens")).as("s"), max(col("n_tokens")).as("mx"))
      .filter(col("s") - col("mx") >= 512L)
    assert(over.isEmpty, "a bin exceeds budget + one row")
  }

  // ------------------------------------------------- round-12 cells

  test("the soft-dedup branch carries weight/split columns into the O40 shards") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-shards12").toString
    val shardDir = wkf.run(s"docs.shards.$outDir").asInstanceOf[String]
    val sf = graft.operators.ShardLayout.readShuffledShards(spark, shardDir)
    val cols = sf.columns.toSet
    Seq("weight_ppm", "split", "cluster_id", "n_members").foreach(c =>
      assert(cols.contains(c), s"shard layout lost curation column $c: $cols"))
    assert(sf.count() > 0)
    // d23's weight rule holds row-for-row in the WRITTEN layout
    assert(sf.where(col("weight_ppm") =!= expr("1000000L div n_members")).count() == 0,
      "weight_ppm must be exactly 1e6 div n_members in the shards")
    // d22's leakage guarantee survives into the layout: no cluster
    // straddles a split boundary
    val straddle = sf.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("ns")).where(col("ns") > 1)
    assert(straddle.isEmpty, "a dup cluster straddles split boundaries in the shards")
    // the soft path KEEPS near-dups (downweighted) instead of
    // dropping them — the point of the branch
    assert(sf.where(col("weight_ppm") < 1000000L).count() > 0,
      "expected downweighted near-dup members in the shard layout")
  }

  test("the token-shard terminal carries curation columns on every fixed-length sample") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-tokshards12").toString
    val shardDir = wkf.run(s"docs.tokenshards.$outDir").asInstanceOf[String]
    val sf = graft.operators.ShardLayout.readShuffledShards(spark, shardDir)
    val cols = sf.columns.toSet
    Seq("ids", "n_real", "sample_id", "weight_ppm", "split", "cluster_id").foreach(c =>
      assert(cols.contains(c), s"token shards lost column $c: $cols"))
    assert(sf.count() > 0)
    // loader contract: every sample exactly 64 ids, pads only past n_real
    assert(sf.filter(size(col("ids")) =!= 64).count() == 0)
    // the curation columns are the DOC's values, window-for-window:
    // every (doc, weight, split) combination in the shards must exist
    // in the capped corpus (no drift through the explode)
    val capped = wkf.run("docs.capped").asInstanceOf[DataFrame]
      .select(col("doc_id"), col("weight_ppm"), col("split"))
    val drift = sf.select(col("doc_id"), col("weight_ppm"), col("split")).distinct()
      .exceptAll(capped)
    assert(drift.isEmpty, "a token sample carries weight/split its doc does not have")
    // every encodable capped doc produced at least one sample
    val nDocs = sf.select(col("doc_id")).distinct().count()
    val nCapped = capped.count()
    assert(nDocs == nCapped,
      s"expected every capped doc tokenized ($nDocs of $nCapped present)")
  }

  test("the serving half: changelog -> merge -> readMerged; the pinned seed epoch survives the publish") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-serve13").toString
    // ONE workflow run resolves seed -> repair: epoch 1 = the seeded
    // corpus, epoch 2 = after the changelog (tombstoned recalls +
    // re-weighted de docs), both published through the routed S7
    // merge: sink
    val servedPath = wkf.run(s"docs.serve.repair.$outDir").asInstanceOf[String]
    val epochs = graft.operators.ShardLayout.shardVersions(spark, servedPath)
    assert(epochs.size == 2, s"expected seed+repair epochs, got $epochs")
    val capped = wkf.run("docs.capped").asInstanceOf[DataFrame]
      .drop("n_grp", "cum_before").cache()
    val nCapped = capped.count()
    val nTomb = capped.where(col("doc_id") % 19 === 0).count()
    assert(nTomb > 0, "corpus has no recall targets — the repair is vacuous")

    // CURRENT (through the workflow's reader cell): recalls gone,
    // de docs re-weighted, everything else byte-stable
    val cur = wkf.run(s"docs.serve.read.$outDir").asInstanceOf[DataFrame].cache()
    assert(cur.count() == nCapped - nTomb)
    assert(cur.where(col("doc_id") % 19 === 0).isEmpty, "a recalled doc is still served")
    val deDrift = cur.where(col("lang") === "de")
      .join(capped.select(col("doc_id"), col("weight_ppm").as("w0")), "doc_id")
      .where(col("weight_ppm") =!= col("w0") * 2)
    assert(deDrift.isEmpty, "a de doc is not exactly re-weighted x2")
    val otherDrift = cur.where(col("lang") =!= "de")
      .select(capped.columns.map(col).toIndexedSeq: _*)
      .exceptAll(capped.where(col("lang") =!= "de" && col("doc_id") % 19 =!= 0))
    assert(otherDrift.isEmpty, "an untouched doc drifted through the merge")

    // the PINNED seed epoch (through the workflow's pinned cell) still
    // reads the pre-repair corpus EXACTLY, after the repair published
    val pinned = wkf.run(s"docs.serve.pinned.${epochs.head}.$outDir")
      .asInstanceOf[DataFrame]
    assert(pinned.count() == nCapped)
    assert(pinned.select(capped.columns.map(col).toIndexedSeq: _*)
      .drop("v", "is_tombstone").exceptAll(capped).isEmpty,
      "the pinned seed epoch does not equal the seeded corpus")
    // a version that never existed fails loudly
    intercept[IllegalArgumentException] {
      graft.operators.ShardLayout.readMergedAt(spark, servedPath, "v9999")
    }
    capped.unpersist(); cur.unpersist()
  }

  test("the retrieval terminal: lexindex cell publishes O51, the search cell probes it") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-lex13").toString
    val hits = wkf.run(s"docs.search.hash+join+table.$outDir")
      .asInstanceOf[DataFrame].cache()
    assert(hits.count() > 0 && hits.count() <= 10)
    // the searchable corpus is the CURATED one: every hit is a capped doc
    val capped = wkf.run("docs.capped").asInstanceOf[DataFrame]
      .select(col("doc_id"))
    assert(hits.select(col("doc_id")).exceptAll(capped).isEmpty,
      "the search cell surfaced a doc the curation dropped")
    // and the stored probe equals the rescan BM25 over the same corpus
    import spark.implicits._
    val q = Seq((1, "hash"), (1, "join"), (1, "table")).toDF("q_id", "term")
    val rescan = graft.operators.Similarity.bm25TopK(
        wkf.run("docs.capped").asInstanceOf[DataFrame].drop("n_grp", "cum_before"), q)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val served = hits
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served == rescan, s"served=${served.size} rescan=${rescan.size}")
    hits.unpersist()
  }

  test("the source cap cell binds and respects the per-source budget") {
    val tempered = wkf.run("docs.tempered").asInstanceOf[DataFrame]
    val capped = wkf.run("docs.capped").asInstanceOf[DataFrame]
    val nT = tempered.count()
    val nC = capped.count()
    assert(nC > 0 && nC < nT, s"cap=600 must bind at sf0.001 (tempered=$nT capped=$nC)")
    // greedy-fill contract: every kept row's EXCLUSIVE prefix is under
    // the cap (the kept row itself may overshoot by < its own length)
    assert(capped.where(col("cum_before") >= 600L).count() == 0)
    // and the kept set is the t25 rule exactly: re-applying the same
    // seeded-hash window to the tempered corpus reproduces it
    val expect = graft.operators.TextAnalysis.sourceCap(
      tempered.withColumn("n_tokens",
        size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long")),
      "source", "doc_id", "n_tokens", cap = 600L, seed = "epoch0cap")
    assert(capped.select(col("doc_id")).exceptAll(expect.select(col("doc_id"))).isEmpty
      && expect.select(col("doc_id")).exceptAll(capped.select(col("doc_id"))).isEmpty)
  }

  test("a lang filter on the tempered cell still reaches the scan through the weighted join and the mix") {
    // the round-12 cells keep the chain pushdown-transparent exactly
    // where semantics permit: the weighted join is doc_id-keyed (adds
    // columns, filters nothing), the mix joins ON lang — so a lang
    // slice lands in the documents scan through clean → quality →
    // dedup (window PARTITIONED on lang) → weighted → tempered. The
    // capped cell is the intentional boundary: its window partitions
    // on source, and a non-source predicate CANNOT commute with a
    // per-source global budget (filter-then-cap keeps different docs
    // than cap-then-filter), so non-pushdown there is semantic
    // necessity, not a missed optimization.
    val df = wkf.run("docs.tempered").asInstanceOf[DataFrame]
      .where(col("lang") === "de")
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
    assert(scans.nonEmpty, "no documents scan in the tempered plan")
    val pushed = scans.map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(lang,de)")),
      s"lang filter did not reach any documents scan: $pushed")
    assert(df.count() > 0)
  }

  test("admission cells: verdict classes populate; takedown removes the victim's coverage") {
    val out = java.nio.file.Files.createTempDirectory("graft-dp-admit").toString
    def verdicts() = wkf.run(s"docs.admit.$out")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    val v0 = verdicts()
    assert(v0(900001L) == ((0L, "rejected_novelty")), s"copy: ${v0(900001L)}")
    assert(v0(900002L) == ((1000000L, "admitted")), s"fresh: ${v0(900002L)}")
    assert(v0(900003L) == ((-1L, "rejected_quality")), s"spam: ${v0(900003L)}")
    // the t35 url gate: 900004 is quality, novel content that would
    // be admitted on its merits — only its blocked domain keeps it
    // from ever reaching the gram probe
    assert(!v0.contains(900004L),
      s"blocked-domain doc reached admission: ${v0.get(900004L)}")
    val gated = wkf.run("docs.urlgate")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(_.getLong(0)).toSet
    assert(gated == Set(900001L, 900002L, 900003L), s"url gate kept $gated")
    wkf.run(s"docs.takedown.$out")
    val v1 = verdicts()
    // the victim's own counts no longer cover; whatever coverage
    // remains is other standing docs' shared phrases
    assert(v1(900001L)._1 > 0L,
      s"takedown did not remove the victim's coverage: ${v1(900001L)}")
    // a replayed takedown (same id) is a no-op: verdicts stable
    wkf.run(s"docs.takedown.$out")
    assert(verdicts() == v1, "replayed takedown changed verdicts")
  }

  /** Every physical node of an executed plan, through AQE stages and
    * reused exchanges (the final plan only, never AQE's initial one).
    */
  private def planNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: planNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      r +: planNodes(r.child)
    case other => other +: other.children.flatMap(planNodes)
  }

  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    planNodes(plan).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
}
