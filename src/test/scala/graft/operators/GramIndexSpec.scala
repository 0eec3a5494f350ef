package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** O52 persisted gram index: incremental repeated-interval probing
  * equals the batch t28 over the union corpus; append + compaction
  * keep counts coherent.
  */
class GramIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  private def keyed(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("disjoint probe == t28 over the union, restricted to the batch docs") {
    val corpus = docs.where($"doc_id" < 400)
    val batch = docs.where($"doc_id" >= 400)
    assert(batch.count() > 0)
    val dir = tempDir("graft-gramidx").toString
    GramIndex.writeGramIndex(corpus, dir, gram = 8, nBuckets = 16)
    val probe = keyed(GramIndex.probeGramIndex(batch,
      GramIndex.readGramIndex(spark, dir)))
    // the t28 truth over corpus UNION batch (= all docs), batch slice
    val truth = keyed(graft.SparkEntry.queries("t28_suffix_dup")(spark, sfDir)
      .where($"doc_id" >= 400))
    assert(probe == truth && probe.nonEmpty,
      s"incremental probe != batch t28 slice (${probe.size} vs ${truth.size})")
  }

  test("append makes day-2 duplicates visible; compaction preserves probe results") {
    val dir = tempDir("graft-gramidx2").toString
    // seed corpus: two docs with unique-ish text
    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    GramIndex.writeGramIndex(seed, dir, gram = 8, nBuckets = 4)
    // day-2 doc copies doc 1 verbatim: against the seed index its
    // whole token range is a repeated interval
    val day2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val r1 = keyed(GramIndex.probeGramIndex(day2, GramIndex.readGramIndex(spark, dir)))
    assert(r1.exists(_._1 == 10L), s"verbatim copy not flagged: $r1")
    // append day2, then a day-3 doc that copies DAY-2 content (absent
    // from the seed) must be flagged purely via the appended counts
    GramIndex.appendGramIndex(day2, dir, batchId = 1L)
    val day3 = Seq((20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val r2 = keyed(GramIndex.probeGramIndex(day3, GramIndex.readGramIndex(spark, dir)))
    assert(r2.exists(_._1 == 20L))
    // compaction: merged counts, identical probe results
    GramIndex.compactGramIndex(spark, dir)
    val idx = GramIndex.readGramIndex(spark, dir)
    val r3 = keyed(GramIndex.probeGramIndex(day3, idx))
    assert(r3 == r2, s"compaction changed probe results ($r3 vs $r2)")
    // and the compacted epoch holds one row per gram
    val dup = idx.grams.groupBy($"bucket", $"g").count().where($"count" > 1)
    assert(dup.isEmpty, "compacted epoch still holds split gram rows")
  }

  test("noveltyFromIndex == the oracle-gated t30 on the same corpus/batch split") {
    // the stored-index serving form of t30 must agree row-for-row
    // with the rescan query — same split (corpus < 400, batch >= 400),
    // zero corpus rescans on the index side
    val dir = tempDir("graft-gramnovel").toString
    GramIndex.writeGramIndex(docs.where($"doc_id" < 400), dir, gram = 8, nBuckets = 16)
    val stored = GramIndex.noveltyFromIndex(
        docs.where($"doc_id" >= 400), GramIndex.readGramIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val t30 = graft.SparkEntry.queries("t30_gram_novelty")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stored == t30 && stored.nonEmpty,
      s"stored novelty != t30 rescan (${stored.size} vs ${t30.size})")
    // and against an APPENDED epoch (several files per gram) the
    // existence semantics still hold: append the batch itself, then a
    // verbatim copy of a batch doc must score 0 ppm
    GramIndex.appendGramIndex(docs.where($"doc_id" >= 400), dir, batchId = 5L)
    val echo = docs.where($"doc_id" === 450).select(lit(999L).as("doc_id"), $"text")
    val r = GramIndex.noveltyFromIndex(echo, GramIndex.readGramIndex(spark, dir))
      .collect()
    assert(r.length == 1 && r(0).getLong(3) == 0L,
      s"copy of appended content not fully covered: ${r.mkString}")
  }

  test("auto-sized nBuckets: the manifest records the DERIVED count, and probes route correctly") {
    // regression: the manifest used to record the CALLER arg — 0
    // under auto-sizing — which would poison every probe's pmod
    // routing (bucket = hash mod 0); the manifest must carry the
    // derived value and the probe must agree with an explicit-bucket
    // twin row-for-row
    val dir = tempDir("graft-gramauto").toString
    val corpus = docs.where($"doc_id" < 400)
    val batch = docs.where($"doc_id" >= 400)
    GramIndex.writeGramIndex(corpus, dir) // nBuckets = 0 -> auto
    val idx = GramIndex.readGramIndex(spark, dir)
    assert(idx.nBuckets >= 16, s"manifest nBuckets ${idx.nBuckets} not the derived value")
    val auto = keyed(GramIndex.probeGramIndex(batch, idx))
    val dir2 = tempDir("graft-gramauto2").toString
    GramIndex.writeGramIndex(corpus, dir2, nBuckets = 16)
    val explicit = keyed(GramIndex.probeGramIndex(batch, GramIndex.readGramIndex(spark, dir2)))
    assert(auto == explicit && auto.nonEmpty,
      s"auto-bucket probe != explicit-bucket probe (${auto.size} vs ${explicit.size})")
  }

  test("append replay is a no-op: a replayed singleton gram never crosses the repeated threshold") {
    import spark.implicits._
    val dir = tempDir("graft-gramreplay2").toString
    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    GramIndex.writeGramIndex(seed, dir, gram = 8, nBuckets = 4)
    // day-2 batch with UNIQUE content: all its grams are singletons
    val day2 = Seq(
      (10L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    GramIndex.appendGramIndex(day2, dir, batchId = 3L)
    val rows1 = GramIndex.readGramIndex(spark, dir).grams.count()
    // the at-least-once failure mode this design closes: a REPLAYED
    // append used to re-land the counts, pushing day2's singleton
    // grams to c=2 — a fresh probe of the same text would then be
    // falsely flagged as repeated corpus content
    GramIndex.appendGramIndex(day2, dir, batchId = 3L)
    val idx = GramIndex.readGramIndex(spark, dir)
    assert(idx.grams.count() == rows1, "replayed append landed new files")
    val echo = Seq((20L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // echo's grams: stored c=1 (day2) + batch 1 = 2 -> genuinely
    // repeated vs day2; but vs a DOUBLED day2 the counts would be 3 —
    // assert the exact stored count instead, then the ledger across
    // compaction
    val stored = idx.grams.agg(org.apache.spark.sql.functions.max($"c")).head.getLong(0)
    assert(stored == 1L, s"replay inflated a singleton gram count to $stored")
    GramIndex.compactGramIndex(spark, dir)
    GramIndex.appendGramIndex(day2, dir, batchId = 3L)
    val after = GramIndex.readGramIndex(spark, dir)
    assert(after.grams.agg(org.apache.spark.sql.functions.max($"c")).head.getLong(0) == 1L,
      "replay after compaction re-appended an already-merged batch")
    assert(GramIndex.probeGramIndex(echo, after).collect().nonEmpty,
      "day2 content must still probe as repeated (stored 1 + batch 1 >= 2)")
  }

  test("edge cases: empty batch probes empty; sub-gram docs contribute nothing") {
    val dir = tempDir("graft-gramidx4").toString
    GramIndex.writeGramIndex(docs.where($"doc_id" < 50), dir, gram = 8, nBuckets = 4)
    val idx = GramIndex.readGramIndex(spark, dir)
    assert(GramIndex.probeGramIndex(docs.where($"doc_id" < 0), idx).isEmpty)
    // a batch of only sub-8-token docs has no grams -> no intervals,
    // and appending it is a no-op for later probes
    val tiny = Seq((100L, "a b c")).toDF("doc_id", "text")
    assert(GramIndex.probeGramIndex(tiny, idx).isEmpty)
    GramIndex.appendGramIndex(tiny, dir, batchId = 1L)
    assert(GramIndex.probeGramIndex(tiny,
      GramIndex.readGramIndex(spark, dir)).isEmpty)
  }

  test("takedown: negative-count deltas == a rebuild without the deleted docs, permanently after compaction") {
    val dir = tempDir("graft-gramtd").toString
    val dir2 = tempDir("graft-gramtd2").toString
    val keep = docs.where($"doc_id" < 300)
    val gone = docs.where($"doc_id" >= 300 && $"doc_id" < 400)
    val batch = docs.where($"doc_id" >= 400)
    GramIndex.writeGramIndex(docs.where($"doc_id" < 400), dir, gram = 8, nBuckets = 16)
    GramIndex.takedownGramIndex(gone, dir, takedownId = 1L)
    GramIndex.writeGramIndex(keep, dir2, gram = 8, nBuckets = 16)
    val idx = GramIndex.readGramIndex(spark, dir)
    val fresh = GramIndex.readGramIndex(spark, dir2)
    // read-time application: the very next probe/novelty over the
    // delta'd epoch equals a fresh rebuild over the retained corpus
    val p1 = keyed(GramIndex.probeGramIndex(batch, idx))
    assert(p1 == keyed(GramIndex.probeGramIndex(batch, fresh)) && p1.nonEmpty,
      "post-takedown probe != rebuild-without-deleted probe")
    def nov(i: GramIndex.GramIndexHandle) =
      GramIndex.noveltyFromIndex(batch, i)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(nov(idx) == nov(fresh), "post-takedown novelty != rebuild novelty")
    // replay of the same takedownId is a structural no-op
    val rows = idx.grams.count()
    GramIndex.takedownGramIndex(gone, dir, takedownId = 1L)
    assert(GramIndex.readGramIndex(spark, dir).grams.count() == rows,
      "replayed takedown landed new delta files")
    // compaction applies the deltas permanently: the epoch's rows
    // become EXACTLY the rebuild's (zeroed grams dropped), probes
    // value-stable, and the takedown ledger carries (late replay no-op)
    GramIndex.compactGramIndex(spark, dir)
    val after = GramIndex.readGramIndex(spark, dir)
    assert(after.grams.where($"c" <= 0L).isEmpty, "compaction kept a non-positive gram row")
    assert(after.grams.except(fresh.grams).isEmpty && fresh.grams.except(after.grams).isEmpty,
      "compacted epoch != fresh rebuild over the retained corpus")
    val n2 = after.grams.count()
    GramIndex.takedownGramIndex(gone, dir, takedownId = 1L)
    assert(GramIndex.readGramIndex(spark, dir).grams.count() == n2,
      "takedown replay after compaction re-applied a merged delta")
  }

  test("takedown read-time semantics: deleted content is fully novel BEFORE compaction; all-gone compaction refused") {
    val dir = tempDir("graft-gramtd3").toString
    val d1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val d2 = Seq((2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    GramIndex.writeGramIndex(d1.union(d2), dir, gram = 8, nBuckets = 4)
    GramIndex.takedownGramIndex(d1, dir, takedownId = 7L)
    // the epoch still HOLDS doc-1's gram rows (as +1/-1 pairs) — an
    // existence-based covered test would keep covering deleted
    // content; net-count semantics must score its echo fully novel
    // and never flag it repeated
    val echo = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val idx = GramIndex.readGramIndex(spark, dir)
    val n = GramIndex.noveltyFromIndex(echo, idx).collect()
    assert(n.length == 1 && n(0).getLong(3) == 1000000L,
      s"taken-down content still covers pre-compaction: ${n.mkString}")
    assert(GramIndex.probeGramIndex(echo, idx).isEmpty,
      "taken-down content still probes as repeated")
    // doc-2 content is untouched by doc-1's takedown
    val echo2 = Seq((11L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    assert(GramIndex.probeGramIndex(echo2, idx).collect().nonEmpty,
      "takedown of doc 1 under-covered doc 2's grams")
    // taking down the rest leaves nothing: compaction refuses to
    // publish an unreadable empty epoch
    GramIndex.takedownGramIndex(d2, dir, takedownId = 8L)
    intercept[IllegalArgumentException] {
      GramIndex.compactGramIndex(spark, dir)
    }
  }

  test("a doc with no duplicated grams yields no intervals") {
    val dir = tempDir("graft-gramidx3").toString
    GramIndex.writeGramIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), dir, gram = 8, nBuckets = 4)
    val fresh = Seq((2L, "completely different words that never appeared before anywhere today"))
      .toDF("doc_id", "text")
    assert(GramIndex.probeGramIndex(fresh,
      GramIndex.readGramIndex(spark, dir)).isEmpty)
  }

  test("compactGramIndex fails loudly on net counts < 0 (takedown contract violation)") {
    val dir = tempDir("graft-r15-corrupt").toString
    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    GramIndex.writeGramIndex(seed, dir, gram = 8, nBuckets = 4)
    val victim = seed.where($"doc_id" === 1L)
    // the contract violation: the SAME doc taken down under TWO
    // different takedownIds — its grams' net counts go to -1
    GramIndex.takedownGramIndex(victim, dir, takedownId = 100L)
    GramIndex.takedownGramIndex(victim, dir, takedownId = 101L)
    val ex = intercept[IllegalArgumentException] {
      GramIndex.compactGramIndex(spark, dir)
    }
    assert(ex.getMessage.contains("net gram counts < 0"),
      s"wrong failure: ${ex.getMessage}")
    // and the evidence survives: the epoch was NOT republished, the
    // negative deltas are still readable
    val neg = GramIndex.readGramIndex(spark, dir).grams
      .groupBy($"g").agg(sum($"c").as("c")).where($"c" < 0L).count()
    assert(neg > 0, "negative evidence was erased despite the refusal")
  }

  test("compactGramIndex stays green on a contract-respecting takedown") {
    val dir = tempDir("graft-r15-clean").toString
    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    GramIndex.writeGramIndex(seed, dir, gram = 8, nBuckets = 4)
    GramIndex.takedownGramIndex(seed.where($"doc_id" === 1L), dir, takedownId = 100L)
    GramIndex.compactGramIndex(spark, dir) // must not throw
    val left = GramIndex.readGramIndex(spark, dir).grams.count()
    assert(left > 0)
  }
}
