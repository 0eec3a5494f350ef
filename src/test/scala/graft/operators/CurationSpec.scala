package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** O56 Curation + ST27 curateStream: the admission composition —
  * stored == rescan, verdict-order semantics, and the streaming loop
  * appending ADMITTED docs only.
  */
class CurationSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  private def keyed(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet

  test("curateBatch over the stored O52 counts == the oracle-gated t33 rescan on the same split") {
    val dir = tempDir("graft-curidx").toString
    GramIndex.writeGramIndex(docs.where($"doc_id" < 400), dir, gram = 8, nBuckets = 16)
    val stored = keyed(Curation.curateBatch(
      docs.where($"doc_id" >= 400).select($"doc_id", $"text"),
      GramIndex.readGramIndex(spark, dir)))
    val rescan = keyed(graft.SparkEntry.queries("t33_curate_admission")(spark, sfDir))
    assert(stored == rescan && stored.nonEmpty,
      s"stored verdicts != rescan verdicts (${stored.size} vs ${rescan.size})")
    // the thresholds must actually discriminate on the test corpus:
    // every verdict class populated
    val classes = rescan.map(_._5)
    assert(classes == Set("admitted", "rejected_quality", "rejected_novelty"),
      s"verdict classes degenerate on the test corpus: $classes")
  }

  test("verdict order semantics: quality first (-1 novelty, no gram work), novelty second, sub-gram docs fully novel") {
    val corpusText = docs.where($"doc_id" === 0).select($"text").head.getString(0)
    val corpus = Seq((0L, corpusText)).toDF("doc_id", "text")
    val batch = Seq(
      400L -> corpusText, // passes quality, fully covered -> rejected_novelty, 0 ppm
      401L -> (1 to 40).map(i => s"zzq$i").mkString(" "), // fresh -> admitted, 1e6
      402L -> (1 to 10).map(_ => "a").mkString(" "), // 1/10 uniq -> rejected_quality even though its grams are novel
      403L -> "p q r s" // 4 words -> rejected_quality (minWords)
    ).toDF("doc_id", "text")
    val v = Curation.curateAgainstCorpus(batch, corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(v(400L) == ((0L, "rejected_novelty")), s"verbatim copy: ${v(400L)}")
    assert(v(401L) == ((1000000L, "admitted")), s"fresh doc: ${v(401L)}")
    assert(v(402L) == ((-1L, "rejected_quality")), s"spam doc: ${v(402L)}")
    assert(v(403L) == ((-1L, "rejected_quality")), s"short doc: ${v(403L)}")
    // a quality-passing doc SHORTER than the gram width has nothing to
    // cover and counts fully novel (reachable only with minWords
    // below ~4: X15 inserts a space id per word boundary, so 5+ words
    // always reach 8 ids)
    val tiny = Seq(500L -> "x y z").toDF("doc_id", "text")
    val vt = Curation.curateAgainstCorpus(tiny, corpus, minWords = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(vt(500L) == ((1000000L, "admitted")), s"sub-gram doc: ${vt(500L)}")
  }

  test("ST27 curateStream == sequential replay; ONLY admitted docs' grams enter the index") {
    val dir = tempDir("graft-curstream").toString
    GramIndex.writeGramIndex(docs.where($"doc_id" < 300), s"$dir/idx", gram = 8, nBuckets = 8)
    val b1 = docs.where($"doc_id" >= 300 && $"doc_id" < 400).select($"doc_id", $"text")
    // batch 2 re-submits a batch-1 doc's content under a new id: if
    // that doc was ADMITTED in batch 1, the copy must now be
    // rejected_novelty purely via batch 1's appended counts
    val b2 = docs.where($"doc_id" >= 400).select($"doc_id", $"text")
      .unionByName(docs.where($"doc_id" === 350)
        .select(lit(888888L).as("doc_id"), $"text"))
    b1.coalesce(1).write.parquet(s"$dir/in/f1")
    Thread.sleep(1100)
    b2.coalesce(1).write.parquet(s"$dir/in/f2")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/f*")
    val q = graft.streaming.Streams.curateStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    val streamed = keyed(spark.read.parquet(s"$dir/out"))
    // sequential replay: curate + append admitted, batch by batch
    val rdir = tempDir("graft-curreplay").toString
    GramIndex.writeGramIndex(docs.where($"doc_id" < 300), s"$rdir/idx", gram = 8, nBuckets = 8)
    def step(b: org.apache.spark.sql.DataFrame, id: Long) = {
      val v = Curation.curateBatch(b, GramIndex.readGramIndex(spark, s"$rdir/idx"))
      val adm = b.join(v.where($"verdict" === "admitted").select($"doc_id"),
        Seq("doc_id"), "left_semi")
      val out = keyed(v)
      GramIndex.appendGramIndex(adm, s"$rdir/idx", batchId = id)
      out
    }
    val r1 = step(b1, 0L)
    val r2 = step(b2, 1L)
    assert(streamed == (r1 ++ r2) && streamed.nonEmpty,
      s"streamed=${streamed.size} replay=${(r1 ++ r2).size}")
    val copy = streamed.find(_._1 == 888888L).get
    val orig = r1.find(_._1 == 350L).get
    if (orig._5 == "admitted")
      assert(copy._4 == 0L && copy._5 == "rejected_novelty",
        s"copy of admitted batch-1 content not rejected as restated: $copy")
    // admitted-only appends, structurally: the streamed index's gram
    // rows == the replay's (which by construction appended admitted
    // docs only), both ways
    val si = GramIndex.readGramIndex(spark, s"$dir/idx").grams
    val ri = GramIndex.readGramIndex(spark, s"$rdir/idx").grams
    assert(si.except(ri).isEmpty && ri.except(si).isEmpty,
      "streamed index state != admitted-only replay index state")
    // and the rejected docs' unique grams are genuinely absent: a
    // quality-rejected doc in the stream must not have covered its
    // own future copies (its grams never entered)
    val rejected = streamed.filter(_._5 == "rejected_quality")
    assert(rejected.nonEmpty, "test corpus produced no quality rejections in the stream")
  }

  test("trigger crash window: a replay AFTER the index file moves but BEFORE the batch marker converges exactly") {
    // the window the two-phase ledger exists for: the index append's
    // moves make the batch reader-visible, then the driver dies
    // before the batch marker lands. A single-marker replay would
    // re-probe against an index already holding the batch (verdicts
    // flip to rejected_novelty, singleton grams read as repeated,
    // novelty drops to ~0, the batch's own twins pair up) and
    // OVERWRITE the correct batch-keyed outputs. Every ledger-guarded
    // trigger runs batch 0, loses its marker, and replays.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def netGrams(idxPath: String) = rows(GramIndex.readGramIndex(spark, idxPath).grams
      .groupBy(col("bucket").cast("long"), col("g")).agg(sum(col("c"))))
    def ledgerDir(ledgerRoot: String) = IndexLayout.resolveDir(spark, ledgerRoot)
    def crashReplay(name: String, ledgerRoot: String, outPath: String,
        index: () => Seq[String])(trigger: => Unit): Unit = {
      trigger
      val out0 = rows(spark.read.parquet(outPath))
      val idx0 = index()
      val marker = new org.apache.hadoop.fs.Path(
        ledgerDir(ledgerRoot) + "/_appends", f"batch-${0L}%020d")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(marker, false), s"$name: no marker to erase at $marker")
      assert(!IndexLayout.appendCommitted(spark, ledgerDir(ledgerRoot), 0L))
      trigger
      assert(rows(spark.read.parquet(outPath)) == out0,
        s"$name: replay in the crash window changed the output")
      assert(index() == idx0, s"$name: replay in the crash window changed the index")
      assert(IndexLayout.appendCommitted(spark, ledgerDir(ledgerRoot), 0L))
    }
    def tmp(tag: String) = tempDir(s"graft-crashwin-$tag").toString
    val b1 = docs.where($"doc_id" >= 300 && $"doc_id" < 350).select($"doc_id", $"text")
    def gramCase(name: String)(trigger: (String, String) => Unit): Unit = {
      val dir = tmp(name)
      GramIndex.writeGramIndex(docs.where($"doc_id" < 300), s"$dir/idx", gram = 8, nBuckets = 8)
      crashReplay(name, GramIndex.ledgerRoot(s"$dir/idx"), s"$dir/out",
        () => netGrams(s"$dir/idx"))(trigger(s"$dir/idx", s"$dir/out"))
    }
    gramCase("curate")((idx, out) => graft.streaming.Streams.curateTrigger(
      b1, 0L, idx, out, 5L, 350000L, 100000L))
    gramCase("gramProbe")((idx, out) => graft.streaming.Streams.gramProbeTrigger(b1, 0L, idx, out))
    gramCase("novelty")((idx, out) => graft.streaming.Streams.noveltyTrigger(b1, 0L, idx, out))
    // the key-set indexes: each batch carries two copies of the same
    // content, so a re-probe after the append would pair them up; the
    // replayed append lands duplicate keys, so the index compares as a set
    val pdir = tmp("perceptual")
    Multimodal.writePerceptualIndex(Multimodal.imagePayloads(spark, sfDir)
      .where($"doc_id" < 300), "doc_id", "payload", s"$pdir/idx")
    def rewrapped(shift: Int, offset: Long) = Multimodal.payloadsWithContainer(spark, sfDir,
        containerShift = shift, idOffset = offset)
      .where($"doc_id" - offset < 50).select($"doc_id", $"payload")
    val pb = rewrapped(1, 1000000000L).unionByName(rewrapped(2, 2000000000L))
    crashReplay("perceptual", s"$pdir/idx", s"$pdir/out",
      () => rows(Multimodal.readPerceptualIndex(spark, s"$pdir/idx").distinct()))(
      graft.streaming.Streams.perceptualTrigger(pb, 0L, s"$pdir/idx", s"$pdir/out"))
    val fdir = tmp("frame")
    Multimodal.writeFrameIndex(Multimodal.videoPayloadsOf(docs.where($"doc_id" < 300)), s"$fdir/idx")
    def remuxed(offset: Long) = docs.where($"doc_id" < 50)
      .select(($"doc_id" + offset).as("doc_id"), $"text")
    val fb = Multimodal.videoPayloadsOf(remuxed(300L).unionByName(remuxed(400L)))
    crashReplay("frameDup", s"$fdir/idx", s"$fdir/out",
      () => rows(Multimodal.readFrameIndex(spark, s"$fdir/idx").distinct()))(
      graft.streaming.Streams.frameDupTrigger(fb, 0L, s"$fdir/idx", s"$fdir/out"))
  }

  test("parquet-append-batch is exactly-once: a replayed write rewrites the same files, never doubling rows") {
    // the crash window the route closes: the driver dies BETWEEN the
    // audit write and the trigger's ledger commit, so the replay
    // re-runs the whole trigger including the output write — with
    // plain mode(append) every verdict/probe row would double
    val out = tempDir("graft-eoappend").toString
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.sinks.RoutedSink.standard().write(s"parquet-append-batch:$out:id:7", rows)
    // simulated replay of the SAME batch id (content deterministic)
    graft.sinks.RoutedSink.standard().write(s"parquet-append-batch:$out:id:7", rows)
    val got = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(spark.read.parquet(out).count() == 2L && got == Set((1L, "a"), (2L, "b")),
      "replayed batch-keyed append duplicated rows")
    // a DIFFERENT batch id appends alongside
    graft.sinks.RoutedSink.standard().write(
      s"parquet-append-batch:$out:id:8", Seq((3L, "c")).toDF("id", "v"))
    assert(spark.read.parquet(out).count() == 3L)
    // the REAL crash window: some of a batch's files moved, then the
    // driver died mid-move — the replay's pre-cleanup must converge
    // to the identical end state (delete this attempt's files, move
    // the full staged set again), never a partial double
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(out), spark.sparkContext.hadoopConfiguration)
    val moved = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.getPath.getName.startsWith("out-00000000000000000007-"))
    assert(moved.nonEmpty)
    fs.delete(moved.head.getPath, false) // simulate a lost half-move
    graft.sinks.RoutedSink.standard().write(s"parquet-append-batch:$out:id:7", rows)
    val after = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == Set((1L, "a"), (2L, "b"), (3L, "c")) &&
      spark.read.parquet(out).count() == 3L,
      "mid-move crash replay did not converge to the exact end state")
  }
}
