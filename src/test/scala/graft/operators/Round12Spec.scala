package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Round-12: the token-ID last mile — X15/X16 encode/decode are
  * spec'd in BpeSpec; here the composed surfaces: tokenizeWindows
  * (t26's core) and O44 packTokenShards (loader-ready ID-array epoch
  * shards through the O40 layout).
  */
class Round12Spec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  // ------------------------------------------------- tokenizeWindows

  test("tokenizeWindows: every window exactly W ids, pad tail all padId, n_real bounds") {
    val w = 64
    val t = TextAnalysis.tokenizeWindows(docs, w)
    val bad = t.filter(
      size($"ids") =!= w ||
        $"n_real" < 1 || $"n_real" > w ||
        expr(s"exists(slice(ids, cast(n_real + 1 as int), $w), x -> x != 0)") ||
        expr("exists(slice(ids, 1, cast(n_real as int)), x -> x = 0)")
    ).count()
    assert(bad == 0, s"$bad windows break the shape/pad contract")
  }

  test("tokenizeWindows: total real ids == corpus-wide size(bpe_encode)") {
    val w = 64
    val total = TextAnalysis.tokenizeWindows(docs, w)
      .agg(sum($"n_real")).head().getLong(0)
    val expect = docs
      .select(size(graft.functions.GraftExpressions.bpeEncode($"text")).cast("long").as("n"))
      .agg(sum($"n")).head().getLong(0)
    assert(total == expect, s"window ids $total != encoded ids $expect")
  }

  test("tokenizeWindows: reassembled windows decode back to the normalized document") {
    val w = 64
    val t = TextAnalysis.tokenizeWindows(docs, w)
      .withColumn("real", expr("slice(ids, 1, cast(n_real as int))"))
      .groupBy($"doc_id")
      .agg(flatten(array_sort(collect_list(struct($"window_id", $"real")))
        .getField("real")).as("all_ids"))
      .select($"doc_id", graft.functions.GraftExpressions.bpeDecode($"all_ids").as("rt"))
    val expect = docs.select($"doc_id",
      concat_ws(" ", expr("filter(split(text, ' '), x -> x <> '')")).as("norm"))
      .filter(length($"norm") > 0)
    val bad = t.join(expect, Seq("doc_id"), "full_outer")
      .filter(not($"rt" <=> $"norm")).count()
    assert(bad == 0, s"$bad documents fail the reassemble-decode round trip")
  }

  // ------------------------------------------- O32 routed assignment

  test("O32: routed assignment == brute assignment when probes cover all coarse groups") {
    // k = 100 cells -> k1 = 10 coarse groups: the routed path is
    // genuinely two-level (default 4 probes would approximate), and
    // probing all 10 groups makes the candidate set every seed, so
    // the result must EQUAL the exactAssign escape row-for-row.
    def corpus(n: Int) =
      spark.range(n).select(
        col("id"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(pmod(xxhash64(id * 16 + j), 1000) / 499.5 - 1.0 AS FLOAT))").as("emb"))
    val routed = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0, coarseProbes = 10)
      .orderBy($"id_a", $"id_b").collect().toSeq
    val brute = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0, exactAssign = true)
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(routed == brute, "probe-all routed assignment diverged from brute")
    // and the default nprobe stays a sane approximation of the same
    // workload: every vector still lands in a cell, occupancy bounded
    val approx = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0)
    assert(approx.count() > 0)
  }

  test("O32: no corpus-scaled crossJoin in the routed plan") {
    def corpus(n: Int) =
      spark.range(n).select(
        col("id"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(pmod(xxhash64(id * 16 + j), 1000) / 499.5 - 1.0 AS FLOAT))").as("emb"))
    val plan = Ops.semanticDedupAtScale(corpus(800), "id", "emb",
      targetCellSize = 8, minCosine = -1.0)
      .queryExecution.executedPlan.toString
    // the only nested-loop joins allowed are against the 1-row
    // collected coarse array (broadcast of a single row)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val cart = "CartesianProduct".r.findAllIn(plan).length
    assert(cart == 0, s"cartesian product in routed O32 plan:\n$plan")
    assert(nlj <= 2, s"unexpected NL joins (corpus-scaled side?) in routed O32 plan:\n$plan")
  }

  // -------------------------------------------- O42 null-safe keys

  test("O42 maintainAggView: a NULL key present in view and delta merges into ONE row") {
    import org.apache.spark.sql.Row
    val view = Seq((Option(1L), 2L, 10L), (Option.empty[Long], 3L, 30L))
      .toDF("k", "cnt", "s")
    val delta = Seq((Option.empty[Long], 5L), (Option(7L), 1L)).toDF("k", "v")
    val out = Ops.maintainAggView(view, delta, Seq("k"),
      Seq(("cnt", "count", lit(1)), ("s", "sum", $"v")))
      .orderBy($"k".asc_nulls_first).collect().toSeq
    // NULL key: 3+1 ops, 30+5 sum — two unmerged legs would show (3,30)+(1,5)
    assert(out == Seq(Row(null, 4L, 35L), Row(1L, 2L, 10L), Row(7L, 1L, 1L)),
      s"got $out")
  }

  // ------------------------------------------------------- O45 merge

  test("O45 applyChangelog: LWW upsert/delete, tombstone suppression, replay safety") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("o45").toString
    def batch(rows: (Long, Long, Long, String, Boolean)*) =
      rows.toDF("user_id", "k", "v", "payload", "is_tombstone")
    val keys = Seq("user_id", "k")
    val vers = Seq("v")

    // first apply bootstraps the table (and stamps the manifest)
    ShardLayout.applyChangelog(spark, dir, batch((1L, 1L, 10L, "a", false), (1L, 2L, 10L, "b", false)),
      keys, vers)
    assert(ShardLayout.readMerged(spark, dir).orderBy($"user_id", $"k")
      .select($"k", $"payload").collect().toSeq ==
      Seq(Row(1L, "a"), Row(2L, "b")))

    // newer upsert wins, tombstone deletes, new key inserts
    ShardLayout.applyChangelog(spark, dir, batch(
      (1L, 1L, 20L, "a2", false), (1L, 2L, 20L, "b", true), (1L, 3L, 10L, "c", false)),
      keys, vers)
    assert(ShardLayout.readMerged(spark, dir).orderBy($"k")
      .select($"k", $"payload").collect().toSeq ==
      Seq(Row(1L, "a2"), Row(3L, "c")))
    // the tombstone row is KEPT as a flagged suppressor in the table
    val v = graft.operators.IndexLayout.currentVersion(spark, dir).get
    assert(spark.read.parquet(s"$dir/$v")
      .where($"k" === 2L && $"is_tombstone").count() == 1)

    // replay safety: re-applying the STALE first batch moves nothing —
    // k=1 keeps v=20, and the late k=2 upsert (v=10 < tombstone v=20)
    // stays suppressed
    ShardLayout.applyChangelog(spark, dir, batch((1L, 1L, 10L, "a", false), (1L, 2L, 10L, "b", false)),
      keys, vers)
    assert(ShardLayout.readMerged(spark, dir).orderBy($"k")
      .select($"k", $"payload").collect().toSeq ==
      Seq(Row(1L, "a2"), Row(3L, "c")))

    // NULL keys merge as one key (null-safe equality), never fork
    ShardLayout.applyChangelog(spark, dir,
      Seq((2L, Option.empty[Long], 5L, "n1", false)).toDF("user_id", "k", "v", "payload", "is_tombstone"),
      keys, vers)
    ShardLayout.applyChangelog(spark, dir,
      Seq((2L, Option.empty[Long], 6L, "n2", false)).toDF("user_id", "k", "v", "payload", "is_tombstone"),
      keys, vers)
    assert(ShardLayout.readMerged(spark, dir).where($"user_id" === 2L)
      .select($"payload").collect().toSeq == Seq(Row("n2")))

    // the stored manifest is authoritative: contradicting args fail loudly
    val e = intercept[IllegalArgumentException] {
      ShardLayout.applyChangelog(spark, dir, batch((9L, 9L, 1L, "x", false)), Seq("user_id"), vers)
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("O45 via the routed sink: ST15 update stream applied == q65-shaped batch compaction") {
    val ev = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("o45-st15").toString
    // ts-interleaved micro-batches (the ST15 spec's adversarial split)
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val mdir = java.nio.file.Files.createTempDirectory("o45-table").toString
    val sink = graft.sinks.RoutedSink.standard()
    val route = s"merge:$mdir:key:user_id+k:v:last_ts_us+n_ops"
    val q = graft.streaming.Streams.changelogCompactStream(spark, stream).toDF()
      .writeStream.outputMode("update")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink.write(route, b.toDF()))
      .start()
    q.processAllAvailable(); q.stop()

    // batch truth: q65's struct-max compaction with tombstones dropped
    val batch = ev
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        unix_micros($"ts").as("ts_us"), $"event_id", $"event_type", $"value")
      .groupBy($"user_id", $"k")
      .agg(max(struct($"ts_us", $"event_id", $"event_type", $"value")).as("last"),
        count(lit(1)).as("n_ops"))
      .select($"user_id", $"k", $"last.ts_us".as("last_ts_us"),
        $"last.event_type".as("last_op"), $"last.value".as("last_value"), $"n_ops")
      .where($"last_op" =!= "error")
    val got = ShardLayout.readMerged(spark, mdir)
      .select($"user_id", $"k", $"last_ts_us", $"last_op", $"last_value", $"n_ops")
    assert(got.count() == batch.count())
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "stream-applied merge table diverged from batch q65 compaction")
    // tombstoned keys are gone from the read surface
    assert(ShardLayout.readMerged(spark, mdir).where($"last_op" === "error").count() == 0)
  }

  // ------------------------------------------------------------- O44

  test("O44 packTokenShards: epoch layout stores loader-ready padded ID arrays") {
    val dir = java.nio.file.Files.createTempDirectory("o44").toString
    val w = 32
    ShardLayout.packTokenShards(docs, dir, window = w, nShards = 4, seed = "r12")

    val back = ShardLayout.readShuffledShards(spark, dir)
    // loader contract: fixed-length int arrays + pad boundary + replay
    // key (parquet re-reads element nullability as true — assert the
    // element TYPE and no-null DATA instead)
    assert(back.schema("ids").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.IntegerType)
    assert(back.filter(expr("exists(ids, x -> x is null)")).count() == 0)
    assert(back.filter(size($"ids") =!= w).count() == 0, "non-fixed-length sample")
    val nWindows = TextAnalysis.tokenizeWindows(docs, w).count()
    assert(back.count() == nWindows, "shard rows != tokenized windows")
    // sample_id is doc:window and unique — the permutation/replay key
    assert(back.select($"sample_id").distinct().count() == nWindows)

    // content: reassembling from the SHARDS decodes to the corpus
    val rt = back
      .withColumn("real", expr("slice(ids, 1, cast(n_real as int))"))
      .groupBy($"doc_id")
      .agg(flatten(array_sort(collect_list(struct($"window_id", $"real")))
        .getField("real")).as("all_ids"))
      .select($"doc_id", graft.functions.GraftExpressions.bpeDecode($"all_ids").as("rt"))
    val expect = docs.select($"doc_id",
      concat_ws(" ", expr("filter(split(text, ' '), x -> x <> '')")).as("norm"))
      .filter(length($"norm") > 0)
    val bad = rt.join(expect, Seq("doc_id"), "full_outer")
      .filter(not($"rt" <=> $"norm")).count()
    assert(bad == 0, s"$bad documents fail the shard-reassemble decode round trip")

    // layout discipline: manifest-stamped idCol, compactable in place
    ShardLayout.compactShuffledShards(spark, dir)
    assert(ShardLayout.readShuffledShards(spark, dir).count() == nWindows,
      "compaction changed the sample count")
  }

  // ------------------------------------------------ O47 snapshot reads

  test("O47: a pinned epoch read survives the next publish; orphans and GC'd versions fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/shards"
    val ep1 = docs.select($"doc_id", $"lang").where($"doc_id" < 100)
    ShardLayout.writeShuffledShards(ep1, "doc_id", dir, nShards = 4, seed = "e1")
    val v1 = ShardLayout.shardVersions(spark, dir).last
    // epoch 2: different corpus AND permutation regime
    val ep2 = docs.select($"doc_id", $"lang").where($"doc_id" >= 100 && $"doc_id" < 300)
    ShardLayout.writeShuffledShards(ep2, "doc_id", dir, nShards = 4, seed = "e2")
    val vs = ShardLayout.shardVersions(spark, dir)
    assert(vs.size == 2 && vs.head == v1,
      s"expected the retired epoch retained in the grace window: $vs")
    // the pinned read sees epoch 1 EXACTLY while current resolves to epoch 2
    val pinned = ShardLayout.readShuffledShardsAt(spark, dir, v1)
    assert(pinned.select($"doc_id").exceptAll(ep1.select($"doc_id")).isEmpty
      && ep1.select($"doc_id").exceptAll(pinned.select($"doc_id")).isEmpty)
    val current = ShardLayout.readShuffledShards(spark, dir)
    assert(current.count() == ep2.count() && current.count() != pinned.count())
    // a version that never existed, and one above _CURRENT (a crash
    // orphan: directory present, never published), both fail loudly
    intercept[IllegalArgumentException] {
      ShardLayout.readShuffledShardsAt(spark, dir, "v99999")
    }
    new java.io.File(dir.stripPrefix("file:"), "v00003").mkdirs()
    intercept[IllegalArgumentException] {
      ShardLayout.readShuffledShardsAt(spark, dir, "v00003")
    }
    // a third publish GC's epoch 1 (keepVersions=1) — the pin expires loudly
    ShardLayout.writeShuffledShards(ep1, "doc_id", dir, nShards = 4, seed = "e3")
    intercept[IllegalArgumentException] {
      ShardLayout.readShuffledShardsAt(spark, dir, v1)
    }
  }

  // ------------------------------------------------- t27 window dedup

  test("t27: reported hashes group genuinely identical windows; exact-dup docs surface") {
    val windows = TextAnalysis.tokenizeWindows(docs, 64)
      .withColumn("window_hash",
        md5(concat_ws(" ", expr("transform(ids, x -> cast(x as string))"))))
      .cache()
    // the rep-key packing invariant the query relies on
    assert(windows.agg(max($"window_id")).head().getLong(0) < 100000L)
    val q = TextAnalysis.all.find(_.name == "t27_window_dedup").get
      .build(spark, sfDir).cache()
    assert(q.count() > 0, "the corpus's exact-dup docs must produce dup windows")
    // first principles on one reported group: every member's id array
    // is bit-identical (md5 grouping is content grouping)
    val h = q.orderBy($"n_copies".desc, $"window_hash").head()
    val members = windows.where($"window_hash" === h.getString(0))
      .select($"ids").collect().map(_.getSeq[Long](0))
    assert(members.length.toLong == h.getLong(1) && members.distinct.length == 1)
    // an exact-duplicate DOCUMENT (same raw text) makes every one of
    // its windows a duplicate — the d01 relationship. sf0.001 has no
    // raw-text twins (its dups differ in whitespace/case), so the
    // clause binds only where a twin exists; the group-equality pin
    // above carries the semantics either way.
    docs.withColumn("_h", md5($"text"))
      .groupBy($"_h").agg(count(lit(1)).as("c"), min($"doc_id").as("d"))
      .where($"c" >= 2).orderBy($"d").take(1).foreach { twin =>
        val twinWindows = windows.where($"doc_id" === twin.getLong(2))
          .select($"window_hash").distinct()
        assert(twinWindows.exceptAll(q.select($"window_hash")).isEmpty,
          "a window of an exact-dup doc was not reported as duplicated")
      }
    windows.unpersist(); q.unpersist()
  }

  // ------------------------------------------- shard schema-drift guard

  test("appendShuffledShards refuses a drifted batch schema; column order stays free") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString + "/shards"
    val base = docs.select($"doc_id", $"lang", $"n_chars").where($"doc_id" < 100)
    ShardLayout.writeShuffledShards(base, "doc_id", dir, nShards = 4, seed = "d1")
    // same columns, different order: order can't corrupt parquet —
    // accepted, and the layout stays readable
    ShardLayout.appendShuffledShards(
      docs.select($"n_chars", $"doc_id", $"lang")
        .where($"doc_id" >= 100 && $"doc_id" < 120), "doc_id", dir)
    assert(ShardLayout.readShuffledShards(spark, dir).count() == 120)
    // a MISSING column would read back silently null for the new
    // files — refused loudly
    val missing = intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(
        docs.select($"doc_id", $"lang").where($"doc_id" >= 120 && $"doc_id" < 130),
        "doc_id", dir)
    }
    assert(missing.getMessage.contains("stamped schema"))
    // a RETYPED column may fail only on the files that disagree — refused
    intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(
        docs.select($"doc_id", $"lang", $"n_chars".cast("int").as("n_chars"))
          .where($"doc_id" >= 120 && $"doc_id" < 130), "doc_id", dir)
    }
    // an EXTRA column would vanish on a non-mergeSchema read — refused
    intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(
        base.withColumn("extra", lit(1L)).where($"doc_id" < 10), "doc_id", dir)
    }
    // rejected batches never landed: count and schema unchanged
    val back = ShardLayout.readShuffledShards(spark, dir)
    assert(back.count() == 120)
    // schema evolution is an epoch REWRITE event: the same drifted
    // frame accepted through writeShuffledShards, and the new stamp
    // now guards the evolved schema
    ShardLayout.writeShuffledShards(base.withColumn("extra", lit(1L)), "doc_id", dir,
      nShards = 4, seed = "d1")
    ShardLayout.appendShuffledShards(
      docs.select($"doc_id", $"lang", $"n_chars").withColumn("extra", lit(2L))
        .where($"doc_id" >= 100 && $"doc_id" < 110), "doc_id", dir)
    intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(base.limit(5), "doc_id", dir) // old schema now drifts
    }
  }

  // -------------------------------------------- t24 enforced certificate

  test("t24: an uncertifiable sketch falls back to the exact top-20") {
    // kP=2 starves the Misra-Gries counters so the 20th row cannot
    // clear the N/(kP+1) bound — the sketch result would depend on
    // partition layout. The certificate check must detect it and
    // return the exact groupBy answer instead.
    val got = TextAnalysis.topKSketchCertified(spark, sfDir, kP = 2)
      .select($"w", $"cnt").collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = docs
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"w").limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == exact.toSeq,
      "uncertified sketch result must be replaced by the exact top-20")
  }

  test("t24: the certified path returns 20 provable rows at kP=4096") {
    val rows = TextAnalysis.topKSketchCertified(spark, sfDir, kP = 4096).collect()
    assert(rows.length == 20 && rows.forall(_.getAs[Boolean]("provable")),
      "expected a fully certified top-20 on the Zipfian test corpus")
  }
}
