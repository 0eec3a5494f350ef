package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The epoch-versioned storage layouts of [[ShardLayout]]: the O40
  * training-shard layout (ordered write, atomic epoch rewrite, manifest-
  * validated appends, O43 compaction, O44 token shards, O47 pinned
  * snapshot reads, the schema-drift guard, the `_LAYOUT` codec) and
  * the O45 merge table that applies changelogs.
  *
  * Quarantined in `build.sbt`: the epoch-rewrite test runs a reader
  * thread against the rewrite and counts partial reads.
  */
class ShardLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  /** Parquet data files of one shard layout's CURRENT version, in
    * (shard dir, file name) listing order — the loader's read order.
    */
  private def shardFiles(path: String): Seq[java.io.File] = {
    val resolved = new java.io.File(
      graft.operators.IndexLayout.resolveDir(spark, path).stripPrefix("file:"))
    resolved.listFiles().filter(_.getName.startsWith("shard=")).sortBy(_.getName)
      .flatMap(_.listFiles().filter(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).sortBy(_.getName))
      .toSeq
  }

  /** Every file must stream rows in (skey, doc_id) order. Each file is
    * read INDIVIDUALLY (tiny file -> one scan partition, so collect
    * order == file order) instead of inferring read order from
    * monotonically_increasing_id over a multi-file scan, which only
    * tracks in-file order while no file is ever split or bin-packed.
    */
  private def assertFilesOrdered(path: String): Unit =
    shardFiles(path).foreach { f =>
      val seq = spark.read.parquet(f.toString)
        .select($"skey", $"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(seq == seq.sorted, s"shard file ${f.getName} is out of permutation order")
    }

  test("writeShuffledShards: ordered shard layout, deterministic replay, full coverage") {
    val dir = tempDir("shards").toString
    val docs = graft.tables.Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang")
    ShardLayout.writeShuffledShards(docs, "doc_id", s"$dir/a", nShards = 4, seed = "7")
    val back = ShardLayout.readShuffledShards(spark, s"$dir/a")
    // coverage: exactly the input ids, each once
    assert(back.count() == docs.count())
    assert(back.select($"doc_id").exceptAll(docs.select($"doc_id")).isEmpty)
    // shard dirs match the key arithmetic
    assert(back.where(pmod($"skey", lit(4)).cast("int") =!= $"shard").isEmpty)
    // the loader contract: every FILE streams rows in (skey, id) order
    assertFilesOrdered(s"$dir/a")
    // determinism: same seed reproduces the exact per-shard sequences
    ShardLayout.writeShuffledShards(docs, "doc_id", s"$dir/b", nShards = 4, seed = "7")
    val seqA = ShardLayout.readShuffledShards(spark, s"$dir/a").orderBy($"shard", $"skey", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    val seqB = ShardLayout.readShuffledShards(spark, s"$dir/b").orderBy($"shard", $"skey", $"doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(seqA == seqB)
    // collision guard: a pre-existing shard column is rejected loudly
    val err = intercept[IllegalArgumentException] {
      ShardLayout.writeShuffledShards(docs.withColumn("shard", lit(1)), "doc_id", s"$dir/c")
    }
    assert(err.getMessage.contains("shard"))
  }

  test("shard layout: epoch rewrite is an atomic versioned publish; appends validate the manifest") {
    val dir = tempDir("shards-epoch").toString
    val docs = graft.tables.Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang")
    val path = s"$dir/l"
    ShardLayout.writeShuffledShards(docs, "doc_id", path, nShards = 4, seed = "e0")
    assert(graft.operators.IndexLayout.currentVersion(spark, path).contains("v00001"))
    val epoch0 = ShardLayout.readShuffledShards(spark, path)
      .orderBy($"shard", $"skey", $"doc_id").select($"doc_id")
      .collect().map(_.getLong(0)).toSeq

    // a reader polling DURING a rewrite sees only whole epochs: every
    // read between the build and the flip resolves a complete version
    // (the IndexLifecycleSpec pattern — local FS writes are not
    // instrumentable mid-rename, so the pin is resolve-then-read
    // around the flip plus the manifest step change)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val n = ShardLayout.readShuffledShards(spark, path).count()
        if (n != docs.count()) bad.incrementAndGet()
      }
    })
    reader.start()
    try {
      // epoch rewrite under a DIFFERENT seed — a fresh permutation
      ShardLayout.writeShuffledShards(docs, "doc_id", path, nShards = 4, seed = "e1")
    } finally { stop.set(true); reader.join() }
    assert(bad.get() == 0, s"${bad.get()} reads saw a partial epoch during the rewrite")
    assert(graft.operators.IndexLayout.currentVersion(spark, path).contains("v00002"))
    val epoch1 = ShardLayout.readShuffledShards(spark, path)
      .orderBy($"shard", $"skey", $"doc_id").select($"doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(epoch1.sorted == epoch0.sorted && epoch1 != epoch0,
      "new seed must be a fresh permutation of the same corpus")

    // append: parameters DERIVE from the layout's manifest when
    // omitted; a drifted explicit (nShards, seed) fails fast instead
    // of silently appending under a different permutation regime
    val batch = docs.limit(50).withColumn("doc_id", $"doc_id" + 1000000L)
    ShardLayout.appendShuffledShards(batch, "doc_id", path)
    val all = ShardLayout.readShuffledShards(spark, path)
    assert(all.count() == docs.count() + 50)
    assert(all.where(pmod($"skey", lit(4)).cast("int") =!= $"shard").isEmpty)
    assertFilesOrdered(path)
    val seedErr = intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(batch, "doc_id", path, nShards = 4, seed = "e0")
    }
    assert(seedErr.getMessage.contains("seed"))
    val shardsErr = intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(batch, "doc_id", path, nShards = 8)
    }
    assert(shardsErr.getMessage.contains("nShards"))
    // matching explicit values still pass (config pinning)
    ShardLayout.appendShuffledShards(batch, "doc_id", path, nShards = 4, seed = "e1")
    // retired epoch GC'd down to keepVersions=1: v00001 still present
    // as the grace window, nothing older
    ShardLayout.writeShuffledShards(docs, "doc_id", path, nShards = 4, seed = "e2")
    val vs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("v")).sorted
    assert(vs.toSeq == Seq("v00002", "v00003"), s"unexpected versions: ${vs.toSeq}")
  }

  // ---------------------------------------------------------------- O43

  private def shardDataFiles(dir: String): Map[String, Seq[String]] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .map { d =>
        d.getName -> d.listFiles().map(_.getName)
          .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
          .sorted.toSeq
      }.toMap
  }

  test("O43: compaction collapses append-fragmented shards to per-task sorted files, content-preserving") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"source")
    val base = docs.where($"doc_id" % 4 === 0)
    val b1 = docs.where($"doc_id" % 4 === 1)
    val b2 = docs.where($"doc_id" % 4 === 2)
    val path = tempDir("graft-o43").toString + "/layout"
    ShardLayout.writeShuffledShards(base, "doc_id", path, nShards = 4, seed = "s43")
    ShardLayout.appendShuffledShards(b1, "doc_id", path)
    ShardLayout.appendShuffledShards(b2, "doc_id", path)
    val before = graft.operators.IndexLayout.resolveDir(spark, path)
    val fragged = shardDataFiles(before)
    assert(fragged.values.exists(_.size > 1),
      "appends did not fragment — the fixture lost its point")
    val preRows = ShardLayout.readShuffledShards(spark, path)
      .select($"doc_id", $"lang", $"source").collect().toSet
    ShardLayout.compactShuffledShards(spark, path) // idCol from the manifest
    val after = graft.operators.IndexLayout.resolveDir(spark, path)
    assert(after != before, "compaction did not publish a fresh epoch")
    val compacted = shardDataFiles(after)
    // The O40 write contract allows a shard the range sampler splits
    // across two ADJACENT tasks to hold two files (part numbers keep
    // range order); compaction's guarantee is bounded-by-tasks file
    // count — one fragment per covering range task, never one per
    // ingested micro-batch.
    assert(compacted.nonEmpty && compacted.values.forall(_.size <= 2),
      s"a shard holds more files than covering range tasks: $compacted")
    assert(compacted.values.map(_.size).sum < fragged.values.map(_.size).sum,
      "compaction did not reduce the file count")
    val postRows = ShardLayout.readShuffledShards(spark, path)
      .select($"doc_id", $"lang", $"source").collect().toSet
    assert(postRows === preRows, "compaction changed the row content")
    // exact permutation order restored: per shard, the sorted file
    // LISTING concatenates to the (skey, doc_id) order — the loader
    // contract a from-scratch writeShuffledShards provides (appends
    // break it across files; compaction must restore it)
    compacted.foreach { case (shard, files) =>
      val seq = files.flatMap { f =>
        spark.read.parquet(s"$after/$shard/$f")
          .select($"skey", $"doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(seq == seq.sorted, s"$shard lost permutation order across its file listing")
    }
  }

  test("O43: dedupe drops at-least-once replay rows; idCol contradictions fail fast") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"source")
    val base = docs.where($"doc_id" % 7 === 0)
    val path = tempDir("graft-o43b").toString + "/layout"
    ShardLayout.writeShuffledShards(base, "doc_id", path, nShards = 2, seed = "s43b")
    ShardLayout.appendShuffledShards(base, "doc_id", path) // the retry: exact replay
    assert(ShardLayout.readShuffledShards(spark, path).count() === base.count() * 2)
    val e = intercept[RuntimeException](
      ShardLayout.compactShuffledShards(spark, path, idColArg = "lang"))
    assert(e.getMessage.contains("idCol"), s"wrong failure: ${e.getMessage}")
    ShardLayout.compactShuffledShards(spark, path)
    val out = ShardLayout.readShuffledShards(spark, path)
    assert(out.count() === base.count(), "dedupe left replayed rows behind")
    assert(out.select($"doc_id").distinct().count() === base.count())
  }

  // ------------------------------------------------------- O45 merge

  test("O45 applyChangelog: LWW upsert/delete, tombstone suppression, replay safety") {
    import org.apache.spark.sql.Row
    val dir = tempDir("o45").toString
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

  test("O45 applyChangelog merges against the broadcast batch key set, whatever the size settings") {
    // the key-set hint is unconditional: with size-based broadcasting
    // off, the stored rows still meet the batch's keys through
    // broadcast anti and semi joins — the table is never shuffled
    import org.apache.spark.sql.Row
    val noSize = graft.SparkTestBase.isolatedSession
    noSize.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import noSize.implicits._
    val dir = tempDir("o45-bcast").toString
    def batch(rows: (Long, Long, String, Boolean)*) =
      rows.toDF("k", "v", "payload", "is_tombstone")
    ShardLayout.applyChangelog(noSize, dir,
      batch((1L, 1L, "a", false), (2L, 1L, "b", false), (3L, 1L, "c", false)), Seq("k"), Seq("v"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(
          funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    noSize.listenerManager.register(listener)
    try {
      ShardLayout.applyChangelog(noSize, dir,
        batch((2L, 2L, "b2", false), (3L, 2L, "c", true)), Seq("k"), Seq("v"))
      org.apache.spark.graftbridge.SparkCoreBridge.flushListenerBus(noSize.sparkContext)
    } finally noSize.listenerManager.unregister(listener)
    assert(ShardLayout.readMerged(noSize, dir).orderBy($"k")
      .select($"k", $"payload").collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b2")))
    val merge = plans.toArray.map(_.toString).filter(p => p.contains("LeftAnti"))
    assert(merge.nonEmpty, s"no merge plan captured:\n${plans.toArray.mkString("\n---\n")}")
    merge.foreach { plan =>
      assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2 && plan.contains("LeftSemi") &&
        !plan.contains("SortMergeJoin"),
        s"the merge does not broadcast the batch key set:\n${plan.take(1500)}")
    }
  }

  test("O45 via the routed sink: ST15 update stream applied == q65-shaped batch compaction") {
    val ev = Tables.load(spark, sfDir, "events")
    val dir = tempDir("o45-st15").toString
    // ts-interleaved micro-batches (the ST15 spec's adversarial split)
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val mdir = tempDir("o45-table").toString
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
    val dir = tempDir("o44").toString
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
    val dir = tempDir("graft-snap").toString + "/shards"
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

  // ------------------------------------------- shard schema-drift guard

  test("appendShuffledShards refuses a drifted batch schema; column order stays free") {
    val dir = tempDir("graft-drift").toString + "/shards"
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

  test("_LAYOUT manifest: quote/backslash-bearing seed round-trips (escaped write, unescaped read)") {
    val dir = tempDir("graft-esc").toString + "/shards"
    val seed = """e"poch\1"""
    val df = docs.select($"doc_id", $"lang").limit(200)
    ShardLayout.writeShuffledShards(df, "doc_id", dir, nShards = 4, seed = seed)
    assert(ShardLayout.readShuffledShards(spark, dir).count() == 200)
    // append validates the caller's seed against the manifest — an
    // unescaped write would have corrupted the JSON and either failed
    // to parse or stored a mangled seed that can never match again
    val more = docs.select($"doc_id", $"lang")
      .where($"doc_id" >= 200 && $"doc_id" < 250)
    ShardLayout.appendShuffledShards(more, "doc_id", dir, seed = seed)
    assert(ShardLayout.readShuffledShards(spark, dir).count() == 250)
    // and a WRONG seed still fails loudly (the guard is not vacuous)
    intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(more, "doc_id", dir, seed = "other")
    }
  }

  test("appendShuffledShards: an append that a concurrent publish overtook raises") {
    val path = tempDir("graft-shards-race").toString + "/l"
    ShardLayout.writeShuffledShards(docs.select($"doc_id", $"lang").where($"doc_id" < 100),
      "doc_id", path, nShards = 4, seed = "r1")
    // a rewrite publishing its epoch WHILE the append writes
    val publishMidAppend = graft.EpochRace.publishMidAppend[Long](path)
    val batch = docs.select($"doc_id", $"lang").where($"doc_id" >= 100 && $"doc_id" < 120)
      .withColumn("doc_id", publishMidAppend($"doc_id"))
    val err = intercept[IllegalArgumentException] {
      ShardLayout.appendShuffledShards(batch, "doc_id", path)
    }
    assert(err.getMessage.contains("appendShuffledShards: epoch moved during append"),
      err.getMessage)
  }
}
