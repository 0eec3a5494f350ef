package graft.streaming

import graft.SparkTestBase
import graft.sources.Sources
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Drives the streaming operators with a 2-file parquet source
  * (maxFilesPerTrigger=1 → two microbatches so watermarks advance)
  * against the memory sink, comparing to batch equivalents.
  */
class StreamingSpec extends SparkTestBase {

  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .cache()
    val cut = ev.agg(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)")).head().getDouble(0)
    ev.filter(unix_micros(col("ts")) <= cut).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100) // distinct mtimes => deterministic batch order
    ev.filter(unix_micros(col("ts")) > cut).coalesce(1).write.parquet(s"$dir/f2")
    dir
  }

  private def streamEvents(path: String) = {
    val schema = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value").schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(path + "/f*")
  }

  test("ST1: windowed agg matches batch computation (complete mode)") {
    val q = Streams.windowedAgg(streamEvents(streamDir))
      .writeStream.format("memory").queryName("st1").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("st1")
      .agg(sum("n")).head().getLong(0)
    val total = Tables.load(spark, sfDir, "events").count()
    assert(streamed == total)
    // spot-check one window against batch
    val batch = Streams.windowedAgg(Tables.load(spark, sfDir, "events"))
    assert(spark.table("st1").count() == batch.count())
  }

  test("ST2: stateful sessionize emits closed sessions consistent with batch") {
    val q = Streams.sessionize(spark, streamEvents(streamDir))
      .writeStream.format("memory").queryName("st2").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("st2").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(3))).toSet
    assert(emitted.nonEmpty, "no sessions emitted — watermark never advanced")
    // batch truth: q22-style sessionization
    val batchSessions = graft.SparkEntry.queries("q22_sessionize")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getTimestamp(3).getTime, r.getLong(2))).toSet
    val missing = emitted -- batchSessions
    assert(missing.isEmpty, s"streamed sessions not found in batch truth: ${missing.take(3)}")
  }

  test("ST4: stream-stream interval join matches batch result") {
    val q = Streams.streamStreamJoin(streamEvents(streamDir))
      .writeStream.format("memory").queryName("st4").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("st4").count()
    val batch = Streams.streamStreamJoin_batchEquivalent(
      Tables.load(spark, sfDir, "events")).count()
    assert(streamed == batch, s"stream-stream join: $streamed vs batch $batch")
    assert(streamed > 0)
  }

  test("ST3: streaming dedup drops replayed events") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    ev.coalesce(1).write.parquet(s"$dir/f2") // exact replay
    val q = Streams.dedupStream(streamEvents(dir))
      .writeStream.format("memory").queryName("st3").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("st3").count() == ev.count())
    assert(spark.table("st3").select("event_id").distinct().count() == ev.count())
  }

  test("ST5: stream-static enrichment join matches batch left join") {
    // enrich the event stream with a per-user dimension derived from
    // customers (user ids map into the customer key space)
    val dim = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val q = Streams.streamStaticEnrich(streamEvents(streamDir), dim, "user_id")
      .writeStream.format("memory").queryName("st5").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("st5")
    val batch = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .join(dim, Seq("user_id"), "left")
    assert(streamed.count() == batch.count())
    assert(streamed.select("event_id", "segment").except(
      batch.select("event_id", "segment")).count() == 0)
  }

  test("ST6: streaming dup-candidate detection matches the batch band join") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-docs").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/f2")
    // the index is the PERSISTED artifact (O24), not a live rebuild —
    // the same stored files probeBandIndex reads in BandIndexSpec
    val idxDir = java.nio.file.Files.createTempDirectory("graft-stream-idx").toString
    graft.operators.Dedup.writeBandIndex(docs, "doc_id", "text", idxDir)
    val index = graft.operators.Dedup.readBandIndex(spark, idxDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val q = Streams.dupCandidatesStream(stream, index)
      .writeStream.format("memory").queryName("st6").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("st6")
    val batch = Streams.dupCandidatesStream(docs, index) // same code path, batch plan
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
    // near-dups exist in the corpus, so the check must actually fire
    assert(streamed.count() > 0)
  }

  test("ST8: streaming micro-batches dispatch through the routed sink") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-routed-stream").toString
    val sink = graft.sinks.RoutedSink.standard()
    val q = Streams.routedStreamSink(
      streamEvents(streamDir), sink, id => s"parquet:$outDir/batch_$id")
      .start()
    q.processAllAvailable(); q.stop()
    // both micro-batches landed under their routed targets and
    // together conserve the corpus
    val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory).map(_.toString)
    assert(dirs.length == 2, s"expected 2 batch dirs, got ${dirs.mkString(",")}")
    val written = dirs.map(d => spark.read.parquet(d)).reduce(_ unionByName _)
    assert(written.count() == Tables.load(spark, sfDir, "events").count())
    // text/wholeText sources round-trip the same corpus (S5)
    val tdir = java.nio.file.Files.createTempDirectory("graft-text").toString
    Tables.load(spark, sfDir, "documents").select("text")
      .coalesce(1).write.mode("overwrite").text(s"$tdir/lines")
    assert(graft.sources.Sources.text(spark, s"$tdir/lines").count() ==
      Tables.load(spark, sfDir, "documents").count())
    val whole = graft.sources.Sources.wholeText(spark, s"$tdir/lines")
    assert(whole.count() == 1) // one row per file (single coalesced part)
  }

  test("ST8 replay: re-running a micro-batch leaves the read-back corpus unchanged") {
    // crash recovery re-invokes the batch writer with the SAME id —
    // with the perBatchOverwriteTarget route the replay rewrites its
    // own batch=<id> directory, so the corpus is byte-identical
    val outDir = java.nio.file.Files.createTempDirectory("graft-replay-stream").toString
    val sink = graft.sinks.RoutedSink.standard()
    val writer = Streams.routedBatchWriter(sink, Streams.perBatchOverwriteTarget(outDir))
    val ev = Tables.load(spark, sfDir, "events")
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 === 1)
    writer(b0, 0L); writer(b1, 1L)
    val before = spark.read.parquet(s"$outDir/*")
      .collect().map(_.toString).sorted
    assert(before.length == ev.count(), "both batches must land exactly once")
    writer(b1, 1L) // the replay
    val after = spark.read.parquet(s"$outDir/*")
      .collect().map(_.toString).sorted
    assert(after.sameElements(before),
      s"replayed batch changed the corpus: ${before.length} -> ${after.length} rows")
    // contrast: the append route DOES duplicate on replay — the reason
    // ST8's contract points plain corpora at the overwrite target
    val appDir = java.nio.file.Files.createTempDirectory("graft-replay-append").toString
    val appWriter = Streams.routedBatchWriter(sink, _ => s"parquet-append:$appDir")
    appWriter(b1, 1L); appWriter(b1, 1L)
    assert(spark.read.parquet(appDir).count() == 2 * b1.count())
  }

  test("ST7: streaming bin packing equals batch packBins under id-ordered delivery") {
    val counted = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long").as("n_tokens"))
      .cache()
    // two micro-batches split by doc_id: delivery order == pack order
    val cut = counted.agg(expr("percentile(CAST(doc_id AS DOUBLE), 0.5)")).head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-pack").toString
    counted.filter(col("doc_id") <= cut).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    counted.filter(col("doc_id") > cut).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(counted.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val q = Streams.packBinsStream(spark, stream, budget = 512L)
      .writeStream.format("memory").queryName("st7").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("st7").select("doc_id", "lang", "n_tokens", "bin_id")
    assert(streamed.count() == counted.count()) // every doc emitted exactly once
    val batch = graft.operators.Ops
      .packBins(counted, "n_tokens", Seq("lang"), "doc_id", budget = 512)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin_id"))
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("ST12: streaming decontamination equals the batch operator over the same corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val evalDocs = docs.filter(col("doc_id") % 10 === 0).cache()
    val train = docs.filter(col("doc_id") % 10 =!= 0).cache()
    // two micro-batches split by doc_id parity-of-hundreds
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-decon").toString
    val cut = train.agg(expr("percentile(CAST(doc_id AS DOUBLE), 0.5)")).head().getDouble(0)
    train.filter(col("doc_id") <= cut).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    train.filter(col("doc_id") > cut).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val out = java.nio.file.Files.createTempDirectory("graft-decon-out").toString
    val q = Streams.decontaminateStream(stream, evalDocs, s"$out/decon").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(s"$out/decon")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toSet
    val batch = graft.operators.Dedup.decontaminate(train, evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("ST11: an idle-then-returning user keeps its compacted last click across timeouts") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 clicks, goes idle long enough for its key to flush and time
    // out (only u99 traffic advances the watermark), then purchases:
    // the compacted lastClick must survive the idle flush — the match
    // is the 2h-old click, not -1. Five micro-batches force the
    // timeout path between u1's click and its purchase.
    val batches = Seq(
      Seq((1L, t("2024-01-01 00:00:00"), 1L, "click", 0.0),
          (2L, t("2024-01-01 00:00:00"), 99L, "click", 0.0)),
      Seq((3L, t("2024-01-01 01:00:00"), 99L, "click", 0.0)),
      Seq((4L, t("2024-01-01 02:00:00"), 1L, "purchase", 1.0),
          (5L, t("2024-01-01 02:00:00"), 99L, "click", 0.0)),
      Seq((6L, t("2024-01-01 03:00:00"), 99L, "click", 0.0)),
      Seq((7L, t("2024-01-01 04:00:00"), 99L, "click", 0.0))
    )
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-idle").toString
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(s"$dir/f$i")
      Thread.sleep(1100)
    }
    val schema = batches.head.toDF("event_id", "ts", "user_id", "event_type", "value").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val q = Streams.asofStream(spark, stream)
      .writeStream.format("memory").queryName("st11idle").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("st11idle").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.get(4L) == Some(7200L * 1000000L),
      s"idle user's purchase must match the 2h-old compacted click, got $got")
  }

  test("ST11: streaming as-of join emits exactly the batch asofJoin values for flushed purchases") {
    val q = Streams.asofStream(spark, streamEvents(streamDir))
      .writeStream.format("memory").queryName("st11").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("st11").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))

    // batch twin: q57's exact formulation over the full events table
    val ev = Tables.load(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val batch = graft.operators.Joins
      .asofJoin(p, c, "user_id", "ts", "ts", outCol = "click_ts")
      .select(col("event_id"), col("user_id"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("click_ts")), lit(-1L)).as("lag_us"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    assert(emitted.nonEmpty, "watermark advance across the two files must flush some purchases")
    assert(emitted.length == emitted.map(_._1).distinct.length, "no purchase emitted twice")
    val wrong = emitted.filter { case (id, u, lag) => batch(id) != ((u, lag)) }
    assert(wrong.isEmpty, s"${wrong.length} emitted rows disagree with batch asofJoin: ${wrong.take(3).toSeq}")
    // the no-prior-click path must actually be exercised by the corpus
    assert(emitted.exists(_._3 == -1L) == batch.values.exists(_._2 == -1L) || emitted.length < batch.size)
  }

  test("ST13: streamed shard ingestion — deterministic shard placement, ordered files, epoch rewrite equals batch") {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-shardstream").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang")).cache()
    val cut = docs.agg(expr("percentile(CAST(doc_id AS DOUBLE), 0.5)")).head().getDouble(0)
    docs.filter(col("doc_id") <= cut).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    docs.filter(col("doc_id") > cut).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val out = s"$dir/shards"
    val q = Streams.appendShuffledShardsStream(stream, out, nShards = 4, seed = "7")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()

    // reads resolve the layout's _CURRENT manifest (versioned since
    // round 10 — the first micro-batch created v00001, the second
    // appended into it after deriving (nShards, seed) from _LAYOUT)
    val back = graft.operators.ShardLayout.readShuffledShards(spark, out)
    // every doc exactly once, in the shard the pure arithmetic assigns
    assert(back.count() == docs.count())
    assert(back.select(col("doc_id")).exceptAll(docs.select(col("doc_id"))).isEmpty)
    assert(back.where(pmod(col("skey"), lit(4)).cast("int") =!= col("shard")).isEmpty)
    // two micro-batches appended — shard dirs hold MULTIPLE files,
    // each internally permutation-ordered. Files are read
    // INDIVIDUALLY (tiny file -> one scan partition, collect order ==
    // file order) — no scan-order inference.
    val resolved = new java.io.File(
      graft.operators.IndexLayout.resolveDir(spark, out).stripPrefix("file:"))
    val files = resolved.listFiles().filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles().filter(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("_")))
    assert(files.length > 4, "expected multiple appended files across 4 shards")
    files.foreach { f =>
      val seq = spark.read.parquet(f.toString)
        .select(col("skey"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(seq == seq.sorted, s"appended shard file ${f.getName} is out of permutation order")
    }
    // the epoch-boundary rewrite restores the loader contract the
    // append stream can only approximate: reading each shard's files
    // in LISTING order, top to bottom, IS the permutation order.
    // Pinned as read-order == key-order (scan-time rid vs (skey, id)
    // rank per shard) — comparing the rewrite against a second batch
    // write would be tautological (both sort by the same pure
    // arithmetic), but THIS check fails the moment the writer stops
    // ordering its files (e.g. a dropped sortWithinPartitions).
    graft.operators.ShardLayout.writeShuffledShards(
      back.drop("skey", "shard"), "doc_id", s"$dir/epoch", nShards = 4, seed = "7")
    // per shard: concatenating the files in LISTING order, each read
    // individually top to bottom, must yield the (skey, id)-sorted
    // permutation sequence
    val epochRoot = new java.io.File(
      graft.operators.IndexLayout.resolveDir(spark, s"$dir/epoch").stripPrefix("file:"))
    epochRoot.listFiles().filter(_.getName.startsWith("shard=")).foreach { sd =>
      val concat = sd.listFiles().filter(f =>
          f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .sortBy(_.getName)
        .flatMap(f => spark.read.parquet(f.toString)
          .select(col("skey"), col("doc_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))))
        .toSeq
      assert(concat == concat.sorted,
        s"epoch rewrite: ${sd.getName} files in listing order must stream the permutation")
    }
    // and the rewrite carries exactly the ingested rows — BOTH
    // directions (one-sided exceptAll would pass a rewrite that
    // silently drops a shard)
    val epochIds = graft.operators.ShardLayout.readShuffledShards(spark, s"$dir/epoch")
      .select(col("doc_id"))
    assert(epochIds.count() == docs.count())
    assert(epochIds.exceptAll(docs.select(col("doc_id"))).isEmpty)
  }

  test("ST14: windowed quantile sketch — emitted windows rank-bounded vs batch exact percentiles") {
    import spark.implicits._
    val q = Streams.windowedQuantiles(streamEvents(streamDir))
      .writeStream.format("memory").queryName("st14").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("st14")
    assert(emitted.count() > 0, "no windows emitted — watermark never advanced")
    // batch truth: exact discrete percentiles per window at the q64
    // bound edges (p ± 2/accuracy); every streamed sketch value must
    // land inside its window, and n must equal the batch row count —
    // pins that the merged-across-microbatches summary is the same
    // contract the batch agg honors
    val eps = 2.0 / 1000
    def disc(p: Double) =
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY value)")
    val exact = Tables.load(spark, sfDir, "events")
      .groupBy(window($"ts", "5 minutes").getField("start").as("w_start"), $"event_type")
      .agg(
        disc(0.5 - eps).as("lo50"), disc(0.5 + eps).as("hi50"),
        disc(0.9 - eps).as("lo90"), disc(0.9 + eps).as("hi90"),
        disc(0.99 - eps).as("lo99"), disc(0.99 + eps).as("hi99"),
        count(lit(1)).as("n_batch"))
    val joined = emitted.join(exact, Seq("w_start", "event_type")).cache()
    try {
      assert(joined.count() == emitted.count(), "emitted window missing from batch truth")
      assert(joined.where($"n" =!= $"n_batch").count() == 0)
      assert(joined.where(
        $"p50" < $"lo50" || $"p50" > $"hi50" ||
        $"p90" < $"lo90" || $"p90" > $"hi90" ||
        $"p99" < $"lo99" || $"p99" > $"hi99").count() == 0,
        "a streamed sketch value fell outside the GK rank bound")
    } finally joined.unpersist()
  }

  test("ST15: streaming changelog compaction fixpoint equals q65's batch struct-max, order-free") {
    import spark.implicits._
    // ts-INTERLEAVED micro-batches (split by event_id parity, not
    // time): the fixpoint must not depend on arrival order or batch
    // boundaries, because the per-key state is the lexicographic
    // (ts_us, event_id) running max — q65's exact struct-max agg
    // folded incrementally.
    val ev = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft-st15").toString
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val q = Streams.changelogCompactStream(spark, stream)
      .writeStream.format("memory").queryName("st15").outputMode("update").start()
    q.processAllAvailable(); q.stop()
    // update mode re-emits a key's refreshed row each batch that
    // touches it; n_ops strictly grows per touch, so the row with the
    // key's max n_ops is its final state
    val fin = spark.table("st15")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id", $"k").orderBy($"n_ops".desc)))
      .where($"rn" === 1).drop("rn")
    val batch = ev
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        unix_micros($"ts").as("ts_us"), $"event_id", $"event_type", $"value")
      .groupBy($"user_id", $"k")
      .agg(max(struct($"ts_us", $"event_id", $"event_type", $"value")).as("last"),
        count(lit(1)).as("n_ops"))
      .select($"user_id", $"k", $"last.ts_us".as("ts_us"),
        $"last.event_type".as("op"), $"last.value".as("value"), $"n_ops",
        ($"last.event_type" === "error").as("is_tombstone"))
    assert(fin.count() == batch.count())
    assert(fin.except(batch).isEmpty && batch.except(fin).isEmpty)
    // tombstoned keys are EMITTED flagged, not dropped (late uploads
    // must keep seeing the suppression)
    assert(fin.where($"is_tombstone").count() ==
      batch.where($"is_tombstone").count())
  }

  test("ST16: streaming raster dup candidates catch every re-containered body, batch-parity") {
    import spark.implicits._
    val corpus = graft.operators.Multimodal.imagePayloads(spark, sfDir)
    // the index is the PERSISTED band-key artifact, as ST6 probes it
    val idxDir = java.nio.file.Files.createTempDirectory("graft-st16-idx").toString
    graft.operators.Multimodal.rasterBandKeys(corpus, "doc_id", "payload")
      .write.parquet(s"$idxDir/idx")
    val index = spark.read.parquet(s"$idxDir/idx")
    // the stream: every corpus body RE-WRAPPED in its neighbor
    // container (ids + 1e9), arriving in two micro-batches
    val twins = graft.operators.Multimodal.payloadsWithContainer(
      spark, sfDir, containerShift = 1, idOffset = 1000000000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-st16").toString
    twins.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    twins.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(twins.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val q = Streams.rasterDupCandidatesStream(stream, index)
      .writeStream.format("memory").queryName("st16").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("st16")
    val batch = Streams.rasterDupCandidatesStream(twins, index)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    // the invariance contract: EVERY banded incoming body collides
    // with its original-container twin on all 4 bands
    val banded = graft.operators.Multimodal
      .rasterBandKeys(twins, "doc_id", "payload")
      .select($"doc_id").distinct()
    val caughtTwins = streamed
      .where($"corpus_id" === $"doc_id" - 1000000000L)
    assert(caughtTwins.select($"doc_id").distinct().count() == banded.count())
    assert(caughtTwins.groupBy($"doc_id").count().where($"count" =!= 4).isEmpty)
    assert(banded.count() > 0)
  }

  /** A raster band index whose first epoch holds the even-id corpus
    * payloads' keys, plus a two-file stream of the odd-id payloads.
    */
  private def rasterIndexAndStream(tag: String) = {
    import spark.implicits._
    val corpus = graft.operators.Multimodal.imagePayloads(spark, sfDir)
    val idx = java.nio.file.Files.createTempDirectory(s"graft-$tag-idx").toString
    val v = graft.operators.IndexLayout.nextVersion(spark, idx)
    graft.operators.Multimodal.rasterBandKeys(corpus.where($"doc_id" % 2 === 0), "doc_id", "payload")
      .withColumn("pfx", substring($"bh", 1, 1))
      .write.partitionBy("band", "pfx").parquet(s"$idx/$v")
    graft.operators.IndexLayout.publish(spark, idx, v)
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag").toString
    val odd = corpus.where($"doc_id" % 2 === 1)
    odd.where($"doc_id" % 4 === 1).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    odd.where($"doc_id" % 4 === 3).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    (corpus, idx, stream)
  }

  test("ST16 write half: each micro-batch appends its raster band keys into the current epoch") {
    import spark.implicits._
    val (corpus, idx, stream) = rasterIndexAndStream("st16-append")
    val epoch = graft.operators.IndexLayout.resolveDir(spark, idx)
    val q = Streams.appendRasterBandIndexStream(stream, idx).start()
    q.processAllAvailable(); q.stop()
    assert(graft.operators.IndexLayout.resolveDir(spark, idx) == epoch)
    val stored = spark.read.parquet(epoch)
      .select($"doc_id", $"band".cast("int"), $"bh").distinct()
    val expected = graft.operators.Multimodal.rasterBandKeys(corpus, "doc_id", "payload")
      .select($"doc_id", $"band".cast("int"), $"bh")
    assert(stored.except(expected).isEmpty && expected.except(stored).isEmpty)
    assert(stored.where($"doc_id" % 2 === 1).count() > 0, "no streamed keys landed")
  }

  test("ST16 write half: an append that a concurrent publish overtook fails the query") {
    val (_, idx, stream) = rasterIndexAndStream("st16-race")
    // a rewrite publishing its epoch WHILE the batch's append writes:
    // the payloads pass through a function that flips the manifest
    val manifest = new java.io.File(idx, graft.operators.IndexLayout.ManifestName).getPath
    val publishMidAppend = udf { (b: Array[Byte]) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(manifest), "v00002".getBytes("UTF-8"))
      b
    }.asNondeterministic()
    val racing = stream.withColumn("payload", publishMidAppend(col("payload")))
    val q = Streams.appendRasterBandIndexStream(racing, idx).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("appendRasterBandIndex: epoch moved during append")),
      s"unexpected failure: $err")
  }

  test("ST17: no-eviction regime — emitted windows equal the batch exact top-10") {
    import spark.implicits._
    // kCounters far above any window's user cardinality at spec
    // scale: MG never evicts, counters are exact, so the emitted
    // rows must equal the batch exact top-10 per emitted window.
    val q = Streams.windowedTopKStream(spark, streamEvents(streamDir),
        kCounters = 65536, topK = 10)
      .writeStream.format("memory").queryName("st17a").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("st17a").cache()
    assert(emitted.count() > 0, "no windows emitted — watermark never advanced")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"w_start").orderBy($"cnt".desc, $"user_id")
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window($"ts", "5 minutes").getField("start").as("w_start"), $"user_id")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_w", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"w_start")))
      .withColumn("rank", row_number().over(win).cast("int"))
      .where($"rank" <= 10)
      .select($"w_start", $"user_id", $"cnt".as("cnt_lb"), $"n_w", $"rank")
    val batchForEmitted = batch.join(
      emitted.select($"w_start").distinct(), "w_start")
    assert(emitted.except(batchForEmitted).isEmpty &&
      batchForEmitted.except(emitted).isEmpty,
      "no-eviction streamed top-10 diverged from batch exact")
    emitted.unpersist()
  }

  test("ST17: eviction regime — MG bound and guaranteed-hitter coverage hold per window") {
    import spark.implicits._
    val kC = 4
    val q = Streams.windowedTopKStream(spark, streamEvents(streamDir),
        kCounters = kC, topK = kC)
      .writeStream.format("memory").queryName("st17b").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("st17b").cache()
    assert(emitted.count() > 0)
    val exact = Tables.load(spark, sfDir, "events")
      .groupBy(window($"ts", "5 minutes").getField("start").as("w_start"), $"user_id")
      .agg(count(lit(1)).as("c_true"))
    val nw = exact.groupBy($"w_start").agg(sum($"c_true").as("n_true"))
    // 1. window totals exact; every counter a true lower bound within
    //    the n_w/(k+1) MG slack
    val j = emitted.join(exact, Seq("w_start", "user_id"), "left")
      .join(nw, "w_start").cache()
    assert(j.where($"n_w" =!= $"n_true").count() == 0, "window total drifted")
    assert(j.where($"c_true".isNull).count() == 0, "emitted a user the window never saw")
    assert(j.where($"cnt_lb" > $"c_true" ||
      $"cnt_lb" < $"c_true" - $"n_w" / (kC + 1)).count() == 0,
      "a counter escaped the MG error band")
    // 2. every user with c_true*(k+1) > n_w in an EMITTED window is
    //    guaranteed to survive eviction and must be present
    val must = exact.join(nw, "w_start")
      .where($"c_true" * (kC + 1) > $"n_true")
      .join(emitted.select($"w_start").distinct(), "w_start")
      .select($"w_start", $"user_id")
    assert(must.except(emitted.select($"w_start", $"user_id")).isEmpty,
      "a guaranteed heavy hitter was evicted — the MG invariant is broken")
    j.unpersist(); emitted.unpersist()
  }

  test("ST19: sliding windows — emitted == batch per window, every event counted twice overall") {
    import spark.implicits._
    val q = Streams.slidingRates(streamEvents(streamDir))
      .writeStream.format("memory").queryName("st19").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("st19").cache()
    assert(emitted.count() > 0, "no sliding windows emitted")
    val batch = Streams.slidingRates(Tables.load(spark, sfDir, "events")).cache()
    val batchForEmitted = batch.join(
        emitted.select($"w_start", $"event_type").distinct(), Seq("w_start", "event_type"))
      // USING-join moves join keys to the front; restore emitted's
      // column order because except() resolves positionally
      .select($"w_start", $"w_end", $"event_type", $"n", $"sum_cents")
    assert(emitted.except(batchForEmitted).isEmpty &&
      batchForEmitted.except(emitted).isEmpty,
      "streamed sliding windows diverged from batch")
    // 10-min windows sliding by 5: every event lands in exactly 2
    val total = Tables.load(spark, sfDir, "events").count()
    assert(batch.agg(sum($"n")).head().getLong(0) == 2 * total,
      "overlap factor is not exactly 2 — slide arithmetic broke")
    emitted.unpersist(); batch.unpersist()
  }

  test("ST20: native session windows — batch == q22's window-lag form; streamed closed sessions match") {
    import spark.implicits._
    // Boundary note: session_window is half-open (an event exactly
    // gap after the last would NOT merge) while q22's `> gap` rule
    // would keep it — indistinguishable on µs-random data, where
    // exact-gap ties do not occur; this parity pins that both
    // formulations agree everywhere else.
    val ev = Tables.load(spark, sfDir, "events")
    val native = Streams.sessionWindowAgg(ev)
      .select($"user_id", $"session_start", $"n_events")
    val q22 = graft.SparkEntry.queries("q22_sessionize")(spark, sfDir)
      .select($"user_id", $"session_start", $"n_events")
    assert(native.count() == q22.count(), "session counts diverged")
    assert(native.except(q22).isEmpty && q22.except(native).isEmpty,
      "native session_window disagrees with the window-lag sessionizer")
    val q = Streams.sessionWindowAgg(streamEvents(streamDir))
      .writeStream.format("memory").queryName("st20").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("st20")
    assert(emitted.count() > 0, "no sessions emitted — watermark never advanced")
    assert(emitted.except(Streams.sessionWindowAgg(ev)).isEmpty,
      "a streamed session does not appear in the batch native result")
  }

  private def tokenizedDocs = Tables.load(spark, sfDir, "documents")
    .select(col("doc_id"), col("source"),
      size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long").as("n_tokens"))

  test("ST18: single-batch delivery equals the batch greedy fill in doc_id order") {
    import spark.implicits._
    val docs = tokenizedDocs
    val dir = java.nio.file.Files.createTempDirectory("graft-st18a").toString
    docs.coalesce(1).write.parquet(s"$dir/f1")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val q = Streams.sourceCapStream(spark, stream, cap = 2000L)
      .writeStream.format("memory").queryName("st18a").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val batch = docs
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(win), lit(0L)))
      .where($"cum_before" < 2000L)
      .select($"doc_id", $"source", $"n_tokens", $"cum_before")
    val got = spark.table("st18a")
    assert(got.count() > 0 && got.count() == batch.count())
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "one-trigger streamed admission diverged from the batch greedy fill")
  }

  test("ST18: multi-batch admission keeps the greedy chain identity and the budget bound") {
    import spark.implicits._
    val docs = tokenizedDocs
    val dir = java.nio.file.Files.createTempDirectory("graft-st18b").toString
    // adversarial decomposition: LATER doc_ids arrive FIRST
    docs.where($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    docs.where($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val cap = 2000L
    val q = Streams.sourceCapStream(spark, stream, cap = cap)
      .writeStream.format("memory").queryName("st18b").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("st18b").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // every admission happened under the cap
    assert(got.forall(_._4 < cap), "a doc was admitted at or over budget")
    // greedy chain identity per source: sorted by cum_before, each
    // admission's exclusive total is exactly the sum of its
    // predecessors — no token leaked, no phantom budget
    got.groupBy(_._1).foreach { case (src, rows) =>
      val chain = rows.sortBy(_._4)
      var acc = 0L
      chain.foreach { case (_, id, nt, cb) =>
        assert(cb == acc, s"$src: doc $id admitted at $cb, expected $acc")
        acc += nt
      }
    }
    // every source in the corpus admits at least its first arrival
    val srcCount = docs.select($"source").distinct().count()
    assert(got.map(_._1).distinct.length.toLong == srcCount)
  }

  test("ST21: streamed tokenize-pack — in-plan encode, post-compaction layout equals batch O44") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tokstream").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").cache()
    docs.where($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/f1")
    Thread.sleep(1100)
    docs.where($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/f*")
    val out = s"$dir/tokshards"
    val q = Streams.tokenizePackStream(stream, out, window = 64,
      nShards = 4, seed = "ep0")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    // epoch-boundary repair, then the streamed layout must hold the
    // SAME loader-ready samples as a from-scratch batch O44 run
    graft.operators.ShardLayout.compactShuffledShards(spark, out)
    val batchDir = s"$dir/batch"
    graft.operators.ShardLayout.packTokenShards(docs, batchDir, window = 64,
      nShards = 4, seed = "ep0")
    def content(path: String) =
      graft.operators.ShardLayout.readShuffledShards(spark, path)
        .select($"sample_id", $"n_real",
          expr("concat_ws(' ', transform(ids, x -> cast(x as string)))").as("idstr"))
    assert(content(out).exceptAll(content(batchDir)).isEmpty
        && content(batchDir).exceptAll(content(out)).isEmpty
        && content(out).count() > 0,
      "streamed+compacted token shards differ from the batch O44 layout")
    // the encode ran INSIDE the streaming plan (stateless map+explode,
    // no state store): the checkpoint has no state/ directory content
    val stateDir = new java.io.File(s"$dir/ckpt/state")
    assert(!stateDir.exists() || stateDir.listFiles().isEmpty,
      "tokenizePackStream must hold no streaming state")
  }

  test("ST24: streamed gram probes equal sequential batch probe+append; later batches see earlier ones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gramstream").toString
    val docs = Tables.load(spark, sfDir, "documents")
    // seed index: the first 300 docs; stream the rest in two batches
    graft.operators.GramIndex.writeGramIndex(
      docs.where($"doc_id" < 300), s"$dir/idx", gram = 8, nBuckets = 8)
    val b1 = docs.where($"doc_id" >= 300 && $"doc_id" < 400)
      .select($"doc_id", $"text")
    val b2 = docs.where($"doc_id" >= 400).select($"doc_id", $"text")
    b1.coalesce(1).write.parquet(s"$dir/in/f1")
    Thread.sleep(1100)
    b2.coalesce(1).write.parquet(s"$dir/in/f2")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/f*")
    val q = graft.streaming.Streams.gramProbeStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = keyed(spark.read.parquet(s"$dir/out"))
    // sequential replay: probe b1 vs seed, append; probe b2 vs seed+b1
    val rdir = java.nio.file.Files.createTempDirectory("graft-gramreplay").toString
    graft.operators.GramIndex.writeGramIndex(
      docs.where($"doc_id" < 300), s"$rdir/idx", gram = 8, nBuckets = 8)
    val i1 = graft.operators.GramIndex.readGramIndex(spark, s"$rdir/idx")
    val r1 = keyed(graft.operators.GramIndex.probeGramIndex(b1, i1))
    graft.operators.GramIndex.appendGramIndex(b1, s"$rdir/idx", batchId = 0L)
    val i2 = graft.operators.GramIndex.readGramIndex(spark, s"$rdir/idx")
    val r2 = keyed(graft.operators.GramIndex.probeGramIndex(b2, i2))
    assert(streamed == (r1 ++ r2) && streamed.nonEmpty,
      s"streamed=${streamed.size} replay=${(r1 ++ r2).size}")
    // cross-batch visibility: the streamed index now covers b1's
    // content, so a b1-duplicating doc probes as fully repeated
    val echo = b1.limit(1).select(lit(999999L).as("doc_id"), $"text")
    val flagged = graft.operators.GramIndex.probeGramIndex(echo,
      graft.operators.GramIndex.readGramIndex(spark, s"$dir/idx"))
    assert(flagged.count() > 0, "a doc duplicating batch-1 content was not flagged")
  }

  test("ST24: an engine-level REPLAYED micro-batch leaves index state and probe rows identical") {
    import spark.implicits._
    // the at-least-once contract made real: run one micro-batch to
    // completion, then erase its checkpoint COMMIT marker (the crash
    // window Structured Streaming actually has — foreachBatch done,
    // commit not yet durable) and restart: the engine re-delivers the
    // SAME batch with the SAME batchId, and O52's batch-keyed append
    // ledger must make the re-delivery a structural no-op
    val dir = java.nio.file.Files.createTempDirectory("graft-gramreplay3").toString
    val docs = Tables.load(spark, sfDir, "documents")
    graft.operators.GramIndex.writeGramIndex(
      docs.where($"doc_id" < 300), s"$dir/idx", gram = 8, nBuckets = 8)
    val b1 = docs.where($"doc_id" >= 300 && $"doc_id" < 400).select($"doc_id", $"text")
    b1.coalesce(1).write.parquet(s"$dir/in/f1")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/f*")
    val q1 = graft.streaming.Streams.gramProbeStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q1.processAllAvailable(); q1.stop()
    val idxAfter = graft.operators.GramIndex.readGramIndex(spark, s"$dir/idx")
    val gramState = idxAfter.grams.groupBy($"g").agg(sum($"c").as("c"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val echo = b1.limit(1).select(lit(999999L).as("doc_id"), $"text")
    def probeEcho() = graft.operators.GramIndex.probeGramIndex(echo,
        graft.operators.GramIndex.readGramIndex(spark, s"$dir/idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probeBefore = probeEcho()
    assert(probeBefore.nonEmpty)
    // the OUTPUT rows matter as much as the index: a replayed trigger
    // that re-PROBED would see the batch's own appended counts and
    // flag unique batch content as repeated — every output row it
    // appends would be a false positive, so the replay must not add
    // a single row to outPath
    val outBefore = spark.read.parquet(s"$dir/out").count()
    // erase the commit marker -> restart replays batch 0
    val commits = new java.io.File(s"$dir/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, "." + commits.last.getName + ".crc")
    assert(commits.last.delete())
    if (crc.exists()) crc.delete() // local-FS checksum sidecar would block the rewrite
    val q2 = graft.streaming.Streams.gramProbeStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q2.processAllAvailable(); q2.stop()
    val idxReplayed = graft.operators.GramIndex.readGramIndex(spark, s"$dir/idx")
    val gramState2 = idxReplayed.grams.groupBy($"g").agg(sum($"c").as("c"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(gramState2 == gramState,
      "a replayed micro-batch changed the stored gram counts")
    assert(probeEcho() == probeBefore,
      "a replayed micro-batch changed probe results")
    assert(spark.read.parquet(s"$dir/out").count() == outBefore,
      "a replayed micro-batch appended (false-positive) output rows")
  }

  test("ST23: streamed lexical probes equal the batch O51 probe across micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lexstream").toString
    val docs = Tables.load(spark, sfDir, "documents")
    graft.operators.LexIndex.writeLexIndex(docs, s"$dir/idx", nBuckets = 16)
    val queries = graft.operators.Similarity.bm25Queries.toDF("q_id", "term")
    // two micro-batches: queries 1–2 then 3–4
    queries.where($"q_id" <= 2).coalesce(1).write.parquet(s"$dir/q/f1")
    Thread.sleep(1100)
    queries.where($"q_id" > 2).coalesce(1).write.parquet(s"$dir/q/f2")
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/q/f*")
    val q = graft.streaming.Streams.lexProbeStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = keyed(spark.read.parquet(s"$dir/out"))
    val batch = keyed(graft.operators.LexIndex.probeLexIndex(queries,
      graft.operators.LexIndex.readLexIndex(spark, s"$dir/idx")))
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed lexical probe != batch O51 probe (${streamed.size} vs ${batch.size})")
  }

  test("ST23: appended postings are served at the NEXT trigger with fresh corpus-global stats") {
    import spark.implicits._
    // day-2 ingestion meets serving: the handle is re-read per
    // trigger, so a mid-stream appendLexIndex (new posting/df files +
    // stats-delta manifests in the same epoch) must be visible to the
    // next micro-batch — and score EXACTLY like a full rewrite over
    // the union corpus would (stale-statistics bugs show up here)
    val dir = java.nio.file.Files.createTempDirectory("graft-lexstream2").toString
    val docs = Tables.load(spark, sfDir, "documents")
    graft.operators.LexIndex.writeLexIndex(
      docs.where($"doc_id" < 300), s"$dir/idx", nBuckets = 8)
    val queries = graft.operators.Similarity.bm25Queries.toDF("q_id", "term")
    queries.where($"q_id" <= 2).coalesce(1).write.parquet(s"$dir/q/f1")
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/q/f*")
    val q = graft.streaming.Streams.lexProbeStream(stream, s"$dir/idx", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    // append the rest of the corpus between triggers, then feed the
    // second query batch
    graft.operators.LexIndex.appendLexIndex(
      docs.where($"doc_id" >= 300), s"$dir/idx", batchId = 99L)
    queries.where($"q_id" > 2).coalesce(1).write.parquet(s"$dir/q/f2")
    q.processAllAvailable(); q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = keyed(spark.read.parquet(s"$dir/out"))
    // expectation assembled per trigger: queries 1-2 saw the seed
    // index; queries 3-4 saw seed + appended == a full index
    val fullDir = java.nio.file.Files.createTempDirectory("graft-lexstream2f").toString
    graft.operators.LexIndex.writeLexIndex(docs, fullDir, nBuckets = 8)
    val expect =
      keyed(graft.operators.LexIndex.probeLexIndex(queries.where($"q_id" <= 2), {
        val seedOnly = java.nio.file.Files.createTempDirectory("graft-lexstream2s").toString
        graft.operators.LexIndex.writeLexIndex(
          docs.where($"doc_id" < 300), seedOnly, nBuckets = 8)
        graft.operators.LexIndex.readLexIndex(spark, seedOnly)
      })) ++
      keyed(graft.operators.LexIndex.probeLexIndex(queries.where($"q_id" > 2),
        graft.operators.LexIndex.readLexIndex(spark, fullDir)))
    assert(streamed == expect && streamed.nonEmpty,
      s"streamed probes over an appended epoch != seed/full expectation " +
        s"(${streamed.size} vs ${expect.size})")
  }
}
