package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Round-6 index lifecycle: versioned-manifest publishing (readers
  * racing a compaction never see a missing index), crash recovery
  * (stale legacy swap dirs, unpublished versions, lost-live restore),
  * legacy-layout migration, and tombstone DELETION — the takedown/
  * retention obligation of a 100 TB training corpus: a dropped doc is
  * masked from probes immediately, applied permanently at compaction,
  * and never reappears on any surface (batch probe, post-compact
  * probe, ST6 streaming), while sizes shrink and DPP still prunes.
  */
class IndexLifecycleSpec extends SparkTestBase {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")

  private def tmp(tag: String): String =
    tempDir(s"graft-$tag").toString

  private def mkBatch(rows: (Long, String)*) =
    spark.createDataFrame(rows.toIndexedSeq).toDF("doc_id", "text")

  private val keeperText =
    "quartz marble obsidian granite basalt slate gneiss schist " +
      "pumice shale flint chert travertine dolomite gypsum quartzite"
  private val keeperText2 =
    "violet crimson cerulean ochre viridian umber sienna teal " +
      "magenta chartreuse vermilion indigo cobalt saffron mauve sepia"

  test("probes racing repeated compaction publishes never fail") {
    val dir = tmp("band-race")
    Dedup.writeBandIndex(docs, "doc_id", "text", dir)
    val expected = Dedup.readBandIndex(spark, dir).count()
    @volatile var compactErr: Option[Throwable] = None
    val compactor = new Thread(() =>
      try (1 to 3).foreach { _ =>
        // keepVersions=2: a reader that resolved the manifest two
        // publishes ago still finds its files (the grace window)
        Dedup.compactBandIndex(spark, dir, keepVersions = 2)
      } catch { case e: Throwable => compactErr = Some(e) })
    compactor.start()
    var reads = 0
    try
      while (compactor.isAlive) {
        // resolve + count from scratch each iteration — the reader
        // path a probe takes; any missing-directory window throws
        assert(Dedup.readBandIndex(spark, dir).count() == expected)
        reads += 1
      }
    finally compactor.join()
    assert(compactErr.isEmpty, s"compaction failed: $compactErr")
    assert(reads > 0, "the reader loop never overlapped the compactions")
    // at least one concurrent read per compaction cycle is the
    // meaningful regression bar; reads is typically much higher
  }

  test("tombstoned doc is masked immediately, applied at compaction, gone everywhere") {
    val dir = tmp("band-tomb")
    Dedup.writeBandIndex(docs, "doc_id", "text", dir)
    // two keepers: 900001 will be taken down, 900002 survives (its
    // collision keeps the post-deletion DPP probe's result non-empty
    // — an all-empty probe lets AQE's empty-relation propagation
    // erase the index scan, leaving nothing to measure)
    Dedup.appendBandIndex(
      mkBatch(900001L -> keeperText, 900002L -> keeperText2), "doc_id", "text", dir)

    // day-3 re-ingest collides with the appended keeper
    val day3 = mkBatch(900003L -> keeperText)
    def probePairs() = Dedup.probeBandIndex(day3, "doc_id", "text",
      Dedup.readBandIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probePairs().contains((900003L, 900001L)))

    // takedown: the keeper is tombstoned → masked from the VERY NEXT
    // probe, before any maintenance runs
    Dedup.tombstoneBandIndex(mkBatch(900001L -> "").select("doc_id"), "doc_id", dir)
    assert(!probePairs().contains((900003L, 900001L)),
      "pending tombstone must mask the doc from probes immediately")
    // ...and from the ST6 streaming surface (batch-mode plan)
    val st6 = graft.streaming.Streams.dupCandidatesStream(
      day3, Dedup.readBandIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(!st6.contains((900003L, 900001L)),
      "pending tombstone must mask the doc from the streaming probe")

    // compaction applies the deletion permanently
    val rowsBefore = spark.read.parquet(IndexLayout.resolveDir(spark, dir)).count()
    Dedup.compactBandIndex(spark, dir)
    val resolved = IndexLayout.resolveDir(spark, dir)
    assert(spark.read.parquet(resolved)
      .filter(col("doc_id") === 900001L).count() == 0,
      "compaction must delete the tombstoned doc's band keys from storage")
    assert(spark.read.parquet(resolved).count() < rowsBefore,
      "the stored index must shrink")
    assert(!probePairs().contains((900003L, 900001L)))
    // the consumed tombstone set is reclaimed → the no-tombstone plan
    // shape (and its DPP) returns
    assert(!IndexLayout.hasTombstones(spark, dir),
      "applied tombstone files must be reclaimed")

    // DPP still prunes the post-tombstone index (the BandIndexSpec
    // recipe: parquet-backed one-doc batch with a real Filter),
    // probing the SURVIVING keeper so the result stays non-empty
    val oneDir = tmp("band-tomb-one")
    mkBatch(900004L -> keeperText2).write.mode("overwrite").parquet(oneDir)
    val one = spark.read.parquet(oneDir).filter(col("doc_id") === 900004L)
    val probed = Dedup.probeBandIndex(one, "doc_id", "text",
      Dedup.readBandIndex(spark, dir))
    val survived = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(survived.contains((900004L, 900002L)),
      "the surviving keeper must still collide post-compaction")
    val scans = collectFileScans(probed.queryExecution.executedPlan)
    // match on rootPaths, not toString — large plans get truncated
    val idxScan = scans.find(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(idxScan.isDefined, "no index scan in the probe plan")
    val dirsRead = idxScan.get.metrics.get("numPartitions")
      .fold(fail("no numPartitions metric"))(_.value)
    assert(dirsRead <= 16, s"post-compaction probe read $dirsRead buckets")
  }

  test("a legacy unversioned index migrates in place on first compaction") {
    val dir = tmp("band-legacy")
    // the pre-round-6 layout: hive dirs directly under the path
    graft.sinks.RoutedSink.standard().write(s"parquet:$dir:by:band+pfx",
      Dedup.bandKeys(docs, "doc_id", "text")
        .withColumn("pfx", substring(col("bh"), 1, 1)))
    assert(IndexLayout.currentVersion(spark, dir).isEmpty)
    // legacy reads resolve to the path itself
    val legacyRows = Dedup.readBandIndex(spark, dir).count()
    assert(legacyRows > 0)
    Dedup.compactBandIndex(spark, dir)
    // post-migration: manifest resolves, identical content
    assert(IndexLayout.currentVersion(spark, dir).isDefined)
    assert(Dedup.readBandIndex(spark, dir).count() == legacyRows)
  }

  test("crash leftovers are recovered: stale swap dirs, unpublished versions, lost live") {
    val dir = tmp("band-crash")
    Dedup.writeBandIndex(docs.limit(50), "doc_id", "text", dir)
    val rows = Dedup.readBandIndex(spark, dir).count()
    // (a) legacy staging dir from a pre-round-6 crash
    new java.io.File(dir + "__compacting").mkdirs()
    // (b) an unpublished version dir from a rewrite that died mid-write
    val orphan = new java.io.File(dir, "v99999")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("garbage"), "x")
    Dedup.compactBandIndex(spark, dir)
    assert(!new java.io.File(dir + "__compacting").exists())
    assert(!orphan.exists(), "unpublished version dirs must be cleaned")
    assert(Dedup.readBandIndex(spark, dir).count() == rows)

    // (c) death between the legacy swap's two renames: live data sits
    // in __pre_compact, the live path is gone — recovery restores it
    val dir2 = tmp("band-crash2")
    graft.sinks.RoutedSink.standard().write(s"parquet:$dir2:by:band+pfx",
      Dedup.bandKeys(docs.limit(50), "doc_id", "text")
        .withColumn("pfx", substring(col("bh"), 1, 1)))
    val rows2 = Dedup.readBandIndex(spark, dir2).count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir2), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir2),
      new org.apache.hadoop.fs.Path(dir2 + "__pre_compact")))
    Dedup.compactBandIndex(spark, dir2)
    assert(!new java.io.File(dir2 + "__pre_compact").exists())
    assert(Dedup.readBandIndex(spark, dir2).count() == rows2,
      "recovery must restore the retired live data")

    // (d) every owner's next rewrite recovers: an orphan version dir
    // newer than _CURRENT is deleted, and the layout reads back what
    // the same write + rewrite give on a clean path
    import spark.implicits._
    val small = docs.where($"doc_id" < 50)
    val emb = Tables.load(spark, sfDir, "embeddings")
    def changelog(path: String) = ShardLayout.applyChangelog(spark, path,
      Seq((1L, 10L, "a", false), (2L, 10L, "b", false)).toDF("k", "v", "payload", "is_tombstone"),
      Seq("k"), Seq("v"))
    final case class Owner(
        name: String,
        write: String => Unit,
        rewrite: String => Unit,
        read: String => org.apache.spark.sql.DataFrame,
        epoch: String => String = identity)
    val owners = Seq(
      Owner("band", Dedup.writeBandIndex(small, "doc_id", "text", _),
        Dedup.writeBandIndex(small, "doc_id", "text", _), Dedup.readBandIndex(spark, _)),
      Owner("lex", LexIndex.writeLexIndex(small, _), LexIndex.compactLexIndex(spark, _),
        LexIndex.readLexIndex(spark, _).postings, dir => s"$dir/store"),
      Owner("gram", GramIndex.writeGramIndex(small, _), GramIndex.writeGramIndex(small, _),
        GramIndex.readGramIndex(spark, _).grams, dir => s"$dir/grams"),
      Owner("shards",
        ShardLayout.writeShuffledShards(small.select("doc_id", "text"), "doc_id", _, nShards = 2),
        ShardLayout.compactShuffledShards(spark, _), ShardLayout.readShuffledShards(spark, _)),
      Owner("merge", changelog, changelog, ShardLayout.readMerged(spark, _)),
      Owner("ann", VectorIndex.writeAnnIndex(emb, "vec_id", "embedding", _),
        VectorIndex.compactAnnIndex(spark, _), VectorIndex.readAnnIndex(spark, _).lists))
    owners.foreach { o =>
      def rowsOf(path: String) = o.read(path).collect().map(_.toString).sorted.toSeq
      val clean = tmp(s"${o.name}-clean")
      o.write(clean)
      o.rewrite(clean)
      val crashed = tmp(s"${o.name}-crashed")
      o.write(crashed)
      val stray = new java.io.File(o.epoch(crashed), "v99999")
      stray.mkdirs()
      java.nio.file.Files.writeString(stray.toPath.resolve("garbage"), "x")
      o.rewrite(crashed)
      assert(!stray.exists(), s"${o.name}: the rewrite left an orphan version dir")
      assert(rowsOf(crashed) == rowsOf(clean),
        s"${o.name}: the recovered layout reads differently from a clean one")
    }
  }

  test("copyAppendLedger drops outdone-N subsumed by batch-N, keeps orphans and takedowns") {
    val dir = tempDir("graft-r15-ledger").toString
    val epoch = s"$dir/v00001"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(epoch))
    // batch 1 completed both phases; batch 2 crashed mid-window
    // (outdone only); one takedown marker
    IndexLayout.commitAppend(spark, epoch, 1L, "outdone")
    IndexLayout.commitAppend(spark, epoch, 1L, "batch")
    IndexLayout.commitAppend(spark, epoch, 2L, "outdone")
    IndexLayout.commitAppend(spark, epoch, 7L, "takedown")
    val next = s"$dir/v00002"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(next))
    IndexLayout.copyAppendLedger(spark, epoch, next)
    assert(IndexLayout.appendCommitted(spark, next, 1L, "batch"))
    assert(!IndexLayout.appendCommitted(spark, next, 1L, "outdone"),
      "subsumed outdone-1 was recopied — unbounded ledger growth")
    assert(IndexLayout.appendCommitted(spark, next, 2L, "outdone"),
      "in-flight crash-window marker must survive compaction")
    assert(IndexLayout.appendCommitted(spark, next, 7L, "takedown"))
  }

  private def collectFileScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = plan match {
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      collectFileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      collectFileScans(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      collectFileScans(r.child)
    case other => other.children.flatMap(collectFileScans)
  }
}
