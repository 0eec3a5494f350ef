package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The day-3 story for the persisted band index (O24 → O28): day-1
  * writes the corpus index, day-2's kept docs are APPENDED, and a
  * day-3 near-dup of a day-2 keeper is then detected purely from the
  * stored files — no corpus text is ever re-shingled. Also pins
  * compaction (every (band, pfx) bucket collapses to one file with
  * identical probe results and the DPP pruning intact) and the
  * streaming append variant writing through the same routed sink.
  */
class BandIndexMaintenanceSpec extends SparkTestBase {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")

  private def mkBatch(rows: (Long, String)*) =
    spark.createDataFrame(rows.toIndexedSeq).toDF("doc_id", "text")

  // day-2/3 content: long enough to shingle, absent from the corpus
  private val keeperText =
    "quartz marble obsidian granite basalt slate gneiss schist " +
      "pumice shale flint chert travertine dolomite gypsum quartzite"
  private val keeperText2 =
    "violet crimson cerulean ochre viridian umber sienna teal " +
      "magenta chartreuse vermilion indigo cobalt saffron mauve sepia"

  test("appended day-2 keepers make day-3 near-dups detectable, index-only") {
    val dir = tempDir("graft-band-maint").toString
    Dedup.writeBandIndex(docs, "doc_id", "text", dir)

    // day-2: two new docs survive curation; their keys join the index
    val day2 = mkBatch(900001L -> keeperText, 900002L -> keeperText2)
    val probe2 = Dedup.probeBandIndex(day2, "doc_id", "text",
      Dedup.readBandIndex(spark, dir))
    assert(probe2.filter(col("idx_id") >= 900000L).count() == 0,
      "fresh content must not collide before the append")
    Dedup.appendBandIndex(day2, "doc_id", "text", dir)

    // day-3: an exact re-ingest of a day-2 keeper (identical shingles
    // -> identical band keys -> guaranteed collision)
    val day3 = mkBatch(900003L -> keeperText)
    val probe3 = Dedup.probeBandIndex(day3, "doc_id", "text",
      Dedup.readBandIndex(spark, dir))
    probe3.collect()
    val pairs = probe3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900003L, 900001L)),
      s"day-3 dup of the day-2 keeper not detected: $pairs")
    // ...and the detection cost is index-only: no corpus scan
    val plan = probe3.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(600))

    // compaction: the appended buckets now hold >1 file...
    // (data lives in the manifest-resolved version directory)
    def bucketFiles(): Map[String, Int] = {
      val root = new java.io.File(IndexLayout.resolveDir(spark, dir))
      (for {
        band <- root.listFiles().filter(_.isDirectory)
        pfx <- band.listFiles().filter(_.isDirectory)
      } yield s"${band.getName}/${pfx.getName}" ->
        pfx.listFiles().count(_.getName.startsWith("part-"))).toMap
    }
    val before = bucketFiles()
    assert(before.values.exists(_ > 1),
      s"append should leave multi-file buckets, got ${before.values.max} max")
    // a replayed append (the at-least-once streaming caveat) leaves
    // exact duplicate rows; compaction must reclaim them
    Dedup.appendBandIndex(day2, "doc_id", "text", dir)
    val dupRows = spark.read.parquet(IndexLayout.resolveDir(spark, dir))
      .groupBy("doc_id", "band", "bh").count().filter(col("count") > 1).count()
    assert(dupRows > 0, "replay should have produced duplicate index rows")
    Dedup.compactBandIndex(spark, dir)
    val after = bucketFiles()
    assert(after.values.forall(_ == 1),
      s"compaction must leave one file per bucket: $after")
    assert(spark.read.parquet(IndexLayout.resolveDir(spark, dir))
      .groupBy("doc_id", "band", "bh").count().filter(col("count") > 1).count() == 0,
      "compaction must reclaim replayed duplicate rows")
    assert(!new java.io.File(dir + "__compacting").exists())
    assert(!new java.io.File(dir + "__pre_compact").exists())
    // identical probe results from the compacted index
    val probe3c = Dedup.probeBandIndex(day3, "doc_id", "text",
      Dedup.readBandIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe3c == pairs, "compaction changed probe results")

    // DPP still prunes the compacted index: a parquet-backed one-doc
    // batch (a real Filter in its plan — the BandIndexSpec recipe)
    // touches at most 4 bands x 4 pfx buckets
    val oneDir = tempDir("graft-band-one").toString
    day3.write.mode("overwrite").parquet(oneDir)
    val one = spark.read.parquet(oneDir).filter(col("doc_id") === 900003L)
    val probed = Dedup.probeBandIndex(one, "doc_id", "text",
      Dedup.readBandIndex(spark, dir))
    probed.collect()
    val scans = collectFileScans(probed.queryExecution.executedPlan)
    val idxScan = scans.find(_.toString.contains(dir.split('/').last))
    assert(idxScan.isDefined)
    val dirsRead = idxScan.get.metrics.get("numPartitions")
      .fold(fail("no numPartitions metric"))(_.value)
    assert(dirsRead <= 16 && dirsRead < after.size,
      s"day-3 probe read $dirsRead of ${after.size} compacted buckets")
  }

  test("probeBandIndex broadcasts the banded batch even with size-based broadcasting off") {
    // the batch hint is unconditional: a session that never broadcasts
    // on size still joins the day-2 batch to the index by broadcast
    // (which is what the DPP subquery reuses), with the same
    // candidates as the default session
    val dir = tempDir("graft-band-hint").toString
    Dedup.writeBandIndex(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", dir)
    val expected = Dedup.probeBandIndex(docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", Dedup.readBandIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noSize = graft.SparkTestBase.isolatedSession
    noSize.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val batch = Tables.load(noSize, sfDir, "documents").select("doc_id", "text")
      .filter(col("doc_id") % 5 === 0)
    val probed = Dedup.probeBandIndex(batch, "doc_id", "text", Dedup.readBandIndex(noSize, dir))
    val got = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the banded batch is not broadcast:\n${plan.take(800)}")
  }

  test("streaming keeper micro-batches append through the same routed sink") {
    val dir = tempDir("graft-band-stream").toString
    Dedup.writeBandIndex(docs, "doc_id", "text", dir)
    // two keeper micro-batches as files (the ST6 file-stream recipe)
    val srcDir = tempDir("graft-band-keep").toString
    mkBatch(900011L -> keeperText).coalesce(1).write.parquet(s"$srcDir/f1")
    Thread.sleep(1100)
    mkBatch(900012L -> keeperText2).coalesce(1).write.parquet(s"$srcDir/f2")
    val stream = spark.readStream
      .schema(mkBatch(0L -> "x").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir + "/f*")
    val q = Streams.appendBandIndexStream(stream, dir).start()
    q.processAllAvailable(); q.stop()
    // both keepers are now probe-visible from the stored files alone
    val probe = Dedup.probeBandIndex(
      mkBatch(900013L -> keeperText, 900014L -> keeperText2),
      "doc_id", "text", Dedup.readBandIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe.contains((900013L, 900011L)) && probe.contains((900014L, 900012L)),
      s"streamed appends not probe-visible: $probe")
  }

  private val Streams = graft.streaming.Streams

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
