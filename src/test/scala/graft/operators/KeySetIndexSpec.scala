package graft.operators

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.DataFrame

/** The empty-epoch guards of the key-set index lifecycle
  * ([[IndexLayout.KeySetIndex]]), one case per index (the ANN index
  * compacts its cell-partitioned stores through it). A zero-row
  * `partitionBy` parquet write leaves only `_SUCCESS`, which Spark
  * cannot read back, so a write whose corpus yields no keys and a
  * compaction whose tombstones cover every doc must both raise before
  * publishing — and leave the current epoch live and readable.
  */
class KeySetIndexSpec extends SparkTestBase {
  import spark.implicits._
  import KeySetIndexSpec.Lifecycle

  private lazy val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")

  private def guardsHold(name: String, ix: Lifecycle, seed: DataFrame,
      noKeys: Option[DataFrame]): Unit = {
    val dir = tempDir(s"graft-empty-$name").toString
    ix.write(seed, dir)
    val live = IndexLayout.currentVersion(spark, ix.epoch(dir))
    val n = ix.read(dir).count()
    assert(live.nonEmpty && n > 0, s"$name: the seed epoch is empty")

    noKeys.foreach { keyless =>
      val onWrite = intercept[IllegalArgumentException](ix.write(keyless, dir))
      assert(onWrite.getMessage.contains("unreadable epoch"), onWrite.getMessage)
      assert(IndexLayout.currentVersion(spark, ix.epoch(dir)) == live,
        s"$name: a keyless write moved the manifest")
      assert(ix.read(dir).count() == n, s"$name: the live epoch changed under a keyless write")
    }

    ix.tombstone(ix.read(dir).select(ix.idCol).distinct(), dir)
    val onCompact = intercept[IllegalArgumentException](ix.compact(dir))
    assert(onCompact.getMessage.contains("unreadable epoch"), onCompact.getMessage)
    assert(IndexLayout.currentVersion(spark, ix.epoch(dir)) == live,
      s"$name: a compaction to zero rows moved the manifest")
    assert(ix.read(dir).count() == 0, s"$name: tombstoned docs surfaced")
    assert(spark.read.parquet(ix.rows(IndexLayout.resolveDir(spark, ix.epoch(dir)))).count() == n,
      s"$name: the live epoch changed under a refused compaction")
  }

  test("band index: a keyless write and a compaction to zero rows raise; the live epoch stays readable") {
    guardsHold("band",
      Lifecycle(
        Dedup.writeBandIndex(_, "doc_id", "text", _),
        Dedup.readBandIndex(spark, _),
        Dedup.tombstoneBandIndex(_, "doc_id", _),
        Dedup.compactBandIndex(spark, _)),
      seed = docs.where($"doc_id" < 20),
      // under three words: no shingles, no band keys
      noKeys = Some(Seq((1L, "two words")).toDF("doc_id", "text")))
  }

  test("perceptual index: a keyless write and a compaction to zero rows raise; the live epoch stays readable") {
    guardsHold("perceptual",
      Lifecycle(
        Multimodal.writePerceptualIndex(_, "doc_id", "payload", _),
        Multimodal.readPerceptualIndex(spark, _),
        Multimodal.tombstonePerceptualIndex(_, "doc_id", _),
        Multimodal.compactPerceptualIndex(spark, _)),
      seed = Multimodal.imagePayloads(spark, sfDir).where($"doc_id" < 20),
      // a sub-60-byte body has no perceptual hash
      noKeys = Some(Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")))
  }

  test("frame index: a keyless write and a compaction to zero rows raise; the live epoch stays readable") {
    guardsHold("frame",
      Lifecycle(
        Multimodal.writeFrameIndex(_, _),
        Multimodal.readFrameIndex(spark, _),
        Multimodal.tombstoneFrameIndex(_, "doc_id", _),
        Multimodal.compactFrameIndex(spark, _)),
      seed = Multimodal.videoPayloadsOf(docs.where($"doc_id" < 20)),
      // under 50 bytes of text: a container with no whole sample
      noKeys = Some(Multimodal.videoPayloadsOf(Seq((1L, "tiny")).toDF("doc_id", "text"))))
  }

  test("ANN index: an empty write and a compaction to zero rows raise; the live epoch stays readable") {
    guardsHold("ann",
      Lifecycle(
        VectorIndex.writeAnnIndex(_, "vec_id", "embedding", _),
        VectorIndex.readAnnIndex(spark, _).lists,
        VectorIndex.tombstoneAnnIndex(_, "n_id", _),
        VectorIndex.compactAnnIndex(spark, _),
        idCol = "n_id",
        rows = epoch => s"$epoch/lists"),
      seed = Tables.load(spark, sfDir, "embeddings"),
      noKeys = Some(Tables.load(spark, sfDir, "embeddings").limit(0)))
  }
}

object KeySetIndexSpec {
  /** `epoch` maps an index path to the versioned root its rows live
    * in, `rows` an epoch directory to the directory of its key rows;
    * `idCol` names the id the tombstones take.
    */
  private final case class Lifecycle(
      write: (DataFrame, String) => Unit,
      read: String => DataFrame,
      tombstone: (DataFrame, String) => Unit,
      compact: String => Unit,
      idCol: String = "doc_id",
      epoch: String => String = identity,
      rows: String => String = identity)
}
