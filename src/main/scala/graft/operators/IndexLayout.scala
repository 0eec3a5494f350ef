package graft.operators

import org.apache.hadoop.fs.{FileContext, FileSystem, FileUtil, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-directory + manifest layout shared by every persisted
  * layout: the key-set indexes ([[KeySetIndex]] — O24 band, O54
  * perceptual, O57 frame), the O29 ANN index, the lexical and gram
  * stores (O51/O52), the O40 training shards and the O45 merge
  * table.
  *
  * Layout, the way table formats do it:
  *
  *  - data lives in immutable version directories `path/v00001`,
  *    `path/v00002`, ... — a rewrite builds the next version OFF to
  *    the side and the live data is never touched;
  *  - a one-line manifest file `path/_CURRENT` names the live version;
  *    readers resolve it at read time ([[resolveDir]]);
  *  - publishing = atomically replacing the manifest ([[publish]]):
  *    write `_CURRENT.tmp`, then an atomic rename over `_CURRENT`
  *    (POSIX rename on file://, FileContext OVERWRITE rename — atomic
  *    at the NameNode — on HDFS). A reader sees the old pointer or the
  *    new pointer, never a missing one;
  *  - retired versions are kept for `keep` publish cycles before GC —
  *    the grace window for readers that resolved the manifest just
  *    before a flip (at 100 TB, size `keep` to cover the longest
  *    query's runtime across compaction cadences).
  *
  * The epoch protocol has exactly two writer entry points, and every
  * versioned write goes through one of them:
  *
  *  - [[rewrite]] — a new epoch: [[recover]] crash leftovers (a crash
  *    before publish leaves a version dir newer than `_CURRENT`),
  *    [[ensureVersioned]] a legacy layout, `build(current, next)` the
  *    next version with its manifest, carry the append ledger forward
  *    (compactions only), [[publish]], then [[gcVersions]]. Callers:
  *    [[KeySetIndex]] write and compact, `LexIndex` and `GramIndex`
  *    write and compact, `ShardLayout`'s shard write, shard compaction
  *    and `applyChangelog`, and `VectorIndex` write and compact;
  *  - [[appendInto]] — new files in the CURRENT epoch: resolve it, let
  *    the body write, then fail loudly if a rewrite published a new
  *    epoch meanwhile. Callers:
  *    [[KeySetIndex]] append, `LexIndex` append, `GramIndex` append
  *    and takedown, `ShardLayout`'s shard append and `VectorIndex`
  *    append.
  *
  * Tombstones (takedown / retention deletion — a real obligation for a
  * 100 TB training corpus) live beside the versions in
  * `path/_tombstones` as plain parquet id files: [[addTombstones]]
  * appends, the read paths mask pending ids immediately, and
  * compaction applies them permanently — it snapshots the tombstone
  * FILES it read and deletes exactly those after publish, so ids
  * arriving mid-compaction survive to the next cycle.
  *
  * Legacy compatibility: a pre-round-6 index (hive dirs directly under
  * `path`, no manifest) still reads — [[resolveDir]] falls back to
  * `path` — and the next [[rewrite]] migrates it in place by renaming
  * the children into `v00001` (metadata-only) first.
  */
object IndexLayout {

  val ManifestName = "_CURRENT"
  val TombstoneDirName = "_tombstones"

  private val VersionRe = "^v(\\d{5})$".r

  private def hfs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** True when `path` exists. */
  private[operators] def exists(spark: SparkSession, path: String): Boolean =
    hfs(spark, path).exists(new Path(path))

  /** Copy the directory tree `from` to `to` file by file, unchanged. */
  private[operators] def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val fs = hfs(spark, from)
    require(FileUtil.copy(fs, new Path(from), fs, new Path(to), false,
      spark.sparkContext.hadoopConfiguration), s"copyDir: $from -> $to failed")
  }

  /** Current version name from the manifest, None for a legacy or
    * empty layout.
    */
  def currentVersion(spark: SparkSession, path: String): Option[String] =
    readMeta(spark, path, ManifestName).map(_.trim).filter(_.nonEmpty)

  /** The directory holding the CURRENT data: `path/<version>` when a
    * manifest exists, `path` itself for a legacy unversioned layout.
    */
  def resolveDir(spark: SparkSession, path: String): String =
    currentVersion(spark, path).map(v => s"$path/$v").getOrElse(path)

  private def versionNumber(v: String): Int = v match {
    case VersionRe(n) => n.toInt
    case other => throw new IllegalArgumentException(s"bad index version name '$other'")
  }

  private def versionName(n: Int): String = f"v$n%05d"

  /** The version name a new rewrite should build into. */
  private[graft] def nextVersion(spark: SparkSession, path: String): String =
    versionName(currentVersion(spark, path).map(versionNumber).getOrElse(0) + 1)

  /** Atomically flip the manifest to `version` (see class doc). */
  private[graft] def publish(spark: SparkSession, path: String, version: String): Unit =
    writeMeta(spark, path, ManifestName, version)

  /** Migrate a legacy in-place layout (hive dirs directly under
    * `path`, no manifest) to `v00001` via child renames — metadata
    * operations only, no data rewrite. No-op when a manifest already
    * exists or there is nothing to migrate. Call [[recover]] FIRST so
    * an unpublished version dir from a crashed rewrite is not
    * mistaken for data.
    */
  private[operators] def ensureVersioned(spark: SparkSession, path: String): Unit =
    if (currentVersion(spark, path).isEmpty) {
      val fs = hfs(spark, path)
      val root = new Path(path)
      if (fs.exists(root)) {
        val kids = fs.listStatus(root).filter { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".") && VersionRe.findFirstIn(n).isEmpty
        }
        if (kids.nonEmpty) {
          val v1 = new Path(root, versionName(1))
          fs.mkdirs(v1)
          kids.foreach(st => fs.rename(st.getPath, new Path(v1, st.getPath.getName)))
          publish(spark, path, versionName(1))
        }
      }
    }

  /** Crash recovery, run on entry to every [[rewrite]]:
    *  - legacy `path__compacting` staging dirs → delete (incomplete
    *    pre-round-6 rewrite);
    *  - legacy `path__pre_compact` retired dirs → restore if the live
    *    path lost its data to the crash, else delete;
    *  - version dirs NEWER than the manifest (or any version dir when
    *    no manifest exists) → delete: a rewrite that died before its
    *    publish, invisible to readers and safe to drop.
    */
  private def recover(spark: SparkSession, path: String): Unit = {
    val fs = hfs(spark, path)
    val compacting = new Path(path + "__compacting")
    if (fs.exists(compacting)) fs.delete(compacting, true)
    val retired = new Path(path + "__pre_compact")
    if (fs.exists(retired)) {
      val live = new Path(path)
      val liveHasData = fs.exists(live) && fs.listStatus(live).nonEmpty
      if (!liveHasData) {
        if (fs.exists(live)) fs.delete(live, true)
        fs.rename(retired, live)
      } else fs.delete(retired, true)
    }
    val cur = currentVersion(spark, path).map(versionNumber).getOrElse(0)
    val root = new Path(path)
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        st.getPath.getName match {
          case VersionRe(n) if n.toInt > cur => fs.delete(st.getPath, true)
          case _ => ()
        }
      }
  }

  /** Delete retired versions older than the `keep` most recent below
    * the current one — the reader grace window (see class doc).
    */
  def gcVersions(spark: SparkSession, path: String, keep: Int): Unit =
    currentVersion(spark, path).foreach { curName =>
      val cur = versionNumber(curName)
      val fs = hfs(spark, path)
      fs.listStatus(new Path(path)).foreach { st =>
        st.getPath.getName match {
          case VersionRe(n) if n.toInt < cur - keep => fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    }

  /** The one rewrite sequence (class doc): recover, migrate, then
    * `build(currentDir, nextDir)` writes the next version and its
    * manifest; `carryLedger` (compactions) copies the current epoch's
    * append ledger into it; then the `_CURRENT` flip and GC down to
    * `keep` retired versions. A build that raises publishes nothing.
    */
  def rewrite(spark: SparkSession, root: String, keep: Int, carryLedger: Boolean = false)(
      build: (Option[String], String) => Unit): Unit = {
    recover(spark, root)
    ensureVersioned(spark, root)
    val cur = currentVersion(spark, root).map(v => s"$root/$v")
    val next = nextVersion(spark, root)
    build(cur, s"$root/$next")
    if (carryLedger) cur.foreach(copyAppendLedger(spark, _, s"$root/$next"))
    publish(spark, root, next)
    gcVersions(spark, root, keep)
  }

  /** The one append sequence (class doc): `body(dir)` writes into the
    * CURRENT epoch's directory, then the append fails loudly if the
    * epoch moved meanwhile — the race the layout cannot itself close:
    * a concurrent rewrite may publish a NEW epoch (and GC the old
    * one), leaving the appended rows silently invisible in a retired
    * directory. The caller must then re-drive the append against the
    * new epoch — a loud error, never silent loss.
    */
  def appendInto(spark: SparkSession, root: String, op: String)(body: String => Unit): Unit = {
    val dir = resolveDir(spark, root)
    body(dir)
    val now = resolveDir(spark, root)
    require(now == dir,
      s"$op: epoch moved during append ($dir -> $now) — a concurrent " +
        "rewrite/compaction published a new epoch, so the appended rows " +
        "landed in a retired directory; re-drive the append (single-writer " +
        "contract: serialize appends with rewrites/compactions)")
  }

  /** Versions present on disk and at-or-below the published
    * `_CURRENT`, oldest first (the current one last) — i.e. the
    * SNAPSHOTS a reader may pin: retired versions survive for the
    * [[gcVersions]] grace window, and anything ABOVE current is a
    * crash orphan (an unpublished half-write), never a snapshot.
    */
  def listVersions(spark: SparkSession, path: String): Seq[String] =
    currentVersion(spark, path).map(versionNumber).map { cur =>
      val fs = hfs(spark, path)
      fs.listStatus(new Path(path)).toSeq
        .map(_.getPath.getName)
        .collect { case v @ VersionRe(n) if n.toInt <= cur => (n.toInt, v) }
        .sortBy(_._1).map(_._2)
    }.getOrElse(Seq.empty)

  /** Resolve a PINNED version's directory — snapshot reads within the
    * retention window (a loader holds one epoch stable while the next
    * publishes; an A/B readback compares two epochs). Fails loudly for
    * a version that was GC'd, never existed, or sits above `_CURRENT`
    * (a crash orphan is not a snapshot) — silently falling back to
    * current would be a wrong-data bug in a reproducibility surface.
    */
  def resolveDirAt(spark: SparkSession, path: String, version: String): String = {
    val vs = listVersions(spark, path)
    require(vs.contains(version),
      s"version '$version' is not a readable snapshot of $path " +
        s"(retained: ${if (vs.isEmpty) "none — unversioned layout" else vs.mkString(", ")})")
    s"$path/$version"
  }

  /** Write a small metadata file (the `_CURRENT` manifest, or e.g.
    * the O40 shard layout's per-version `_LAYOUT` parameters) under
    * `dir`: create `name.tmp`, then an atomic rename over `name`, so a
    * racing reader sees the whole old file or the whole new one.
    */
  def writeMeta(spark: SparkSession, dir: String, name: String, content: String): Unit = {
    val fs = hfs(spark, dir)
    val tmp = new Path(dir, name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val qTmp = fs.makeQualified(tmp)
    val qDst = fs.makeQualified(new Path(dir, name))
    if (qTmp.toUri.getScheme == "file") {
      // POSIX rename(2): atomic, replaces the destination
      java.nio.file.Files.move(
        java.nio.file.Paths.get(qTmp.toUri.getPath),
        java.nio.file.Paths.get(qDst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val fc = FileContext.getFileContext(qTmp.toUri,
        spark.sparkContext.hadoopConfiguration)
      fc.rename(qTmp, qDst, Options.Rename.OVERWRITE)
    }
  }

  /** Read a metadata file written by [[writeMeta]]; None if absent. */
  def readMeta(spark: SparkSession, dir: String, name: String): Option[String] = {
    val fs = hfs(spark, dir)
    val p = new Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** The one manifest codec: a flat JSON object whose values are
    * integers or strings. Strings carry one escape rule — a backslash
    * makes the next character literal, and the encoder escapes
    * exactly `\` and `"` — so any column name round-trips.
    */
  def encodeManifest(fields: (String, Any)*): String =
    fields.map {
      case (k, v @ (_: Int | _: Long)) => s""""$k":$v"""
      case (k, v) => s""""$k":"${v.toString.replace("\\", "\\\\").replace("\"", "\\\"")}""""
    }.mkString("{", ",", "}")

  private val ManifestField =
    """"((?:[^"\\]|\\.)*)"\s*:\s*(?:"((?:[^"\\]|\\.)*)"|(-?\d+))""".r

  /** Fields of a manifest written by [[encodeManifest]]; integers
    * come back as their digits.
    */
  def decodeManifest(s: String): Map[String, String] = {
    def unescape(v: String) = v.replaceAll("""\\(.)""", "$1")
    ManifestField.findAllMatchIn(s).map { m =>
      unescape(m.group(1)) -> Option(m.group(2)).map(unescape).getOrElse(m.group(3))
    }.toMap
  }

  /** [[writeMeta]] of an [[encodeManifest]] object. */
  def writeManifest(spark: SparkSession, dir: String, name: String, fields: (String, Any)*): Unit =
    writeMeta(spark, dir, name, encodeManifest(fields: _*))

  /** [[readMeta]] decoded by [[decodeManifest]]; None if absent. */
  def readManifest(spark: SparkSession, dir: String, name: String): Option[Map[String, String]] =
    readMeta(spark, dir, name).map(decodeManifest)

  // ---------------------------------------------------------------
  // Batch-keyed idempotent appends (day-2 ingestion under an
  // at-least-once driver: Structured Streaming's foreachBatch replays
  // a micro-batch whose checkpoint commit didn't land — a naive
  // `mode("append")` write would then double its rows, which for a
  // COUNT-carrying index silently inflates counts). The contract
  // here makes a replay a structural no-op:
  //
  //  1. a ledger marker `epochDir/_appends/batch-<id>` records a
  //     COMPLETED append — present means the whole sequence below
  //     finished, so a replay returns immediately;
  //  2. data lands via stage-then-move: the batch writes to a private
  //     staging dir (overwrite mode — a crashed half-stage is simply
  //     rewritten), then each part file MOVES (metadata-only rename)
  //     into the live hive dirs under a DETERMINISTIC name
  //     `batch<id>-<k>.parquet`, and the move is preceded by deleting
  //     any `batch<id>-*` already there — so a crash at ANY point
  //     (mid-stage, mid-move, post-move-pre-marker) replays to the
  //     exact same end state, never a doubled row;
  //  3. the marker is created last, atomically.
  //
  // Compactions carry the `_appends` ledger into the new epoch
  // ([[rewrite]]'s `carryLedger`): a replay arriving AFTER its batch
  // was compacted into the base finds the marker and stays a no-op.
  // ---------------------------------------------------------------

  /** Corpus-proportional bucket count shared by the bucket-partitioned
    * indexes (O51 postings/terms, O52 grams): ~2^20 rows of the
    * driving unit per bucket (tens of MB on disk), floor 16 (below it
    * buckets are merely oversized — probes read |key buckets| dirs
    * regardless), capped at 2^18 dirs (a filesystem-metadata bound;
    * past the cap per-bucket volume grows linearly again but stays
    * partition-prunable). Power of two so regrows re-split cleanly.
    * ONE definition: gram and lex epochs size under the same rule.
    */
  def autoBuckets(n: Long): Int = {
    val target = math.max(1L, n >> 20)
    var b = 16
    while (b < target && b < (1 << 18)) b <<= 1
    b
  }

  private val AppendLedgerDir = "_appends"

  /** `kind` namespaces the ledger: streaming ingestion appends use the
    * default `"batch"` (ids = micro-batch ids from the engine's
    * checkpoint counter); takedown deltas use `"takedown"` (ids from
    * the retention system) — the two id spaces are independent, so a
    * takedown can never be masked by a same-numbered ingestion batch.
    */
  private def markerPath(dir: String, batchId: Long, kind: String): Path =
    new Path(new Path(dir, AppendLedgerDir), f"$kind-$batchId%020d")

  /** True when `batchId` already appended into this epoch (replay). */
  def appendCommitted(spark: SparkSession, dir: String, batchId: Long,
      kind: String = "batch"): Boolean =
    hfs(spark, dir).exists(markerPath(dir, batchId, kind))

  /** Record `batchId` as durably appended (create-last, atomic). */
  def commitAppend(spark: SparkSession, dir: String, batchId: Long,
      kind: String = "batch"): Unit = {
    val fs = hfs(spark, dir)
    val p = markerPath(dir, batchId, kind)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(Array.emptyByteArray) finally out.close()
  }

  /** Stage-then-move a hive-partitioned batch into `destDir` under
    * replay-deterministic file names (see the block comment above).
    * `data` must carry `partCol`; the staged layout mirrors the
    * destination's `partCol=value` dirs. Call [[commitAppend]] after
    * ALL stores of the epoch have appended.
    */
  def stageMoveAppend(
      data: DataFrame,
      destDir: String,
      partCol: String,
      batchId: Long,
      kind: String = "batch"): Unit = {
    val spark = data.sparkSession
    val fs = hfs(spark, destDir)
    val stage = new Path(destDir, f".stage-$kind-$batchId%020d")
    data.write.mode("overwrite").partitionBy(partCol).parquet(stage.toString)
    val prefix = f"$kind-$batchId%020d-"
    val parts = fs.listStatus(stage)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
    parts.foreach { pd =>
      val dest = new Path(destDir, pd.getPath.getName)
      fs.mkdirs(dest)
      // replay cleanup: a crashed earlier attempt may have moved some
      // files already — the deterministic prefix identifies exactly
      // this batch's files, so deleting them restores a clean slate
      fs.listStatus(dest)
        .filter(_.getPath.getName.startsWith(prefix))
        .foreach(st => fs.delete(st.getPath, false))
      val files = fs.listStatus(pd.getPath)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .sortBy(_.getPath.getName)
      files.zipWithIndex.foreach { case (st, i) =>
        val dst = new Path(dest, f"$prefix$i%05d.parquet")
        // Hadoop FileSystem.rename reports most failures (destination
        // re-created by a racing zombie driver replaying the same
        // batchId, source vanished) by returning FALSE, not throwing —
        // dropping it would let the stage delete below destroy the
        // unmoved file and commitAppend mark the batch durable: silent
        // permanent count loss. Fail loudly; the single-writer
        // contract makes this unreachable in a correct deployment.
        require(fs.rename(st.getPath, dst),
          s"stageMoveAppend: rename ${st.getPath} -> $dst failed (a " +
            "concurrent writer on the same batchId? the append is NOT " +
            "durable; re-drive it under the single-writer contract)")
      }
    }
    fs.delete(stage, true)
  }

  /** Flat (unpartitioned) variant of [[stageMoveAppend]] for OUTPUT
    * appends — the exactly-once audit-trail write the ledger-guarded
    * streams (ST24/ST25/ST26/ST27) pair with their index appends: a
    * plain `mode("append")` duplicates the batch's output rows when
    * the driver dies between the output write and the ledger commit
    * (the replay re-runs the whole trigger), while this lands the
    * batch's files under deterministic `<kind><id>-<k>.parquet` names
    * with replay pre-cleanup — a replayed write converges to the
    * identical end state, never a doubled row. Requires deterministic
    * batch content across replays (true for the probe/verdict frames:
    * the index only advances at the ledger commit).
    */
  def stageMoveAppendFlat(
      data: DataFrame,
      destDir: String,
      batchId: Long,
      kind: String = "out"): Unit = {
    val spark = data.sparkSession
    val fs = hfs(spark, destDir)
    val stage = new Path(destDir, f".stage-$kind-$batchId%020d")
    data.write.mode("overwrite").parquet(stage.toString)
    val prefix = f"$kind-$batchId%020d-"
    val dest = new Path(destDir)
    fs.mkdirs(dest)
    fs.listStatus(dest)
      .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
      .foreach(st => fs.delete(st.getPath, false))
    val files = fs.listStatus(stage)
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
    files.zipWithIndex.foreach { case (st, i) =>
      val dst = new Path(dest, f"$prefix$i%05d.parquet")
      require(fs.rename(st.getPath, dst),
        s"stageMoveAppendFlat: rename ${st.getPath} -> $dst failed (a " +
          "concurrent writer on the same batchId? re-drive under the " +
          "single-writer contract)")
    }
    fs.delete(stage, true)
  }

  /** Read back EXACTLY `batchId`'s files written by
    * [[stageMoveAppendFlat]] (None when none exist) — the durable
    * phase-1 state a two-phase trigger's replay consumes: after a
    * crash between the index append's file moves and the batch
    * marker, the replay must NOT recompute probe-derived values (the
    * index already holds the batch's own rows) — it reads the
    * batch-keyed output it already wrote instead.
    */
  def readStagedBatch(
      spark: SparkSession,
      destDir: String,
      batchId: Long,
      kind: String = "out"): Option[DataFrame] = {
    val fs = hfs(spark, destDir)
    val dest = new Path(destDir)
    if (!fs.exists(dest)) None
    else {
      val prefix = f"$kind-$batchId%020d-"
      val files = fs.listStatus(dest)
        .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
        .map(_.getPath.toString)
      if (files.isEmpty) None else Some(spark.read.parquet(files.toIndexedSeq: _*))
    }
  }

  /** Carry the append ledger from `fromDir` into `toDir` — part of a
    * compaction's publish sequence, BEFORE the `_CURRENT` flip, so a
    * replayed batch that was already merged into the compacted base
    * still finds its marker and stays a no-op.
    *
    * Compaction is also where the ledger's growth is reclaimed: an
    * `outdone-N` marker (the two-phase triggers' phase-1 record) is
    * only ever consulted when `batch-N` is ABSENT — every trigger
    * checks the batch marker first and skips whole when it exists —
    * so a subsumed `outdone-N` is dead weight that would otherwise be
    * recopied into every future epoch forever (one small file per
    * streamed trigger, unbounded for a long-running stream). Dropping
    * it here is safe by that precedence and bounds the ledger at one
    * marker per batch plus the in-flight crash window's pair.
    */
  private[operators] def copyAppendLedger(spark: SparkSession, fromDir: String, toDir: String): Unit = {
    val fs = hfs(spark, fromDir)
    val src = new Path(fromDir, AppendLedgerDir)
    if (fs.exists(src)) {
      val dst = new Path(toDir, AppendLedgerDir)
      fs.mkdirs(dst)
      val names = fs.listStatus(src).map(_.getPath.getName)
      val nameSet = names.toSet
      names.foreach { name =>
        val subsumed = name.startsWith("outdone-") &&
          nameSet.contains("batch-" + name.stripPrefix("outdone-"))
        if (!subsumed) {
          val out = fs.create(new Path(dst, name), true)
          try out.write(Array.emptyByteArray) finally out.close()
        }
      }
    }
  }

  /** Register ids for deletion: append them (distinct, as a single
    * `outName` long column) to `path/_tombstones`. Read paths mask
    * them immediately; the next compaction applies them permanently
    * and reclaims the files.
    */
  def addTombstones(ids: DataFrame, idCol: String, outName: String, path: String): Unit =
    ids.select(col(idCol).cast("long").as(outName)).distinct()
      .write.mode("append").parquet(s"$path/$TombstoneDirName")

  /** Tombstone parquet files present right now. Compaction snapshots
    * this list, applies exactly these files, and deletes exactly these
    * files after publish — ids appended mid-compaction survive.
    */
  def tombstoneFiles(spark: SparkSession, path: String): Seq[Path] = {
    val fs = hfs(spark, path)
    val dir = new Path(path, TombstoneDirName)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .toSeq
  }

  /** The pending tombstone id set as a one-column frame named
    * `outName`; empty frame when none exist.
    */
  def readTombstones(spark: SparkSession, path: String, outName: String): DataFrame = {
    val files = tombstoneFiles(spark, path)
    if (files.isEmpty) spark.range(0).select(col("id").as(outName))
    else spark.read.parquet(files.map(_.toString): _*).select(col(outName))
  }

  /** True when any tombstone id file is pending. */
  def hasTombstones(spark: SparkSession, path: String): Boolean =
    tombstoneFiles(spark, path).nonEmpty

  /** Delete a consumed tombstone-file snapshot (and the directory
    * itself once empty, so the read paths' existence probe stays
    * cheap and the no-tombstone plan shape returns).
    */
  def deleteTombstoneFiles(spark: SparkSession, path: String, files: Seq[Path]): Unit = {
    val fs = hfs(spark, path)
    files.foreach(f => fs.delete(f, false))
    val dir = new Path(path, TombstoneDirName)
    if (fs.exists(dir) && fs.listStatus(dir).forall(st =>
        st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")))
      fs.delete(dir, true)
  }

  /** The lifecycle of a persisted SET of keys per id — the O24 band
    * index ([[Dedup.writeBandIndex]]), the O54 perceptual index and
    * the O57 frame index ([[Multimodal.writePerceptualIndex]],
    * [[Multimodal.writeFrameIndex]]), all keyed by `doc_id`; the O29
    * ANN index compacts each of its cell-partitioned stores (keyed by
    * `n_id`) through [[compactDir]]. Rows are `idCol` plus the
    * index's own key columns, hive-partitioned on `partCols`; the
    * owners keep only what differs (key derivation, read-side casts,
    * the probe). Set semantics make a replayed append harmless to the
    * probes (their distinct absorbs duplicate rows) and compaction
    * reclaims the duplicates.
    *
    * An epoch with no rows is never published: a zero-row
    * `partitionBy` write leaves only `_SUCCESS`, which Spark cannot
    * read back (no schema to infer), so both [[write]] and [[compact]]
    * fail loudly before the flip and the current epoch stays live.
    */
  final class KeySetIndex(name: String, idCol: String, partCols: String*) {
    private val by = partCols.mkString("+")

    private def requireRows(keys: DataFrame, op: String, hint: String): Unit =
      require(keys.limit(1).count() > 0,
        s"$op$name: $hint — refusing to publish an unreadable epoch")

    /** Versioned publish of a fresh epoch holding `keys`. */
    def write(keys: DataFrame, path: String): Unit = {
      requireRows(keys, "write", "the corpus yields no index keys; guard upstream")
      rewrite(keys.sparkSession, path, keep = 1) { (_, next) =>
        graft.sinks.RoutedSink.standard().write(s"parquet:$next:by:$by", keys)
      }
    }

    /** Append `keys` into the CURRENT epoch (new files in the hit
      * partitions only) through [[appendInto]].
      */
    def append(keys: DataFrame, path: String): Unit =
      appendInto(keys.sparkSession, path, s"append$name") { dir =>
        graft.sinks.RoutedSink.standard().write(s"parquet-append:$dir:by:$by", keys)
      }

    /** Manifest-resolved read projected to `cols`, with pending
      * tombstones masked by an anti-join over the scan. The mask sits
      * between the scan and the probe join, so a probe loses its
      * dynamic partition pruning WHILE tombstones are pending
      * (Catalyst's DPP rule looks through project/filter, not joins);
      * the window closes at the next [[compact]], and the
      * no-tombstone plan is the plain pruned scan.
      */
    def read(spark: SparkSession, path: String, cols: Column*): DataFrame = {
      val idx = spark.read.parquet(resolveDir(spark, path)).select(cols: _*)
      if (!hasTombstones(spark, path)) idx
      else idx.join(readTombstones(spark, path, idCol), Seq(idCol), "left_anti")
    }

    /** Register `ids` for deletion ([[addTombstones]]). */
    def tombstone(ids: DataFrame, srcCol: String, path: String): Unit =
      addTombstones(ids, srcCol, idCol, path)

    /** Rewrite the current epoch through [[compactDir]] against ONE
      * snapshot of the tombstone files, carrying the append ledger
      * forward; then exactly the consumed tombstone files are deleted,
      * so ids arriving mid-compaction survive to the next cycle.
      * `keepVersions` retired epochs stay as the reader grace window.
      */
    def compact(spark: SparkSession, path: String, keepVersions: Int): Unit = {
      val tombFiles = tombstoneFiles(spark, path)
      rewrite(spark, path, keepVersions, carryLedger = true) { (cur, next) =>
        compactDir(spark, cur.getOrElse(path), next, tombFiles)
      }
      deleteTombstoneFiles(spark, path, tombFiles)
    }

    /** The compaction step over one directory: the rows under `from`
      * with duplicate rows dropped and the ids in `tombFiles` removed,
      * written to `to` as one file per partition bucket. Zero rows
      * raise before anything is written.
      */
    private[operators] def compactDir(
        spark: SparkSession, from: String, to: String, tombFiles: Seq[Path]): Unit = {
      val base = spark.read.parquet(from).distinct()
      val pruned =
        if (tombFiles.isEmpty) base
        else base.join(
          spark.read.parquet(tombFiles.map(_.toString): _*).select(col(idCol)),
          Seq(idCol), "left_anti")
      requireRows(pruned, "compact", "tombstones empty the index; rebuild instead")
      pruned
        .repartition(partCols.map(col): _*)
        .write.mode("overwrite").partitionBy(partCols: _*).parquet(to)
    }
  }
}
