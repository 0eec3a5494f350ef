package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Epoch-versioned storage layouts: the O40 training-shard layout
  * (write, append, compact, snapshot reads) and the O45 merge table
  * that applies changelogs. Both publish through
  * [[IndexLayout.rewrite]] and stamp their parameters in an
  * [[IndexLayout]] manifest.
  */
object ShardLayout {
  /** O40: materialize q62's deterministic global shuffle as the
    * training-shard LAYOUT a loader actually consumes — shard=K hive
    * directories whose files stream rows in permutation order, so
    * "read shard dirs round-robin, each file top to bottom" IS the
    * epoch order, with no rank column and no sort at read time. The
    * permutation is pure (id, seed) arithmetic (portable 60-bit
    * hash; `skey` is kept in the files as the replay/audit key), so
    * re-running with the same seed reproduces every shard's row
    * SEQUENCE bit-for-bit (file split points may shift — range
    * boundary sampling is seeded per physical exchange — but the
    * ordered concatenation per shard is identical), and a different
    * seed is a fresh epoch permutation of the same corpus.
    *
    * Plan: one hash projection (codegen), ONE shuffle
    * (`repartitionByRange(nShards, shard, skey, id)` — near-1:1
    * shard→task placement; see the inline note), per-task sort on
    * (shard, skey, id) — each task writes one ordered file per shard
    * range it holds. No global sort, no rank, no driver state. At
    * 100 TB: size nShards so corpus/nShards ≈ the file-size target
    * (hundreds of MB) — shards scale out the write AND bound any
    * single file.
    */
  def writeShuffledShards(
      df: DataFrame,
      idCol: String,
      path: String,
      nShards: Int = 8,
      seed: String = "42",
      keepVersions: Int = 1
  ): Unit =
    IndexLayout.rewrite(df.sparkSession, path, keepVersions) { (_, next) =>
      shuffledShardsCore(df, idCol, next, nShards, seed, mode = "overwrite",
        op = "writeShuffledShards")
      writeShardLayoutMeta(df.sparkSession, next, nShards, seed, idCol, df)
    }

  /** Read the CURRENT epoch of an O40 shard layout (manifest-resolved;
    * falls back to `path` itself for a pre-versioning in-place layout).
    * A loader wanting the file-stream contract lists shard dirs under
    * this same resolved directory.
    */
  def readShuffledShards(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(IndexLayout.resolveDir(spark, path))

  /** O47: snapshot read — the CURRENT-epoch read above, pinned to a
    * named retained version instead. The epoch machinery always kept
    * `keepVersions` retired epochs as the in-flight-reader grace
    * window; this is the surface that makes the window usable ON
    * PURPOSE: a training job pins its epoch for the whole run while
    * the nightly rewrite publishes the next (no mid-run permutation
    * change), an eval A/B reads two epochs side by side, an incident
    * review replays exactly what the loader saw. Versions come from
    * [[shardVersions]]; a GC'd / unknown / crash-orphaned version
    * fails loudly (silent fallback to current would be a wrong-data
    * bug in a reproducibility surface). Same contract for the band/
    * ANN index layouts via [[IndexLayout.resolveDirAt]] directly.
    */
  def readShuffledShardsAt(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      version: String): DataFrame =
    spark.read.parquet(IndexLayout.resolveDirAt(spark, path, version))

  /** The pinnable snapshot names of an O40 layout, oldest first,
    * current last — `shardVersions(...).last` is what
    * [[readShuffledShards]] resolves.
    */
  def shardVersions(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] =
    IndexLayout.listVersions(spark, path)

  private val ShardLayoutMetaName = "_LAYOUT"

  /** A layout's `_LAYOUT` manifest. `idCol` and `schema` are None for
    * layouts stamped before O43 and round 12 added them.
    */
  private final case class LayoutMeta(
      nShards: Int, seed: String, idCol: Option[String], schema: Option[String])

  /** Order-insensitive schema fingerprint of the USER columns (the
    * core's derived skey/shard are excluded by construction — callers
    * fingerprint the input frame). Column order can't corrupt a
    * parquet read; a missing/extra/retyped column can.
    */
  private def shardSchemaSig(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.sql}").sorted.mkString(",")

  private def writeShardLayoutMeta(
      spark: org.apache.spark.sql.SparkSession,
      versionDir: String,
      nShards: Int,
      seed: String,
      idCol: String,
      rows: DataFrame
  ): Unit =
    IndexLayout.writeManifest(spark, versionDir, ShardLayoutMetaName,
      "nShards" -> nShards, "seed" -> seed, "idCol" -> idCol, "schema" -> shardSchemaSig(rows))

  private def readShardLayoutMeta(
      spark: org.apache.spark.sql.SparkSession,
      versionDir: String
  ): Option[LayoutMeta] =
    IndexLayout.readManifest(spark, versionDir, ShardLayoutMetaName).map { f =>
      def field(k: String) =
        f.getOrElse(k, sys.error(s"bad $ShardLayoutMetaName in $versionDir: no $k in $f"))
      LayoutMeta(field("nShards").toInt, field("seed"), f.get("idCol"), f.get("schema"))
    }
  /** O40's INGESTION half: append a batch (e.g. one streaming
    * micro-batch — ST13 routes here) into an existing shard layout.
    * Shard assignment is the same pure (id, seed) arithmetic, so a
    * row lands in the same shard=K directory the full rewrite would
    * put it in, and each appended file is internally
    * permutation-ordered. What appending CANNOT give is the exact
    * cross-file global order — files interleave by arrival, so the
    * epoch order is approximate until the next
    * [[writeShuffledShards]] rewrite (the nightly "ingest
    * continuously, reshuffle at the epoch boundary" shape). Replay
    * caveat (same as appendAnnIndex): an at-least-once retry appends
    * duplicate rows — dedupe on `idCol` at the epoch rewrite, or
    * loader-side.
    *
    * (nShards, seed) are NOT trusted from the caller: the layout's
    * own `_LAYOUT` manifest (stamped by [[writeShuffledShards]]) is
    * authoritative — the appendAnnIndex discipline, where parameters
    * derive from the stored quantizers. Omit them (the defaults) and
    * the stored values are used; pass them and they are VALIDATED,
    * so a redeployed ingester whose config drifted (different seed →
    * rows landing under a different permutation regime than the
    * epoch rewrite would assign) fails fast instead of silently
    * violating the placement guarantee. Appending to a path with no
    * layout yet requires explicit values and creates epoch v00001.
    */
  def appendShuffledShards(
      df: DataFrame,
      idCol: String,
      path: String,
      nShards: Int = -1,
      seed: String = null
  ): Unit = {
    val op = "appendShuffledShards"
    val spark = df.sparkSession
    IndexLayout.ensureVersioned(spark, path)
    if (IndexLayout.currentVersion(spark, path).isEmpty) {
      require(nShards > 0 && seed != null,
        s"$op: no layout exists at $path — pass nShards and seed for the first write")
      writeShuffledShards(df, idCol, path, nShards, seed)
    } else
      IndexLayout.appendInto(spark, path, op) { dir =>
        readShardLayoutMeta(spark, dir) match {
          case Some(LayoutMeta(n0, s0, _, stampedSchema)) =>
            require(nShards == -1 || nShards == n0,
              s"$op: layout at $path was written with nShards=$n0 but the caller " +
                s"passed nShards=$nShards — appending under a different shard count " +
                "would break the placement guarantee; omit the argument to use the " +
                "stored value, or rewrite the epoch with writeShuffledShards")
            require(seed == null || seed == s0,
              s"$op: layout at $path was written with seed='$s0' but the caller " +
                s"passed seed='$seed' — appending under a different permutation " +
                "regime would break the placement guarantee; omit the argument to " +
                "use the stored value, or rewrite the epoch with writeShuffledShards")
            // Schema-drift guard (round 12): parquet will happily
            // append a batch whose columns drifted into the same
            // shard directories, and a later read resolves the mixed
            // footers NONDETERMINISTICALLY (a missing column comes
            // back silently null, a retyped one may fail only on the
            // files that disagree). Refuse loudly instead; schema
            // evolution is an epoch-rewrite event by design. Layouts
            // stamped before the field carry no signature — validated
            // from their next rewrite on.
            stampedSchema.foreach { stamped =>
              val batchSig = shardSchemaSig(df)
              require(batchSig == stamped,
                s"$op: batch schema does not match the layout's stamped schema —\n" +
                  s"  layout: $stamped\n  batch:  $batchSig\n" +
                  "a mixed-schema shard directory reads nondeterministically " +
                  "(missing columns silently null). Evolve the schema with a " +
                  "writeShuffledShards epoch rewrite, not an append.")
            }
            shuffledShardsCore(df, idCol, dir, n0, s0, mode = "append", op = op)
          case None =>
            // migrated pre-versioning layout: no stored parameters to
            // derive from — require explicit values once and stamp
            // the manifest so later appends are self-describing
            require(nShards > 0 && seed != null,
              s"$op: layout at $path predates the _LAYOUT manifest — pass the " +
                "original nShards and seed explicitly once to stamp it")
            shuffledShardsCore(df, idCol, dir, nShards, seed, mode = "append", op = op)
            writeShardLayoutMeta(spark, dir, nShards, seed, idCol, df)
        }
      }
  }

  /** O43: compact an O40 shard layout's CURRENT epoch into a fresh
    * one — the small-file/ordering repair step every streaming-fed
    * lake layout eventually needs. Continuous
    * [[appendShuffledShards]] ingestion degrades the layout along
    * two axes the docs already concede: (1) each micro-batch lands
    * one parquet file per touched shard, so a day of 1-minute
    * triggers leaves ~1440 small files per shard (open/seek/footer
    * overhead dominates the scan at 100 TB — the classic
    * small-files problem); (2) cross-file epoch order within a shard
    * decays to arrival order; (3) at-least-once retries may have
    * appended duplicate ids. One compaction call repairs all three:
    * it reads the current epoch, dedupes on `idCol` (retried rows
    * are byte-identical, so any survivor is THE row),
    * and re-runs the exact full-rewrite path under the layout's own
    * `_LAYOUT` parameters (manifest-authoritative — the
    * appendShuffledShards discipline; caller passes nothing), so the
    * result is bit-identical in content and order to what
    * [[writeShuffledShards]] would produce from scratch: one range
    * task per shard, one sorted file per shard dir, exact
    * permutation order restored. Cost = one read + one
    * range-exchange + one write of the LAYOUT (never re-hashing the
    * source corpus), which is the floor for a rewrite; run it at the
    * epoch boundary the O40 scaladoc already prescribes.
    */
  def compactShuffledShards(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idColArg: String = null,
      keepVersions: Int = 1
  ): Unit = {
    val op = "compactShuffledShards"
    IndexLayout.rewrite(spark, path, keepVersions) { (cur, next) =>
      val dir = cur.getOrElse(sys.error(s"$op: no epoch published at $path — nothing to compact"))
      val LayoutMeta(n0, s0, idColStored, _) = readShardLayoutMeta(spark, dir).getOrElse(
        sys.error(s"$op: $dir has no $ShardLayoutMetaName manifest — " +
          "rewrite once with writeShuffledShards to stamp it"))
      // idCol is manifest-authoritative when stamped (layouts written
      // since O43); for older layouts the caller supplies it once and
      // the fresh epoch's manifest records it. A caller-passed value
      // that contradicts the manifest fails fast (the append
      // discipline).
      val id = (idColStored, Option(idColArg)) match {
        case (Some(m), Some(c)) =>
          require(m == c, s"$op: layout at $path was written with idCol='$m' but " +
            s"the caller passed idCol='$c' — omit the argument to use the stored value")
          m
        case (Some(m), None) => m
        case (None, Some(c)) => c
        case (None, None) => sys.error(
          s"$op: layout at $path predates the idCol manifest field — pass idCol once to stamp it")
      }
      // Drop the derived columns; the core recomputes both from the
      // manifest parameters (identical values — same id, same seed).
      val stored = spark.read.parquet(dir).drop("skey", "shard")
      require(stored.columns.contains(id), s"$op: layout rows have no '$id' column")
      val rows = stored.dropDuplicates(id)
      shuffledShardsCore(rows, id, next, n0, s0, mode = "overwrite", op = op)
      writeShardLayoutMeta(spark, next, n0, s0, id, rows)
    }
  }

  /** O44: the token-ID training shards — [[TextAnalysis.tokenizeWindows]]
    * (X15 encode + fixed `window`-length padded context windows) fed
    * straight into the O40 epoch-shard writer, so the stored corpus is
    * loader-ready ID ARRAYS, not documents: every row carries exactly
    * `window` ints in `ids` plus `n_real` (pad boundary) and its
    * provenance (`doc_id`, `window_id`). `sample_id` = "doc:window" is
    * the permutation/replay key. The whole job is one map-only encode
    * stage plus O40's single range exchange — the same two-stage shape
    * at 100 TB, where `window`-sized rows also make shard files
    * uniformly sized (nShards sizes the file target directly).
    * Read back with [[readShuffledShards]]; compact/reshard with
    * [[compactShuffledShards]] (idCol is manifest-stamped).
    */
  def packTokenShards(
      docs: DataFrame,
      path: String,
      window: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id",
      nShards: Int = 8,
      seed: String = "42",
      keepVersions: Int = 1
  ): Unit = {
    val windows = TextAnalysis.tokenizeWindows(docs, window, textCol)
      .withColumn("sample_id",
        concat(col(idCol).cast("string"), lit(":"), col("window_id").cast("string")))
    writeShuffledShards(windows, "sample_id", path, nShards, seed, keepVersions)
  }

  private val MergeMetaName = "_MERGE"

  /** O45: the MERGE-applying sink — apply a (key, version, payload,
    * tombstone) changelog batch (q65's compaction output, ST15's
    * update stream) to a STORED keyed table as a versioned
    * upsert/delete, so compacted state is incrementally *applied*,
    * not just recomputable. Semantics are last-writer-wins on the
    * lexicographic `versionCols` struct (ties broken tombstone-wins,
    * then by payload — deterministic): re-applying any batch, stale
    * or duplicated, can never move state backwards, which is the
    * at-least-once replay guarantee a foreachBatch sink needs.
    * Tombstone rows are KEPT in the table (flagged) rather than
    * deleted, because a tombstone must keep suppressing older upserts
    * that arrive in later batches (ST15's contract); [[readMerged]]
    * filters them.
    *
    * Plan shape at 100 TB: stored rows whose key the batch does not
    * touch pass through an ANTI join against the batch's key set —
    * the table is scanned once, never shuffled (O42's discipline);
    * only touched keys union the batch and re-reduce (one
    * map-side-combinable struct-max, q65's own agg). The batch's key
    * set is broadcast because a micro-batch's key set is
    * trigger-bounded. Key, version and tombstone columns are stamped
    * in a
    * `_MERGE` manifest on first apply and VALIDATED against every
    * later one — the manifest is authoritative, callers' args are
    * checked, never trusted (the O43 discipline).
    */
  def applyChangelog(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      versionCols: Seq[String],
      tombstoneCol: String = "is_tombstone",
      keepVersions: Int = 1
  ): Unit = {
    val op = "applyChangelog"
    require(keyCols.nonEmpty, s"$op: at least one key column")
    require(versionCols.nonEmpty, s"$op: at least one version column")
    val declared = keyCols ++ versionCols :+ tombstoneCol
    val missing = declared.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"$op: batch is missing columns ${missing.mkString(", ")}")
    require(declared.distinct.size == declared.size,
      s"$op: key/version/tombstone columns overlap")

    // LWW reduce struct: version prefix, then tombstone (true > false
    // so a delete wins a same-version tie), then the payload columns
    // as the final deterministic tie-break
    val payloadCols = batch.columns.filterNot(declared.contains).toSeq
    val wCols = (versionCols :+ tombstoneCol) ++ payloadCols
    def lww(df: DataFrame): DataFrame =
      df.groupBy(keyCols.map(col): _*)
        .agg(max(struct(wCols.map(col): _*)).as("_w"))
        .select(keyCols.map(col) ++ wCols.map(c => col(s"_w.$c").as(c)): _*)
        .select(batch.columns.toIndexedSeq.map(col): _*) // restore batch column order

    val incoming = lww(batch)
    IndexLayout.rewrite(spark, path, keepVersions) { (cur, next) =>
      val curMeta = cur.map(d => (d, IndexLayout.readManifest(spark, d, MergeMetaName)))
      curMeta match {
        case Some((d, None)) =>
          // an EMPTY current version bootstraps like no version at
          // all; a version holding DATA without the manifest is
          // someone else's layout
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val hasData = fs.exists(p) && fs.listStatus(p).exists { st =>
            val n = st.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          }
          require(!hasData, s"$op: $d holds data but no $MergeMetaName " +
            "manifest — was this layout written by a different sink?")
        case _ => ()
      }
      val merged = curMeta match {
        case None | Some((_, None)) => incoming
        case Some((d, Some(meta))) =>
          val expect = mergeMeta(keyCols, versionCols, tombstoneCol).toMap
          require(meta == expect,
            s"$op: manifest at $path declares $meta but the caller passed $expect — " +
              "the stored layout's contract wins; fix the caller")
          val stored = spark.read.parquet(d)
          require(stored.columns.sorted.sameElements(batch.columns.sorted),
            s"$op: stored schema ${stored.columns.sorted.mkString(",")} != " +
              s"batch schema ${batch.columns.sorted.mkString(",")}")
          val keys = broadcast(incoming.select(keyCols.map(col): _*))
          def keyCond(l: DataFrame) = keyCols.map(k => l(k) <=> keys(k)).reduce(_ && _)
          val untouched = stored.join(keys, keyCond(stored), "left_anti")
            .select(batch.columns.toIndexedSeq.map(col): _*)
          val touched = stored.join(keys, keyCond(stored), "left_semi")
            .select(batch.columns.toIndexedSeq.map(col): _*)
            .unionByName(incoming)
          untouched.unionByName(lww(touched))
      }
      merged.write.mode("overwrite").parquet(next)
      IndexLayout.writeManifest(spark, next, MergeMetaName,
        mergeMeta(keyCols, versionCols, tombstoneCol): _*)
    }
  }

  private def mergeMeta(
      keyCols: Seq[String], versionCols: Seq[String], tombstoneCol: String): Seq[(String, String)] =
    Seq("keyCols" -> keyCols.mkString("+"), "versionCols" -> versionCols.mkString("+"),
      "tombstoneCol" -> tombstoneCol)

  /** Read the CURRENT state of an O45 merge table: live rows only
    * (tombstone suppressors filtered out via the manifest-recorded
    * flag column — no caller-supplied names to get wrong).
    */
  def readMerged(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val v = IndexLayout.currentVersion(spark, path).getOrElse(
      sys.error(s"readMerged: no epoch published at $path"))
    readMergedVersionDir(spark, path, v)
  }

  /** O47's pinned-snapshot read for the O45 merge table: the
    * CURRENT-state read above, pinned to a named retained epoch —
    * same reproducibility contract as [[readShuffledShardsAt]] (a
    * consumer pins its epoch for a whole run while changelog batches
    * publish the next; GC'd / unknown / crash-orphaned versions fail
    * loudly rather than silently falling back to current). Versions
    * come from [[shardVersions]] on the same path.
    */
  def readMergedAt(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      version: String): DataFrame = {
    IndexLayout.resolveDirAt(spark, path, version) // loud validation
    readMergedVersionDir(spark, path, version)
  }

  private def readMergedVersionDir(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      v: String): DataFrame = {
    val meta = IndexLayout.readManifest(spark, s"$path/$v", MergeMetaName).getOrElse(
      sys.error(s"readMerged: $path/$v has no $MergeMetaName manifest"))
    val tomb = meta.getOrElse("tombstoneCol",
      sys.error(s"readMerged: malformed $MergeMetaName manifest: $meta"))
    spark.read.parquet(s"$path/$v").filter(!col(tomb))
  }

  private def shuffledShardsCore(
      df: DataFrame,
      idCol: String,
      path: String,
      nShards: Int,
      seed: String,
      mode: String,
      op: String
  ): Unit = {
    // `op` = the public entry point, so a validation failure inside a
    // streaming foreachBatch names the API the user actually called
    require(nShards > 0, s"$op: nShards must be > 0, got $nShards")
    Seq("skey", "shard").foreach(c =>
      require(!df.columns.contains(c),
        s"$op: input already has a '$c' column — rename it first"))
    val h = graft.functions.PortableHash.hash60(
      concat(col(idCol).cast("string"), lit("#" + seed)))
    df.withColumn("skey", h)
      .withColumn("shard", pmod(col("skey"), lit(nShards)).cast("int"))
      // RANGE-partition on (shard, skey), not hash on shard: hashing
      // nShards shard ids into nShards tasks is balls-in-bins — ~1/e
      // of write tasks sit idle while collided tasks serially write
      // 2-3 shards. Range placement is ~1:1 by construction; a shard
      // the sampler splits across two adjacent tasks just writes two
      // files whose part-numbers (= range order) keep the sorted file
      // listing in permutation order, which is all the loader
      // contract needs.
      .repartitionByRange(nShards, col("shard"), col("skey"), col(idCol))
      .sortWithinPartitions(col("shard"), col("skey"), col(idCol))
      .write.mode(mode).partitionBy("shard").parquet(path)
  }
}
