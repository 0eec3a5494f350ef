package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Workflow
import graft.functions.{GraftExpressions, PortableHash}
import graft.operators.{Clustering, Dedup, Ops, ShardLayout}
import graft.tables.Tables

/** The library's end-to-end story: a training-data curation pipeline
  * declared as a pattern-routed workflow (the reference's
  * provide/depend shape) whose nodes are the graft operators. Because
  * every node returns a LAZY DataFrame, the whole route chain
  * collapses into one Catalyst plan at the terminal action — a
  * language filter declared in the TERMINAL export cell reaches the
  * parquet scan through seven upstream cells (every cell between is
  * pushdown-transparent by construction: anti joins on doc_id,
  * the dedup window and packing window keyed on lang, row-local
  * filters), and nothing materializes between stages unless a cell
  * opts into a materialization policy (`pinCanonical = true` pins the
  * expensive canonical-selection cell via cache — the day-to-day
  * trade: one fused plan vs a reused intermediate).
  *
  *   docs.raw → docs.clean → docs.quality → docs.dedup →
  *     docs.canonical → docs.sample.{pct:int} → docs.packed →
  *       docs.export.{lang} | docs.sinks.{out:path}
  *
  * Run: sbt "runMain graft.examples.DataPipeline"
  */
object DataPipeline {

  /** The C4/Gopher quality gate over a `text` column: keep a doc of
    * n words iff 20 <= n <= 100000 and its repetition
    * dup_frac = 1 - distinct/total word 3-grams is below 0.3. A doc of
    * n words has n - 2 3-grams, so the rule needs only the size of
    * its distinct-3-gram array: no explode, no (doc, 3-gram) shuffle,
    * no verdict join — the gate is one Filter and adds no exchange to
    * any route through it. Catalyst pushes it through docs.clean and
    * inlines the aliases, so each reference is evaluated on its own
    * (see [[graft.functions.WordCount]]): words are counted by the
    * byte-pass WordCount, and the 3-gram array is referenced once,
    * behind the length rule's short circuit. The (doc, 3-gram) count
    * form keeps the same docs — its per-doc group count is the number
    * of distinct 3-grams and its sum is n - 2 (DataPipelineSpec pins
    * the equivalence). Null text is dropped.
    */
  private[graft] def qualityGate(in: DataFrame): DataFrame = {
    val n = GraftExpressions.wordCount(col("text"))
    val distinctGrams = size(GraftExpressions.wordShingles(col("text"), 3, distinct = true))
    in.where(n >= 20 && n <= 100000 &&
      lit(1.0) - distinctGrams.cast("double") / (n - 2) < 0.3)
  }

  def build(spark: SparkSession, dir: String,
      pinCanonical: Boolean = false): Workflow = {
    val wkf = new Workflow("")

    wkf.provide("docs.raw") { _ => Tables.load(spark, dir, "documents") }

    // normalize: lowercase, collapse whitespace (t05's cleaning step)
    wkf
      .provide("docs.clean") { ctx =>
        ctx.as[DataFrame]("in")
          .withColumn("text", regexp_replace(lower(col("text")), "\\s+", " "))
      }
      .depend("in" -> "docs.raw")

    // exact dedup on normalized content, keep the lowest doc_id.
    // Sits DOWNSTREAM of the quality gate (cheap row-local rules
    // first, then the content-keyed shuffle over survivors only).
    // Keyed on (content hash, lang): the same bytes in two languages
    // are distinct corpus entries — and because lang is a PARTITION
    // key of the dedup window, a downstream language slice pushes
    // straight through this cell to the scan.
    wkf
      .provide("docs.dedup") { ctx =>
        val df = ctx.as[DataFrame]("in").withColumn("h", md5(col("text")))
        Ops.dedupExact(df, Seq("h", "lang"), keepBy = "doc_id").drop("h")
      }
      .depend("in" -> "docs.quality")

    // canonical selection (d12's shape): near-dup candidate pairs via
    // the capped 100TB path, connected components label the clusters,
    // the keeper is the longest member (lowest id on ties), and
    // non-keepers are anti-joined away. The CC loop materializes its
    // own (bounded) label/keeper frames internally; the corpus side
    // stays LAZY — an anti join on doc_id is pushdown-transparent for
    // downstream predicates. `pinCanonical` additionally marks the
    // cell `cached()`: the realistic policy when several terminal
    // routes (export slices, sinks) fan out below it.
    val canonical = wkf
      .provide("docs.canonical") { ctx =>
        val in = ctx.as[DataFrame]("in")
        val pairs = Dedup.ngramJaccardAtScale(in, 0.4, 1000)
          .select(col("id_a"), col("id_b"))
        val labels = Clustering.connectedComponents(pairs, "id_a", "id_b",
          idOut = "doc_id", labelOut = "cluster_id")
        val keep = labels
          .join(in.select(col("doc_id"), col("n_chars")), "doc_id")
          .groupBy(col("cluster_id"))
          .agg(min(struct((-col("n_chars")).as("negc"), col("doc_id").as("kid"))).as("_k"))
          .select(col("cluster_id"), col("_k.kid").as("keep_id"))
        val drops = labels.join(broadcast(keep), "cluster_id")
          .where(col("doc_id") =!= col("keep_id"))
          .select(col("doc_id"))
        in.join(broadcast(drops), Seq("doc_id"), "left_anti")
      }
      .depend("in" -> "docs.dedup")
    if (pinCanonical) canonical.cached()

    // deterministic hash-mod downsampling to {pct}% of the corpus
    wkf
      .provide("docs.sample.{pct:int}") { ctx =>
        val pct = ctx.int("pct", 100)
        ctx.as[DataFrame]("in")
          .where(pmod(PortableHash.hash60(col("doc_id").cast("string")), lit(100L)) < pct)
      }
      .depend("in" -> "docs.canonical")

    // quality gate — the t12/t17 filter families as ONE row-local
    // filter (see qualityGate); docs.dedup and everything below it
    // consume this cell, so downstream cells see only surviving docs.
    // (docs.lang/.langstats stay on docs.clean on purpose — they are
    // the §1 pushdown/pruning proof points, which need a scan that the
    // gate doesn't force to read text.)
    wkf
      .provide("docs.quality") { ctx => qualityGate(ctx.as[DataFrame]("in")) }
      .depend("in" -> "docs.clean")

    // language slice — the cross-cell pushdown proof point: this
    // filter is declared two cells DOWNSTREAM of the parquet scan,
    // and because every cell returns a lazy frame, Catalyst carries
    // it through docs.clean's projection into the scan's
    // PushedFilters (DataPipelineSpec reads it off the executed
    // plan). The reference's eager per-cell execution can never do
    // this — each Python node materializes before the next sees it.
    wkf
      .provide("docs.lang.{lang}") { ctx =>
        ctx.as[DataFrame]("in").where(col("lang") === ctx.str("lang"))
      }
      .depend("in" -> "docs.clean")

    // per-language stats — the column-pruning proof point: counting
    // needs no text, so the scan's ReadSchema drops it even though
    // the upstream clean cell rewrites it (project elimination
    // across cells; also spec-pinned).
    wkf
      .provide("docs.langstats.{lang}") { ctx =>
        ctx.as[DataFrame]("in")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      }
      .depend("in" -> "docs.lang.{lang}")

    // corpus-mix diagnostic: pairwise JS divergence between source
    // shards of the CLEANED corpus (t19's core routed as a cell) —
    // the table a mix-rebalancing step consults before reweighting
    wkf
      .provide("docs.divergence") { ctx =>
        graft.operators.TextAnalysis.shardDivergence(ctx.as[DataFrame]("in"))
      }
      .depend("in" -> "docs.clean")

    // decontamination gate (d16's engine): overlap of every canonical
    // doc against the eval shard's shingle universe — the table a
    // release step consults before export (flagged docs are the drop
    // candidates). The mod-10 split stands in for an external
    // benchmark table; swap in any (doc_id, text) frame.
    wkf
      .provide("docs.decontam") { ctx =>
        val in = ctx.as[DataFrame]("in")
        graft.operators.Dedup.decontaminate(
          in.filter(col("doc_id") % 10 =!= 0),
          in.filter(col("doc_id") % 10 === 0))
      }
      .depend("in" -> "docs.canonical")

    // cluster-balanced embedding sample (e08's engine): the
    // topic-balanced subset an annotation or eval pass draws from,
    // instead of over-representing dense clusters
    wkf.provide("vecs.sample") { _ =>
      Clustering.clusterSample(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding")
    }

    // ---- the SOFT-dedup training branch (round 12) ----------------
    // The export path above hard-dedups (canonical drops near-dup
    // non-keepers); the training-shard path below is the
    // data-constrained alternative: keep near-dups and DOWNWEIGHT
    // them (d23), with the leakage-safe split (d22) assigned on the
    // SAME cluster unit — both derive from Dedup.dupClusterAssign,
    // the exact code the d22/d23 queries run, so the pipeline's
    // weights and splits are oracle-gated semantics by construction.
    // One doc_id-keyed join carries (cluster_id, n_members,
    // weight_ppm, split) onto the corpus; every cell below keeps the
    // columns flowing into the O40 shards.
    wkf
      .provide("docs.weighted") { ctx =>
        val in = ctx.as[DataFrame]("in")
        val assigned = Dedup.dupWeights(Dedup.leakageSplit(
          Dedup.dupClusterAssign(in), seed = "split-epoch0"))
        in.join(assigned, Seq("doc_id"))
      }
      .depend("in" -> "docs.dedup")

    // alpha=0.5 language temperature rebalancing (t21's engine) over
    // the weighted corpus — the head language downsampled toward
    // sqrt parity, the tail kept whole, replayable from (id, seed)
    wkf
      .provide("docs.tempered") { ctx =>
        graft.operators.TextAnalysis.temperatureMix(
          ctx.as[DataFrame]("in"), "doc_id", "lang")
      }
      .depend("in" -> "docs.weighted")

    // per-source token-budget cap (t25's engine): no single
    // over-crawled source dominates the tempered mix; selection is
    // the seeded-hash order, so the kept set replays bit-for-bit
    wkf
      .provide("docs.capped") { ctx =>
        val in = ctx.as[DataFrame]("in").withColumn("n_tokens",
          size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long"))
        graft.operators.TextAnalysis.sourceCap(
          in, "source", "doc_id", "n_tokens", cap = 600L, seed = "epoch0cap")
      }
      .depend("in" -> "docs.tempered")

    // terminal training layout (q62/O40): the curated corpus written
    // as shard=K dirs whose files stream in deterministic permutation
    // order — the loader's epoch order with no read-time sort — with
    // weight_ppm and split carried as columns (the loader's sampling
    // mass and eval boundary travel WITH the shards; no side table)
    wkf
      .provide("docs.shards.{out:path}") { ctx =>
        val out = ctx.str("out") + "/shards"
        ShardLayout.writeShuffledShards(
          ctx.as[DataFrame]("in").drop("n_grp", "cum_before"), "doc_id", out,
          nShards = 8, seed = "epoch0")
        out
      }
      .depend("in" -> "docs.capped")

    // ... and the same curated corpus as loader-ready TOKEN-ID
    // context windows (O44): tokenizeWindows keeps every non-text
    // column, so weight_ppm / split / cluster_id ride into the token
    // shards with NO extra join — each fixed-length sample arrives at
    // the loader already carrying its sampling mass and eval
    // boundary. This is the terminal artifact of the whole pipeline:
    // what a training job actually mounts.
    wkf
      .provide("docs.tokenshards.{out:path}") { ctx =>
        val out = ctx.str("out") + "/tokenshards"
        ShardLayout.packTokenShards(
          ctx.as[DataFrame]("in").drop("n_grp", "cum_before"), out,
          window = 64, nShards = 8, seed = "epoch0")
        out
      }
      .depend("in" -> "docs.capped")

    // pack into ~512-token bins per lang for batch assembly
    wkf
      .provide("docs.packed") { ctx =>
        import org.apache.spark.sql.expressions.Window
        val win = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        ctx.as[DataFrame]("in")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("bin_id",
            expr("coalesce(sum(n_tokens) over (partition by lang order by doc_id " +
              "rows between unbounded preceding and 1 preceding), 0) div 512"))
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin_id"))
      }
      .depend("in" -> "docs.sample.{pct}")
    // terminal export slice — the full-width pushdown proof point:
    // this lang predicate is declared EIGHT cells from the scan
    // (raw → clean → quality → dedup → canonical → sample → packed →
    // export) and still lands in the documents scan's PushedFilters,
    // because every intermediate cell is pushdown-transparent
    // (DataPipelineSpec pins it on the executed plan).
    wkf
      .provide("docs.export.{lang}") { ctx =>
        ctx.as[DataFrame]("in").where(col("lang") === ctx.str("lang"))
      }
      .depend("in" -> "docs.packed")

    // routed multi-sink fan-out: ONE cell dispatches the curated
    // corpus to three sink routes (hive-partitioned parquet for
    // training, csv stats for ops, json bin manifest for the loader)
    // through the same pattern-routed write surface (S3)
    wkf
      .provide("docs.sinks.{out:path}") { ctx =>
        val packed = ctx.as[DataFrame]("packed")
        val out = ctx.str("out")
        val sink = graft.sinks.RoutedSink.standard()
        sink.write(s"parquet:$out/packed:by:lang", packed)
        sink.write(s"csv:$out/langstats",
          packed.groupBy(col("lang"))
            .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens")))
        sink.write(s"json:$out/bins",
          packed.groupBy(col("lang"), col("bin_id"))
            .agg(sum(col("n_tokens")).as("bin_tokens")))
        out
      }
      .depend("packed" -> "docs.packed")

    // ---- serving/repair half (round 13): the curated corpus kept
    // CURRENT for downstream consumers as an O45 merge table. Epoch 0
    // seeds from the capped corpus through the routed S7 `merge:`
    // sink; the repair cell applies one changelog batch (ST15 shape:
    // upserts for re-weighted docs + tombstones for recalled ones,
    // last-writer-wins on v) through the SAME route, publishing the
    // next epoch atomically. Readers either track CURRENT
    // (docs.serve.read) or pin an epoch (docs.serve.pinned — O47's
    // reproducibility contract: a training job's view survives a
    // mid-run publish).
    wkf
      .provide("docs.serve.seed.{out:path}") { ctx =>
        val out = ctx.str("out") + "/served"
        val seed = ctx.as[DataFrame]("in").drop("n_grp", "cum_before")
          .withColumn("v", lit(0L))
          .withColumn("is_tombstone", lit(false))
        graft.sinks.RoutedSink.standard()
          .write(s"merge:$out:key:doc_id:v:v", seed)
        out
      }
      .depend("in" -> "docs.capped")
    wkf
      .provide("docs.serve.repair.{out:path}") { ctx =>
        val served = ctx.as[String]("t")
        val base = ctx.as[DataFrame]("in").drop("n_grp", "cum_before")
        // the changelog: a recall notice tombstones every 19th doc;
        // a re-scoring pass doubles the sampling mass of 'de' docs
        val tombs = base.where(col("doc_id") % 19 === 0)
          .withColumn("v", lit(1L)).withColumn("is_tombstone", lit(true))
        val ups = base.where(col("doc_id") % 19 =!= 0 && col("lang") === "de")
          .withColumn("weight_ppm", col("weight_ppm") * 2)
          .withColumn("v", lit(1L)).withColumn("is_tombstone", lit(false))
        graft.sinks.RoutedSink.standard()
          .write(s"merge:$served:key:doc_id:v:v", tombs.unionByName(ups))
        served
      }
      .depend("t" -> "docs.serve.seed.{out}")
      .depend("in" -> "docs.capped")
    wkf
      .provide("docs.serve.read.{out:path}") { ctx =>
        ShardLayout.readMerged(spark, ctx.str("out") + "/served")
      }
    wkf
      .provide("docs.serve.pinned.{ver}.{out:path}") { ctx =>
        ShardLayout.readMergedAt(spark, ctx.str("out") + "/served", ctx.str("ver"))
      }

    // ---- retrieval terminal (round 13): the same curated corpus
    // published as a SEARCHABLE artifact — the O51 lexical index
    // built from the capped corpus (epoch lifecycle like every other
    // published layout), and a search cell probing it. A curation
    // pipeline's consumers are a trainer (docs.tokenshards) AND a
    // retrieval stack (this); both hang off the same capped cell.
    wkf
      .provide("docs.lexindex.{out:path}") { ctx =>
        val out = ctx.str("out") + "/lexindex"
        graft.operators.LexIndex.writeLexIndex(
          ctx.as[DataFrame]("in").drop("n_grp", "cum_before"), out)
        out
      }
      .depend("in" -> "docs.capped")
    wkf
      .provide("docs.search.{terms}.{out:path}") { ctx =>
        // terms arrive '+'-separated in the route (the S7 cols
        // convention); one route call = one query
        import spark.implicits._
        val q = ctx.str("terms").split('+').toSeq.map((1, _)).toDF("q_id", "term")
        graft.operators.LexIndex.probeLexIndex(q,
          graft.operators.LexIndex.readLexIndex(spark, ctx.str("out") + "/lexindex"))
      }
      .depend("idx" -> "docs.lexindex.{out}")

    // ---- admission half (round 14): the curated corpus becomes the
    // STANDING side of the O56 admission gate — an incoming day-2
    // batch is scored against its stored O52 gram counts (quality
    // gate first, then novelty), and the retention route takes a doc
    // OUT of the standing index (negative-count deltas), after which
    // a resubmission of its content is judged on its own merits.
    wkf
      .provide("docs.gramindex.{out:path}") { ctx =>
        val out = ctx.str("out") + "/gramindex"
        // day-1 build ONLY: later runs reuse the published epoch — a
        // per-run rebuild would resurrect taken-down content (the
        // Workflow cache is per-Run, so idempotence must live in the
        // cell for a cross-run stateful artifact)
        if (graft.operators.IndexLayout.currentVersion(
            ctx.as[DataFrame]("in").sparkSession, s"$out/grams").isEmpty)
          graft.operators.GramIndex.writeGramIndex(
            ctx.as[DataFrame]("in").select(col("doc_id"), col("text")), out)
        out
      }
      .depend("in" -> "docs.capped")
    wkf
      .provide("docs.day2batch") { ctx =>
        // the example's incoming batch: a verbatim copy of a standing
        // doc (restated content), a fresh doc, and a spam doc
        val in = ctx.as[DataFrame]("in")
        val sp = in.sparkSession
        import sp.implicits._
        val first = in.orderBy(col("doc_id")).limit(1)
          .select(lit(900001L).as("doc_id"), col("text"))
        first.unionByName(Seq(
          (900002L, (1 to 40).map(i => s"brandnew$i").mkString(" ")),
          (900003L, Seq.fill(20)("spam").mkString(" ")),
          // quality, novel content — but from a BLOCKED domain: only
          // the t35 url gate below keeps it out of admission
          (900004L, (1 to 40).map(i => s"blockedfarm$i").mkString(" "))
        ).toDF("doc_id", "text"))
      }
      .depend("in" -> "docs.capped")
    wkf
      // the t35 provenance gate, BEFORE admission: domains are judged
      // before any quality/novelty work is spent on their documents —
      // a blocked domain's docs never reach the gram probe. The batch
      // here is synthesized, so its URL provenance is attached by the
      // cell; a real ingestion feed carries the url column with the
      // doc.
      .provide("docs.urlgate") { ctx =>
        val batch = ctx.as[DataFrame]("batch")
        val sp = batch.sparkSession
        import sp.implicits._
        val prov = Seq(
          (900001L, "https://mirror.example.com/std/1"),
          (900002L, "https://fresh-src.example.org/new/2"),
          (900003L, "https://fresh-src.example.org/new/3"),
          (900004L, "https://SPAM-MIRROR.net:8080/farm/4")
        ).toDF("doc_id", "url")
        val keep = graft.operators.UrlCuration
          .urlVerdicts(prov, "url", block = Seq("spam-mirror.net"))
          .where(col("verdict") =!= "blocked").select(col("doc_id"))
        batch.join(keep, Seq("doc_id"), "left_semi")
      }
      .depend("batch" -> "docs.day2batch")
    wkf
      .provide("docs.admit.{out:path}") { ctx =>
        // the idx dep forces the index build before the probe; the
        // path is rederived (the docs.search convention)
        val batch = ctx.as[DataFrame]("batch")
        graft.operators.Curation.curateBatch(
          batch,
          graft.operators.GramIndex.readGramIndex(
            batch.sparkSession, ctx.str("out") + "/gramindex"))
      }
      .depend("idx" -> "docs.gramindex.{out}", "batch" -> "docs.urlgate")
    wkf
      .provide("docs.takedown.{out:path}") { ctx =>
        // retention: delete the standing doc the day-2 copy restates
        val victim = ctx.as[DataFrame]("in").orderBy(col("doc_id")).limit(1)
          .select(col("doc_id"), col("text"))
        graft.operators.GramIndex.takedownGramIndex(
          victim, ctx.str("out") + "/gramindex", takedownId = 1L)
        ctx.str("out")
      }
      .depend("in" -> "docs.capped", "idx" -> "docs.gramindex.{out}")

    // default sample rate for the packed route; override per run via
    // extra kwargs or config
    wkf.setConfig(Map("docs.packed" -> Map("pct" -> 50)))

    graft.Materializers.spark(wkf)
  }

  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wkf = build(spark, dir)
    val raw = wkf.run("docs.raw").asInstanceOf[DataFrame].count()
    val dedup = wkf.run("docs.dedup").asInstanceOf[DataFrame].count()
    val packed = wkf.run("docs.packed").asInstanceOf[DataFrame]
    val bins = packed.agg(countDistinct(col("lang"), col("bin_id"))).head().getLong(0)
    val kept = packed.count()
    println(s"raw=$raw dedup=$dedup packed_rows=$kept bins=$bins")
    val quality = wkf.run("docs.quality").asInstanceOf[DataFrame].count()
    println(s"kept_after_quality=$quality")
    // the terminal route is ONE plan: show that sampling's filter sits
    // below the packing window in the same Catalyst tree
    packed.explain("simple")
    // the knob: rerun at 20% without touching the workflow definition
    val kept20 = wkf.run("docs.packed", "pct" -> 20).asInstanceOf[DataFrame].count()
    println(s"packed_rows_at_20pct=$kept20")
    // canonical selection IS a cell now (near-dup CC + keeper rule);
    // the drop list is the dedup/canonical delta
    val deduped = wkf.run("docs.canonical").asInstanceOf[DataFrame].cache()
    val canonical = deduped.count()
    println(s"drop_list=${dedup - canonical} canonical=$canonical")
    // terminal fan-out: one routed cell, three sink formats
    val outDir = java.nio.file.Files.createTempDirectory("graft_sinks").toString
    wkf.run(s"docs.sinks.$outDir")
    println("sink_fanout=" + new java.io.File(outDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.mkString(","))

    // serving half: seed epoch + one repair changelog through the
    // routed merge sink; CURRENT tracks the repair, the pinned seed
    // epoch stays readable (O47)
    val servedOut = java.nio.file.Files.createTempDirectory("graft_served").toString
    val servedPath = wkf.run(s"docs.serve.repair.$servedOut").asInstanceOf[String]
    val epochs = graft.operators.ShardLayout.shardVersions(spark, servedPath)
    val cur = wkf.run(s"docs.serve.read.$servedOut").asInstanceOf[DataFrame].count()
    val seeded = wkf.run(s"docs.serve.pinned.${epochs.head}.$servedOut")
      .asInstanceOf[DataFrame].count()
    println(s"served=$cur seeded=$seeded epochs=${epochs.size}")

    // training-mix reweighting toward a uniform per-lang token target
    // (t15's shape, printed as lang:resample_share)
    val byLang = deduped
      .groupBy(col("lang"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = byLang.agg(sum(col("n_tokens")).as("tot"), count(lit(1)).as("nl"))
    val mixed = byLang.crossJoin(broadcast(tot))
      .withColumn("w", least(
        (lit(1.0) / col("nl")) / (col("n_tokens").cast("double") / col("tot")), lit(3.0)))
      .withColumn("cw_a", col("w") * col("n_tokens").cast("double") / col("tot"))
    val z = mixed.agg(sum(col("cw_a")).as("z"))
    val mixOut = mixed.crossJoin(broadcast(z))
      .select(col("lang"), round(col("cw_a") / col("z"), 3).as("share"))
      .orderBy(col("lang")).collect()
      .map(r => s"${r.getString(0)}:${r.getDouble(1)}").mkString(",")
    println(s"mix_weights=$mixOut")

    // the divergence cell feeding that mix decision: shard pairs +
    // the most-divergent pair (a drifting/garbage-shard tripwire)
    val div = wkf.run("docs.divergence").asInstanceOf[DataFrame]
      .orderBy(col("js_nats").desc, col("src_a"), col("src_b")).collect()
    // single-source corpora have zero shard pairs — no max to print
    val divMax = div.headOption
      .map(r => f", max=${r.getString(0)}~${r.getString(1)}:${r.getDouble(2)}%.3f")
      .getOrElse("")
    println(s"shard_divergence=${div.length} pairs$divMax")

    val dec = wkf.run("docs.decontam").asInstanceOf[DataFrame]
    val decN = dec.count()
    val decFlagged = dec.filter(col("contaminated") === 1).count()
    println(s"decontam_flagged=$decFlagged/$decN")

    val vs = wkf.run("vecs.sample").asInstanceOf[DataFrame]
    println(s"cluster_sample=${vs.count()} rows over " +
      s"${vs.select(col("cell")).distinct().count()} cells")

    // the soft-dedup training branch: weights/split joined on, the
    // temperature rebalance + source cap, then the epoch layout read
    // back WITH the curation columns (round-12 cells)
    val weighted = wkf.run("docs.weighted").asInstanceOf[DataFrame].count()
    val tempered = wkf.run("docs.tempered").asInstanceOf[DataFrame].count()
    val shardDir = wkf.run(s"docs.shards.$outDir").asInstanceOf[String]
    val shardFrame = spark.read.parquet(shardDir)
    println(s"tempered=$tempered/$weighted shards=" +
      s"${shardFrame.select(col("shard")).distinct().count()} " +
      s"shard_rows=${shardFrame.count()}")
    val curation = shardFrame.agg(
      sum(when(col("weight_ppm") < 1000000L, 1L).otherwise(0L)),
      countDistinct(col("split"))).head()
    println(s"shard_curation=downweighted:${curation.getLong(0)}," +
      s"splits:${curation.getLong(1)}")

    // Z-order layout of the curated corpus: interleave (lang-bucket,
    // length-bucket) so scans filtered on EITHER dimension prune files
    val zdir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    Ops.zorderLayout(
      deduped
        .withColumn("lang_b", pmod(PortableHash.hash60(col("lang")), lit(32L)))
        .withColumn("len_b", (col("n_chars") / lit(50)).cast("long")),
      "lang_b", "len_b", bits = 6, numFiles = 8)
      .write.mode("overwrite").parquet(zdir)
    val boxes = spark.read.parquet(zdir)
      .groupBy(input_file_name()).agg(min(col("len_b")).as("lo"), max(col("len_b")).as("hi"))
      .collect()
    val hit = boxes.count(r => r.getAs[Long]("lo") <= 2) // predicate: len_b <= 2
    println(s"zorder_files_hit=$hit/${boxes.length}")

    // multimodal leg: raw image files on disk → binaryFile source (S4)
    // → structural header decode — the on-disk ingest path end to end
    val assetDir = java.nio.file.Files.createTempDirectory("graft_assets")
    graft.operators.Multimodal.imagePayloads(spark, dir)
      .orderBy(col("doc_id")).limit(6).collect()
      .foreach { r =>
        val ext = r.getLong(0) % 3 match {
          case 0 => "png"; case 1 => "jpg"; case _ => "gif"
        }
        java.nio.file.Files.write(
          assetDir.resolve(s"doc_${r.getLong(0)}.$ext"), r.getAs[Array[Byte]]("payload"))
      }
    val assets = graft.sources.Sources.binaryFiles(spark, assetDir.toString)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.", 1).cast("long").as("doc_id"),
        col("content").as("payload"))
    val decoded = graft.operators.Multimodal.decode(assets)
      .toDF().orderBy(col("doc_id"))
      .select(col("doc_id"), col("format"), col("width"), col("height")).collect()
    println("decoded_assets=" + decoded.map(r =>
      s"${r.getLong(0)}:${r.getString(1)}:${r.getInt(2)}x${r.getInt(3)}").mkString(","))

    // admission half: verdicts against the standing corpus's stored
    // gram counts, then a takedown flips the restated copy's verdict
    val admitOut = java.nio.file.Files.createTempDirectory("graft_admit").toString
    def verdicts() = wkf.run(s"docs.admit.$admitOut").asInstanceOf[DataFrame]
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    val v0 = verdicts()
    println("admission=" + v0.toSeq.sortBy(_._1)
      .map { case (id, (ppm, v)) => s"$id:$v@${ppm}ppm" }.mkString(","))
    val gated = wkf.run("docs.urlgate").asInstanceOf[DataFrame]
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    println(s"url_gate=batch=4 blocked=1(spam-mirror.net) " +
      s"to_admission=${gated.mkString(",")}")
    wkf.run(s"docs.takedown.$admitOut")
    val v1 = verdicts()
    // the victim's counts stop covering at the very next probe; the
    // residual coverage is OTHER standing docs' shared phrases (this
    // synthetic corpus repeats heavily), so on this data the verdict
    // honestly stays rejected_novelty — the full verdict flip on a
    // controlled corpus is GramIndexSpec's pin
    println(s"takedown_effect=900001:${v0(900001L)._1}ppm" +
      s" -> ${v1(900001L)._1}ppm (verdict ${v1(900001L)._2})")
    spark.stop()
  }
}
