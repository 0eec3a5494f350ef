package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Lsh, VectorFunctions}
import graft.tables.Tables

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2.3). s01 is the exact baseline (broadcasted probes —
  * scales as probes x corpus, partitioned over the corpus); s02 is the
  * scale path: random-hyperplane LSH buckets + multi-probe, so the
  * join is an equi-join on bucket keys instead of a cross product.
  * The hyperplanes are deterministic ±1 vectors (graft.functions.Lsh)
  * inlined as literals into the DuckDB oracle, so s02 carries a full
  * value-level oracle (round 1 had none).
  */
object Similarity {

  /** DuckDB CTE chain replicating Clustering.kmeansAssign(k=8, iters=2,
    * dim=64) on `embeddings`, ending in
    * `fin(n_id, cell, dq)` — the exact-integer Lloyd formulation the
    * s05 oracle introduced, shared with e08's cluster-sampling
    * oracle. Append further CTEs with a leading comma.
    */
  private[operators] val kmeansFinCtes: String = {
    def sqlL2q(a: String, b: String) =
      s"CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(generate_series(1, 64), " +
        s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
        "(acc, v) -> acc + v) * 1000000000.0 + 0.5) AS BIGINT)"
    s"""WITH ev AS (SELECT vec_id AS n_id, embedding AS x,
          list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
          FROM embeddings),
        c0 AS (SELECT vec_id AS c_id, embedding AS cx FROM embeddings ORDER BY vec_id LIMIT 8),
        a1 AS (SELECT n_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY ${sqlL2q("x", "cx")} ASC, c_id) AS r
          FROM ev, c0),
        as1 AS (SELECT n_id, c_id AS cell1 FROM a1 WHERE r = 1),
        dim AS (SELECT unnest(generate_series(1, 64)) AS j),
        sums AS (SELECT cell1, j, SUM(xq[j]) AS s, COUNT(*) AS nc
          FROM as1 JOIN ev USING (n_id), dim GROUP BY cell1, j),
        cent1 AS (SELECT cell1 AS c_id,
            list(CAST(s AS DOUBLE) / nc / 1000000.0 ORDER BY j) AS cx
          FROM sums GROUP BY cell1),
        d2 AS (SELECT n_id, c_id, ${sqlL2q("x", "cx")} AS dq FROM ev, cent1),
        a2 AS (SELECT n_id, c_id, dq,
            ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY dq ASC, c_id) AS r
          FROM d2),
        fin AS (SELECT n_id, c_id AS cell, dq FROM a2 WHERE r = 1)"""
  }

  /** BM25 top-k lexical retrieval (s13) — the missing retrieval
    * modality next to the s01–s12 vector shapes: production serving
    * is hybrid (lexical + ANN), so the engine needs a rankable
    * keyword scorer whose corpus side is pure keyed aggregation.
    *
    * `queries`: (q_id, term) rows — benchmark-sized, broadcast.
    * Scoring is Robertson/Lucene BM25:
    *   idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
    *   tfn(t,d)= tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   score   = Σ_t idf·tfn
    * fp discipline (t22's): every count (tf, df, dl, N, Σdl) is an
    * exact int64; avgdl is ONE IEEE division of two exact ints; ln is
    * the only transcendental and enters one bounded sum (≤ |query|
    * addends); the score is rounded ONCE (6 dp) and the rank is taken
    * over the ROUNDED score with a doc_id tiebreak, so a last-ulp ln
    * difference between engines cannot flip a rank (it would have to
    * cross a 1e-6 rounding boundary).
    *
    * 100 TB plan: tf/df/dl are map-side-combinable keyed aggs over
    * the token stream (the t09 machinery); the query-term restriction
    * is a BROADCAST join onto tf — only postings of query terms
    * survive into the scoring join, so the per-query work is
    * |postings(terms)|, never corpus-sized; N/avgdl ride a 1-row
    * broadcast; the final top-k is one window per q_id over matched
    * docs only.
    */
  def bm25TopK(
      docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    // three tokenize passes (dl, tf, df); they overlap in the
    // broadcast-build threads, which wins where per-pass latency
    // dominates
    val tok = docs.select(col("doc_id"), explode(expr(TextAnalysis.sparkWords)).as("w"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("ntok"), count(lit(1)).as("ndocs"))
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tok.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      // vocabulary is corpus-scaled; only query terms matter downstream
      .join(broadcast(queries.select(col("term")).distinct()),
        col("w") === col("term")).drop("term")
    val scored = tf.join(broadcast(queries), col("w") === col("term"))
      .join(dl, "doc_id")
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(stats))
    bm25Rank(scored, k, k1, b)
  }

  /** The ONE scoring + ranking tail shared by [[bm25TopK]] and the
    * stored-index probe ([[LexIndex.probeLexIndex]]) — a single
    * definition so the corpus-rescan form and the index form cannot
    * drift by an ulp. Input: rows carrying exact-int64 (q_id, doc_id,
    * tf, df, dl, ntok, ndocs). The fp discipline lives here: avgdl is
    * one IEEE division of two exact ints, ln the only transcendental,
    * one bounded ≤|query|-addend sum, rounded ONCE, ranked on the
    * ROUNDED score with a doc_id tiebreak.
    */
  private[operators] def bm25Rank(
      scored: org.apache.spark.sql.DataFrame,
      k: Int, k1: Double, b: Double): org.apache.spark.sql.DataFrame = {
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("score_r").desc, col("doc_id"))
    scored
      .withColumn("avgdl", col("ntok").cast("double") / col("ndocs"))
      .withColumn("idf",
        log(lit(1.0) + (col("ndocs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfn",
        (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("idf") * col("tfn")).as("score_u"))
      .withColumn("score_r", round(col("score_u"), 6))
      .withColumn("rn", row_number().over(wq).cast("int"))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("doc_id"), col("score_r").as("score"))
  }

  /** Reciprocal-rank fusion of two rankings sharing (qCol, idCol,
    * rankCol) — the standard hybrid-retrieval combiner (Cormack et
    * al., SIGIR'09): fused(d) = Σ_lists 1/(kRrf + rank_list(d)), an
    * item absent from a list contributes 0. Exact-rational per-item
    * work, one keyed full-outer join + one window per query — both
    * inputs are already top-k-bounded, so this is serving-sized, not
    * corpus-sized. Output: (q, rn, id, rrf) with rrf rounded 6 and
    * rank over (rounded desc, id) as everywhere else.
    */
  def rrfFuse(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      qCol: String, idCol: String, rankCol: String,
      k: Int = 10, kRrf: Int = 60): org.apache.spark.sql.DataFrame = {
    val fa = a.select(col(qCol).as("q"), col(idCol).as("id"),
      (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol).cast("double"))).as("ca"))
    val fb = b.select(col(qCol).as("q"), col(idCol).as("id"),
      (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol).cast("double"))).as("cb"))
    val wq = Window.partitionBy(col("q")).orderBy(col("rrf").desc, col("id"))
    fa.join(fb, Seq("q", "id"), "full_outer")
      .withColumn("rrf", round(coalesce(col("ca"), lit(0.0)) + coalesce(col("cb"), lit(0.0)), 6))
      .withColumn("rn", row_number().over(wq).cast("int"))
      .filter(col("rn") <= k)
      .select(col("q"), col("rn"), col("id"), col("rrf"))
  }

  /** The s13 fixed query set: benchmark stand-in for a served query
    * log (4 queries x 3 terms over the corpus vocabulary). */
  private[graft] val bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "hash", 1 -> "join", 1 -> "table",
    2 -> "slow", 2 -> "query", 2 -> "scan",
    3 -> "stream", 3 -> "window", 3 -> "agg",
    4 -> "vector", 4 -> "data", 4 -> "merge")

  /** Shared DuckDB CTE chain for the BM25 oracle, ending in
    * `scored(q_id, doc_id, score_u)` — one definition consumed by
    * both s13 and the s14 hybrid so the two gates cannot drift.
    * Prepend `WITH `, append further CTEs with a leading comma.
    */
  private def bm25OracleCtes: String = {
    val qvals = bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""q(q_id, term) AS (VALUES $qvals),
        w AS (SELECT doc_id, ${graft.operators.TextAnalysis.duckWords} AS wd FROM documents),
        tok AS (SELECT doc_id, unnest(wd) AS w FROM w),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT SUM(dl) AS ntok, CAST(COUNT(*) AS BIGINT) AS ndocs FROM dl),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok
          WHERE w IN (SELECT term FROM q) GROUP BY w),
        scored AS (SELECT q.q_id, tf.doc_id,
            SUM(LN(1.0 + (s.ndocs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
                ((CAST(tf.tf AS DOUBLE) * 2.2) /
                 (CAST(tf.tf AS DOUBLE) +
                  1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                    / (CAST(s.ntok AS DOUBLE) / s.ndocs)))))) AS score_u
          FROM tf JOIN q ON tf.w = q.term
          JOIN dl ON dl.doc_id = tf.doc_id
          JOIN dfreq ON dfreq.w = tf.w
          CROSS JOIN stats s
          GROUP BY 1, 2)"""
  }

  /** s01's engine, factored so the canned query and s16's recall
    * report share ONE exact leg (they cannot drift): exact top-5
    * cosine for the 10 lowest probe ids — probes broadcast, one
    * corpus pass.
    */
  private[operators] def exactCosineTopk(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
    val probes = e.orderBy($"vec_id").limit(10)
      .select($"vec_id".as("p_id"), $"embedding".as("pe"))
    val cand = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
    val w = Window.partitionBy($"p_id").orderBy($"cosine".desc, $"n_id")
    cand.join(broadcast(probes), $"n_id" =!= $"p_id")
      .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter($"rn" <= 5)
      .select($"p_id", $"rn", $"n_id", $"cosine")
      .orderBy($"p_id", $"rn")
  }

  /** s06's engine, factored so the canned query and s16's recall
    * report share ONE approximate leg (see the inline commentary for
    * the IVF+PQ plan story).
    */
  private[operators] def ivfPqTopk(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
        // s03 restricts WHERE to look (nprobe cells of corpus/cells
        // vectors each); s04 compresses WHAT is compared (4 one-byte
        // codes + a broadcast distance table). Composed, this is the
        // FAISS IVFPQ layout — the memory-bound 100 TB ANN: the
        // inverted lists hold (cell, 4 codes) per vector, query cost
        // is nprobe * list-length ADC lookups, and after encoding NO
        // float array transits a shuffle — candidate generation joins
        // on cell ids, ranking joins int codes to the broadcast
        // table. Cell assignment is argmax-as-aggregation (the s04
        // rule: never a window over per-vector candidate rows);
        // centroids/codebooks are the 8 lowest vec_ids so the oracle
        // reproduces them — trained s05 centroids slot in unchanged.
        val M = 4
        val sub = 16
        import Clustering.l2q
        val e = Tables.load(spark, dir, "embeddings")
        val cents = e.orderBy($"vec_id").limit(8)
          .select($"vec_id".as("c_id"), $"embedding".as("ce"))
        // coarse cells: argmax cosine == min(struct(-cos, c_id))
        val cells = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
          .crossJoin(broadcast(cents))
          .withColumn("negc", -VectorFunctions.cosine("ne", "ce"))
          .groupBy($"n_id").agg(min(struct($"negc", $"c_id")).as("_m"))
          .select($"n_id", $"_m.c_id".as("cell"))
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"))
        val wProbe = Window.partitionBy($"p_id").orderBy($"cos_p".desc, $"c_id")
        val probeCells = probes.crossJoin(broadcast(cents))
          .withColumn("cos_p", VectorFunctions.cosine("pe", "ce"))
          .withColumn("rnp", row_number().over(wProbe))
          .filter($"rnp" <= 2)
          .select($"p_id", $"c_id".as("cell"))
        // PQ encode (s04's argmin-as-aggregation, 4 codes per vector)
        val ms = explode(array((0 until M).map(lit(_)): _*)).as("m")
        val subCents = e.orderBy($"vec_id").limit(8)
          .select($"vec_id".as("c_id"), ms, $"embedding")
          .select($"m", $"c_id", expr(s"slice(embedding, m * $sub + 1, $sub)").as("cs"))
        val codes = e.select($"vec_id".as("n_id"), ms, $"embedding")
          .select($"n_id", $"m", expr(s"slice(embedding, m * $sub + 1, $sub)").as("vs"))
          .join(broadcast(subCents), Seq("m"))
          .withColumn("dq", l2q("vs", "cs"))
          .groupBy($"n_id", $"m")
          .agg(min(struct($"dq", $"c_id")).as("_mc"))
          .select($"n_id", $"m", $"_mc.c_id".as("code"))
        val dtab = probes.select($"p_id", ms, $"pe")
          .select($"p_id", $"m", expr(s"slice(pe, m * $sub + 1, $sub)").as("ps"))
          .join(broadcast(subCents), Seq("m"))
          .select($"p_id", $"m", $"c_id".as("code"), l2q("ps", "cs").as("dq"))
        // candidates from the probed cells only, then integer ADC.
        // candIds is deliberately NOT broadcast-hinted: it grows with
        // nprobe x cell size (measured 38 -> 55 MB of broadcast at
        // 100x with the hint), so AQE decides — broadcast while it
        // fits, shuffle keyed on n_id past capacity (the d11
        // degradation pattern). The probe-sided dtab stays hinted:
        // its size is probes x M x k, corpus-independent.
        val candIds = cells.join(broadcast(probeCells), Seq("cell"))
          .where($"n_id" =!= $"p_id")
          .select($"p_id", $"n_id").distinct()
        val w = Window.partitionBy($"p_id").orderBy($"adc_q".asc, $"n_id")
        codes.join(candIds, Seq("n_id"))
          .join(broadcast(dtab), Seq("p_id", "m", "code"))
          .groupBy($"p_id", $"n_id").agg(sum($"dq").as("adc_q"))
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter($"rn" <= 5)
          .select($"p_id", $"rn", $"n_id", $"adc_q")
          .orderBy($"p_id", $"rn")
  }

  /** s06's DuckDB oracle, factored as a CTE chain ending in
    * `adc(p_id, n_id, adc_q)` so s16's recall oracle can append its
    * exact leg with a leading comma (the bm25OracleCtes discipline).
    */
  private def ivfPqOracleCtes: String = {
    def sqlL2q(a: String, b: String) =
          s"CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
            s"list_transform(generate_series(1, 16), " +
            s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
            "(acc, v) -> acc + v) * 1000000000.0 + 0.5) AS BIGINT)"
        val cosNC = VectorFunctions.sqlCosine("e.embedding", "c.ce")
        val cosPC = VectorFunctions.sqlCosine("p.pe", "c.ce")
        s"""c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
        a AS (SELECT e.vec_id AS n_id, c.c_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $cosNC DESC, c.c_id) AS rnc
          FROM embeddings e, c),
        cells AS (SELECT n_id, c_id AS cell FROM a WHERE rnc = 1),
        p AS (SELECT vec_id AS p_id, embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 10),
        pa AS (SELECT p.p_id, c.c_id,
            ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY $cosPC DESC, c.c_id) AS rnp
          FROM p, c),
        pcells AS (SELECT p_id, c_id AS cell FROM pa WHERE rnp <= 2),
        cand AS (SELECT DISTINCT pc.p_id, ce.n_id
          FROM pcells pc JOIN cells ce ON pc.cell = ce.cell AND ce.n_id <> pc.p_id),
        m AS (SELECT unnest([0, 1, 2, 3]) AS m),
        sc AS (SELECT m.m, c.c_id, c.ce[m.m * 16 + 1 : m.m * 16 + 16] AS cs FROM c, m),
        cv AS (SELECT e.vec_id AS n_id, m.m, e.embedding[m.m * 16 + 1 : m.m * 16 + 16] AS vs
          FROM embeddings e, m),
        enc AS (SELECT n_id, cv.m, c_id,
            ROW_NUMBER() OVER (PARTITION BY n_id, cv.m ORDER BY ${sqlL2q("vs", "cs")} ASC, c_id) AS rnc
          FROM cv JOIN sc ON sc.m = cv.m),
        codes AS (SELECT n_id, m, c_id AS code FROM enc WHERE rnc = 1),
        psub AS (SELECT p.p_id, m.m, p.pe[m.m * 16 + 1 : m.m * 16 + 16] AS ps FROM p, m),
        dt AS (SELECT p_id, psub.m, c_id AS code, ${sqlL2q("ps", "cs")} AS dq
          FROM psub JOIN sc ON sc.m = psub.m),
        adc AS (SELECT dt.p_id, codes.n_id, CAST(SUM(dq) AS BIGINT) AS adc_q
          FROM codes
          JOIN cand ON cand.n_id = codes.n_id
          JOIN dt ON dt.p_id = cand.p_id AND dt.m = codes.m AND dt.code = codes.code
          GROUP BY 1, 2)"""
  }

  val all: Seq[Q] = Seq(
    Q(
      "s01_sim_bruteforce_topk",
      "Exact top-5 cosine neighbors for the 10 lowest probe ids",
      (spark, dir) => exactCosineTopk(spark, dir),
      Some {
        val cos = VectorFunctions.sqlCosine("pe", "e.embedding")
        s"""WITH p AS (SELECT vec_id AS p_id, embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 10)
        SELECT p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY $cos DESC, e.vec_id) AS INT) AS rn,
          e.vec_id AS n_id, $cos AS cosine
        FROM p, embeddings e WHERE e.vec_id <> p_id
        QUALIFY rn <= 5 ORDER BY p_id, rn"""
      }
    ),

    Q(
      "s02_sim_lsh_topk",
      "LSH-bucketed ANN: 8 hyperplane bits + multi-probe (Hamming<=1)",
      (spark, dir) => {
        import spark.implicits._
        val e = Tables.load(spark, dir, "embeddings")
        val sigAll = e.select($"vec_id".as("n_id"), $"embedding".as("ne"),
          Lsh.signature("embedding", Lsh.planes8).as("bucket"))
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"),
            Lsh.signature("embedding", Lsh.planes8).as("sig0"))
        // multi-probe: own bucket + each 1-bit flip (Hamming<=1)
        val probeBuckets = probes.select(
          $"p_id", $"pe",
          explode(array(($"sig0" +: (0 until 8).map(i =>
            $"sig0".bitwiseXOR(lit(1 << i)))): _*)).as("bucket")
        )
        val w = Window.partitionBy($"p_id").orderBy($"cosine".desc, $"n_id")
        // dedupe candidate (p_id, n_id) pairs on ids ONLY, then rejoin
        // the embeddings — never shuffles float arrays through distinct
        val candIds = sigAll.select($"n_id", $"bucket")
          .join(broadcast(probeBuckets.select($"p_id", $"bucket")), Seq("bucket"))
          .where($"n_id" =!= $"p_id")
          .select($"p_id", $"n_id").distinct()
        candIds
          .join(broadcast(probes.select($"p_id", $"pe")), Seq("p_id"))
          .join(e.select($"vec_id".as("n_id"), $"embedding".as("ne")), Seq("n_id"))
          .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter($"rn" <= 5)
          .select($"p_id", $"rn", $"n_id", round($"cosine", 6).as("cosine"))
          .orderBy($"p_id", $"rn")
      },
      Some {
        val sig = Lsh.sqlSignature("embedding", Lsh.planes8)
        val cos = VectorFunctions.sqlCosine("p.pe", "ne.embedding")
        s"""WITH sigd AS (SELECT vec_id, embedding, $sig AS bucket FROM embeddings),
        p AS (SELECT vec_id AS p_id, embedding AS pe, bucket AS sig0
          FROM sigd ORDER BY vec_id LIMIT 10),
        pb AS (SELECT p_id,
            unnest([sig0] || list_transform(generate_series(0, 7), i -> xor(sig0, (1 << CAST(i AS INT))))) AS bucket
          FROM p),
        cand AS (SELECT DISTINCT pb.p_id, s.vec_id AS n_id
          FROM pb JOIN sigd s ON pb.bucket = s.bucket AND s.vec_id <> pb.p_id)
        SELECT c.p_id AS p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY c.p_id ORDER BY $cos DESC, c.n_id) AS INT) AS rn,
          c.n_id AS n_id, ROUND($cos, 6) AS cosine
        FROM cand c
        JOIN p ON p.p_id = c.p_id
        JOIN embeddings ne ON ne.vec_id = c.n_id
        QUALIFY rn <= 5 ORDER BY c.p_id, rn"""
      }
    ),

    Q(
      "s03_sim_ivf_topk",
      "IVF-style ANN: 8 fixed coarse centroids, nprobe=2 cells, exact cosine rerank",
      (spark, dir) => {
        import spark.implicits._
        // The IVF scale shape: a small coarse quantizer partitions the
        // corpus into cells (build = broadcast NL over 8 centroid
        // rows, linear in corpus); probes search only their nprobe
        // nearest cells, so lookup cost is corpus/cells * nprobe
        // instead of the full corpus. Centroids here are the 8 lowest
        // vec_ids (deterministic, oracle-reproducible) — a trained
        // k-means quantizer slots into the same plan unchanged.
        val e = Tables.load(spark, dir, "embeddings")
        val cents = e.orderBy($"vec_id").limit(8)
          .select($"vec_id".as("c_id"), $"embedding".as("ce"))
        val wAssign = Window.partitionBy($"n_id").orderBy($"cos_c".desc, $"c_id")
        val cells = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
          .crossJoin(broadcast(cents))
          .withColumn("cos_c", VectorFunctions.cosine("ne", "ce"))
          .withColumn("rnc", row_number().over(wAssign))
          .filter($"rnc" === 1)
          .select($"n_id", $"c_id".as("cell"))
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"))
        val wProbe = Window.partitionBy($"p_id").orderBy($"cos_p".desc, $"c_id")
        val probeCells = probes.crossJoin(broadcast(cents))
          .withColumn("cos_p", VectorFunctions.cosine("pe", "ce"))
          .withColumn("rnp", row_number().over(wProbe))
          .filter($"rnp" <= 2)
          .select($"p_id", $"c_id".as("cell"))
        val w = Window.partitionBy($"p_id").orderBy($"cosine".desc, $"n_id")
        cells.join(broadcast(probeCells), Seq("cell"))
          .where($"n_id" =!= $"p_id")
          .select($"p_id", $"n_id").distinct()
          .join(broadcast(probes), Seq("p_id"))
          .join(e.select($"vec_id".as("n_id"), $"embedding".as("ne")), Seq("n_id"))
          .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter($"rn" <= 5)
          .select($"p_id", $"rn", $"n_id", round($"cosine", 6).as("cosine"))
          .orderBy($"p_id", $"rn")
      },
      Some {
        val cosNC = VectorFunctions.sqlCosine("e.embedding", "c.ce")
        val cosPC = VectorFunctions.sqlCosine("p.pe", "c.ce")
        val cos = VectorFunctions.sqlCosine("pr.pe", "ne.embedding")
        s"""WITH c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
        a AS (SELECT e.vec_id AS n_id, c.c_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY $cosNC DESC, c.c_id) AS rnc
          FROM embeddings e, c),
        cells AS (SELECT n_id, c_id AS cell FROM a WHERE rnc = 1),
        p AS (SELECT vec_id AS p_id, embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 10),
        pa AS (SELECT p.p_id, c.c_id,
            ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY $cosPC DESC, c.c_id) AS rnp
          FROM p, c),
        pcells AS (SELECT p_id, c_id AS cell FROM pa WHERE rnp <= 2),
        cand AS (SELECT DISTINCT pc.p_id, ce.n_id
          FROM pcells pc JOIN cells ce ON pc.cell = ce.cell AND ce.n_id <> pc.p_id)
        SELECT cand.p_id AS p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY cand.p_id ORDER BY $cos DESC, cand.n_id) AS INT) AS rn,
          cand.n_id AS n_id, ROUND($cos, 6) AS cosine
        FROM cand
        JOIN p pr ON pr.p_id = cand.p_id
        JOIN embeddings ne ON ne.vec_id = cand.n_id
        QUALIFY rn <= 5 ORDER BY cand.p_id, rn"""
      }
    ),

    Q(
      "s04_sim_pq_topk",
      "PQ ANN: 4×16-dim subspaces, 8-centroid codebooks, ADC over a broadcast distance table",
      (spark, dir) => {
        import spark.implicits._
        // Product quantization — the memory-bound 100 TB ANN path: each
        // vector is encoded ONCE as M=4 one-byte codes (argmin-L² vs
        // its subspace codebook), and query-time distance is
        // asymmetric-distance-computation: a per-probe (m, code) →
        // distance lookup table (10×4×8 rows here — broadcastable for
        // any realistic probe batch) joined to the code table and
        // summed. The corpus side ships 4 small ints per vector — no
        // float arrays ever transit a shuffle after encoding.
        // Codebooks here are sub-slices of the 8 lowest vec_ids
        // (deterministic, oracle-reproducible); trained k-means
        // codebooks slot into the same plan unchanged. Distances are
        // nano-scaled BIGINTs so the ADC sum is order-independent and
        // exact on both engines (the e01 integer-sum trick).
        val M = 4
        val sub = 16
        import Clustering.l2q
        val e = Tables.load(spark, dir, "embeddings")
        val ms = explode(array((0 until M).map(lit(_)): _*)).as("m")
        val subCents = e.orderBy($"vec_id").limit(8)
          .select($"vec_id".as("c_id"), ms, $"embedding")
          .select($"m", $"c_id", expr(s"slice(embedding, m * $sub + 1, $sub)").as("cs"))
        val corpusSub = e.select($"vec_id".as("n_id"), ms, $"embedding")
          .select($"n_id", $"m", expr(s"slice(embedding, m * $sub + 1, $sub)").as("vs"))
        // argmin via min(struct(dq, c_id)): lexicographic struct order
        // == (dq asc, c_id asc), so this equals the row_number()=1 row
        // but partial-aggregates map-side — the encode shuffle carries
        // one struct per (vector, subspace) instead of 8 sorted
        // candidate rows (measured ~5x on the 100x-corpus encode).
        val codes = corpusSub.join(broadcast(subCents), Seq("m"))
          .withColumn("dq", l2q("vs", "cs"))
          .groupBy($"n_id", $"m")
          .agg(min(struct($"dq", $"c_id")).as("_mc"))
          .select($"n_id", $"m", $"_mc.c_id".as("code"))
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), ms, $"embedding")
          .select($"p_id", $"m", expr(s"slice(embedding, m * $sub + 1, $sub)").as("ps"))
        val dtab = probes.join(broadcast(subCents), Seq("m"))
          .select($"p_id", $"m", $"c_id".as("code"), l2q("ps", "cs").as("dq"))
        val w = Window.partitionBy($"p_id").orderBy($"adc_q".asc, $"n_id")
        codes.join(broadcast(dtab), Seq("m", "code"))
          .where($"n_id" =!= $"p_id")
          .groupBy($"p_id", $"n_id").agg(sum($"dq").as("adc_q"))
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter($"rn" <= 5)
          .select($"p_id", $"rn", $"n_id", $"adc_q")
          .orderBy($"p_id", $"rn")
      },
      Some {
        def sqlL2q(a: String, b: String) =
          s"CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
            s"list_transform(generate_series(1, 16), " +
            s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
            "(acc, v) -> acc + v) * 1000000000.0 + 0.5) AS BIGINT)"
        s"""WITH m AS (SELECT unnest([0, 1, 2, 3]) AS m),
        c AS (SELECT vec_id AS c_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8),
        sc AS (SELECT m.m, c.c_id, c.embedding[m.m * 16 + 1 : m.m * 16 + 16] AS cs FROM c, m),
        cv AS (SELECT e.vec_id AS n_id, m.m, e.embedding[m.m * 16 + 1 : m.m * 16 + 16] AS vs
          FROM embeddings e, m),
        enc AS (SELECT n_id, cv.m, c_id,
            ROW_NUMBER() OVER (PARTITION BY n_id, cv.m ORDER BY ${sqlL2q("vs", "cs")} ASC, c_id) AS rnc
          FROM cv JOIN sc ON sc.m = cv.m),
        codes AS (SELECT n_id, m, c_id AS code FROM enc WHERE rnc = 1),
        p AS (SELECT vec_id AS p_id, embedding FROM embeddings ORDER BY vec_id LIMIT 10),
        psub AS (SELECT p.p_id, m.m, p.embedding[m.m * 16 + 1 : m.m * 16 + 16] AS ps FROM p, m),
        dt AS (SELECT p_id, psub.m, c_id AS code, ${sqlL2q("ps", "cs")} AS dq
          FROM psub JOIN sc ON sc.m = psub.m),
        adc AS (SELECT dt.p_id, codes.n_id, CAST(SUM(dq) AS BIGINT) AS adc_q
          FROM codes JOIN dt ON dt.m = codes.m AND dt.code = codes.code
          WHERE codes.n_id <> dt.p_id
          GROUP BY 1, 2)
        SELECT p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY adc_q ASC, n_id) AS INT) AS rn,
          n_id, adc_q
        FROM adc QUALIFY rn <= 5 ORDER BY p_id, rn"""
      }
    ),

    Q(
      "s06_ivf_pq_topk",
      "IVF+PQ ANN (the FAISS production shape): coarse cells restrict, integer ADC ranks",
      (spark, dir) => ivfPqTopk(spark, dir),
      Some(s"""WITH $ivfPqOracleCtes
        SELECT p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY adc_q ASC, n_id) AS INT) AS rn,
          n_id, adc_q
        FROM adc QUALIFY rn <= 5 ORDER BY p_id, rn""")
    ),


    Q(
      "s07_ivf_pq_trained",
      "IVF+PQ with TRAINED quantizers: Lloyd coarse cells + Lloyd sub-codebooks, integer ADC",
      (spark, dir) => {
        import spark.implicits._
        // s06's parting claim — "trained s05 centroids slot in
        // unchanged" — COMPOSED and oracle-gated: coarse cells and
        // probe routing come from kmeansAssign/kmeansCentroids (O22),
        // sub-codebooks from pqCodebooks (O26), all trained with the
        // same deterministic integer-sum Lloyd the s05 oracle
        // reproduces, so the full trained pipeline carries a
        // value-level DuckDB oracle end-to-end. Downstream of
        // training the plan is s06's: candidates join on cell ids,
        // ranking joins int codes to the broadcast distance table,
        // no float array in any post-encode shuffle.
        val e = Tables.load(spark, dir, "embeddings")
        val probes = e.orderBy($"vec_id").limit(10)
        VectorIndex.ivfPqTrained(e, "vec_id", "embedding",
            probes, "vec_id", "embedding",
            k = 8, nprobe = 2, m = 4, kSub = 8, iters = 2, dim = 64, topK = 5)
          .orderBy($"p_id", $"rn")
      },
      Some {
        def sqlL2q(a: String, b: String, n: Int) =
          s"CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
            s"list_transform(generate_series(1, $n), " +
            s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
            "(acc, v) -> acc + v) * 1000000000.0 + 0.5) AS BIGINT)"
        s"""WITH ev AS (SELECT vec_id AS n_id, embedding AS x,
            list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xq
          FROM embeddings),
        c0 AS (SELECT vec_id AS c_id, embedding AS cx FROM embeddings ORDER BY vec_id LIMIT 8),
        a1 AS (SELECT n_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY ${sqlL2q("x", "cx", 64)} ASC, c_id) AS r
          FROM ev, c0),
        as1 AS (SELECT n_id, c_id AS cell1 FROM a1 WHERE r = 1),
        dim AS (SELECT unnest(generate_series(1, 64)) AS j),
        sums AS (SELECT cell1, j, SUM(xq[j]) AS s, COUNT(*) AS nc
          FROM as1 JOIN ev USING (n_id), dim GROUP BY cell1, j),
        cent1 AS (SELECT cell1 AS c_id,
            list(CAST(s AS DOUBLE) / nc / 1000000.0 ORDER BY j) AS cx
          FROM sums GROUP BY cell1),
        a2 AS (SELECT n_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY n_id ORDER BY ${sqlL2q("x", "cx", 64)} ASC, c_id) AS r
          FROM ev, cent1),
        cells AS (SELECT n_id, c_id AS cell FROM a2 WHERE r = 1),
        p AS (SELECT vec_id AS p_id, embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 10),
        pa AS (SELECT p.p_id, c.c_id,
            ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY ${sqlL2q("pe", "cx", 64)} ASC, c.c_id) AS rnp
          FROM p, cent1 c),
        pcells AS (SELECT p_id, c_id AS cell FROM pa WHERE rnp <= 2),
        m AS (SELECT unnest([0, 1, 2, 3]) AS m),
        evs AS (SELECT n_id, m.m, x[m.m * 16 + 1 : m.m * 16 + 16] AS xs FROM ev, m),
        sc0 AS (SELECT m.m, c.c_id, c.cx[m.m * 16 + 1 : m.m * 16 + 16] AS cs FROM c0 c, m),
        sa1 AS (SELECT n_id, evs.m, c_id,
            ROW_NUMBER() OVER (PARTITION BY n_id, evs.m ORDER BY ${sqlL2q("xs", "cs", 16)} ASC, c_id) AS r
          FROM evs JOIN sc0 ON sc0.m = evs.m),
        scell1 AS (SELECT n_id, m, c_id AS cell1 FROM sa1 WHERE r = 1),
        sdim AS (SELECT unnest(generate_series(1, 16)) AS j),
        ssums AS (SELECT cell1, m, j, SUM(xq[m * 16 + j]) AS s, COUNT(*) AS nc
          FROM scell1 JOIN ev USING (n_id), sdim GROUP BY cell1, m, j),
        scent1 AS (SELECT m, cell1 AS c_id,
            list(CAST(s AS DOUBLE) / nc / 1000000.0 ORDER BY j) AS cs
          FROM ssums GROUP BY m, cell1),
        enc AS (SELECT n_id, evs.m, c_id,
            ROW_NUMBER() OVER (PARTITION BY n_id, evs.m ORDER BY ${sqlL2q("xs", "cs", 16)} ASC, c_id) AS r
          FROM evs JOIN scent1 ON scent1.m = evs.m),
        codes AS (SELECT n_id, m, c_id AS code FROM enc WHERE r = 1),
        psub AS (SELECT p.p_id, m.m, p.pe[m.m * 16 + 1 : m.m * 16 + 16] AS ps FROM p, m),
        dt AS (SELECT p_id, psub.m, c_id AS code, ${sqlL2q("ps", "cs", 16)} AS dq
          FROM psub JOIN scent1 ON scent1.m = psub.m),
        cand AS (SELECT DISTINCT pc.p_id, ce.n_id
          FROM pcells pc JOIN cells ce ON pc.cell = ce.cell AND ce.n_id <> pc.p_id),
        adc AS (SELECT dt.p_id, codes.n_id, CAST(SUM(dq) AS BIGINT) AS adc_q
          FROM codes JOIN cand ON cand.n_id = codes.n_id
          JOIN dt ON dt.p_id = cand.p_id AND dt.m = codes.m AND dt.code = codes.code
          GROUP BY 1, 2)
        SELECT p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY adc_q ASC, n_id) AS INT) AS rn,
          n_id, adc_q
        FROM adc QUALIFY rn <= 5 ORDER BY p_id, rn"""
      }
    ),

    Q(
      "s05_kmeans_cells",
      "TRAINED coarse quantizer: 2 deterministic Lloyd iterations, exact on both engines",
      (spark, dir) => {
        import spark.implicits._
        // s03/d10 use fixed centroids and note "a trained quantizer
        // slots in unchanged" — this IS that training loop, and since
        // round 4 it IS the library API: Clustering.kmeansAssign (O22) runs
        // the deterministic Lloyd iterations (micro-scaled BIGINT
        // centroid sums — order-independent; nano-scaled integer L²
        // distances; argmin-as-aggregation) and this query is just
        // its per-cell aggregation, so the canned form and the API
        // cannot drift (OpsSpec pins them equal anyway). Per
        // iteration: one broadcast NL against k centroid rows + one
        // keyed agg — linear in the corpus, the Lloyd shape you'd run
        // at 100 TB.
        Clustering.kmeansAssign(Tables.load(spark, dir, "embeddings"),
            "vec_id", "embedding", k = 8, iters = 2, dim = 64)
          .groupBy($"cell")
          .agg(count(lit(1)).as("n"), sum($"dq").as("sse_q"))
          .orderBy($"cell")
      },
      Some(s"""$kmeansFinCtes
        SELECT cell, COUNT(*) AS n, CAST(SUM(dq) AS BIGINT) AS sse_q
        FROM fin GROUP BY cell ORDER BY cell""")
    ),

    Q(
      "s08_range_search",
      "Radius similarity search: ALL neighbors within cosine >= 0.2, LSH candidates + exact verify",
      (spark, dir) => {
        import spark.implicits._
        // The OTHER retrieval shape: top-k (s01-s07) answers "best k
        // neighbors"; range search answers "every neighbor at least
        // this similar" — the query a near-dup audit or a
        // retrieval-with-threshold pipeline runs. Same scale posture
        // as s02: candidates from the 8-bit hyperplane buckets with
        // Hamming<=1 multi-probe (bounded equi-join, no corpus NL),
        // exact cosine verify on candidates only, the THRESHOLD
        // filter on the unrounded value (d07 lesson). n_in_radius is
        // a per-probe window count over the survivors.
        val e = Tables.load(spark, dir, "embeddings")
        val sigAll = e.select($"vec_id".as("n_id"),
          Lsh.signature("embedding", Lsh.planes8).as("bucket"))
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"),
            Lsh.signature("embedding", Lsh.planes8).as("sig0"))
        val probeBuckets = probes.select(
          $"p_id",
          explode(array(($"sig0" +: (0 until 8).map(i =>
            $"sig0".bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
        val candIds = sigAll
          .join(broadcast(probeBuckets), Seq("bucket"))
          .where($"n_id" =!= $"p_id")
          .select($"p_id", $"n_id").distinct()
        val w = Window.partitionBy($"p_id")
        candIds
          .join(broadcast(probes.select($"p_id", $"pe")), Seq("p_id"))
          .join(e.select($"vec_id".as("n_id"), $"embedding".as("ne")), Seq("n_id"))
          .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
          .where($"cosine" >= 0.2)
          .withColumn("n_in_radius", count(lit(1)).over(w).cast("long"))
          .select($"p_id", $"n_id", round($"cosine", 6).as("cosine"), $"n_in_radius")
          .orderBy($"p_id", $"n_id")
      },
      Some {
        val sig = Lsh.sqlSignature("embedding", Lsh.planes8)
        val cos = VectorFunctions.sqlCosine("p.pe", "ne.embedding")
        s"""WITH sigd AS (SELECT vec_id, embedding, $sig AS bucket FROM embeddings),
        p AS (SELECT vec_id AS p_id, embedding AS pe, bucket AS sig0
          FROM sigd ORDER BY vec_id LIMIT 10),
        pb AS (SELECT p_id,
            unnest([sig0] || list_transform(generate_series(0, 7), i -> xor(sig0, (1 << CAST(i AS INT))))) AS bucket
          FROM p),
        cand AS (SELECT DISTINCT pb.p_id, s.vec_id AS n_id
          FROM pb JOIN sigd s ON pb.bucket = s.bucket AND s.vec_id <> pb.p_id),
        v AS (SELECT c.p_id, c.n_id, $cos AS cosine
          FROM cand c
          JOIN p ON p.p_id = c.p_id
          JOIN embeddings ne ON ne.vec_id = c.n_id
          WHERE $cos >= 0.2)
        SELECT p_id, n_id, ROUND(cosine, 6) AS cosine,
          CAST(COUNT(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_in_radius
        FROM v ORDER BY p_id, n_id"""
      }
    ),

    Q(
      "s09_filtered_ann",
      "Attribute-filtered exact top-3: nearest neighbors AMONG label-constrained candidates (pre-filter semantics)",
      (spark, dir) => {
        import spark.implicits._
        // The serving feature plain ANN lacks: "neighbors of this
        // probe among docs passing a predicate" (rights-cleared only,
        // same-language only, date-ranged). PRE-filter semantics —
        // the constraint restricts the CANDIDATE set, then top-k is
        // taken, so selective predicates still return k rows
        // (post-filtering a fixed-k shortlist starves them). This is
        // the exact reference the O41 index path (probeAnnIndex
        // allowedIds + nprobe/refine refill) is spec-measured
        // against; here the filter reaches the parquet scan (pushed
        // predicate), the probe side broadcasts, and the rank window
        // is per-probe — s01's plan with a smaller candidate side.
        val e = Tables.load(spark, dir, "embeddings")
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"))
        val cand = e.where($"label" % 3 === 0)
          .select($"vec_id".as("n_id"), $"embedding".as("ne"), $"label")
        val w = Window.partitionBy($"p_id").orderBy($"cosine".desc, $"n_id")
        cand.join(broadcast(probes), $"n_id" =!= $"p_id")
          .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter($"rn" <= 3)
          .select($"p_id", $"rn", $"n_id", $"label".cast("long").as("label"), $"cosine")
          .orderBy($"p_id", $"rn")
      },
      Some {
        val cos = VectorFunctions.sqlCosine("pe", "e.embedding")
        s"""WITH p AS (SELECT vec_id AS p_id, embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 10)
        SELECT p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY $cos DESC, e.vec_id) AS INT) AS rn,
          e.vec_id AS n_id, CAST(e.label AS BIGINT) AS label, $cos AS cosine
        FROM p, embeddings e WHERE e.vec_id <> p_id AND e.label % 3 = 0
        QUALIFY rn <= 3 ORDER BY p_id, rn"""
      }
    ),

    Q(
      "s10_sign_sketch_rerank",
      "Binary-quantized ANN: 60-bit sign sketch + Hamming candidate scan + exact cosine rerank",
      (spark, dir) => {
        import spark.implicits._
        // The modern binary-quantization serving pattern (the 32x
        // memory cut every vector store now ships): the coarse pass
        // compares 8-byte sign words by POPCOUNT — X14 SignPack60
        // packs sign(embedding[j]) in one codegen pass, Hamming
        // approximates angle (both monotone in the plane-crossing
        // count) — and only the top-M=50 Hamming survivors per probe
        // move their float arrays into the exact cosine rerank.
        // At 100 TB the coarse scan reads 8 bytes/vector instead of
        // 256 and never shuffles floats; the rerank join is bounded
        // at probes x M rows. Same bounded shapes as s01/s02: 10-row
        // probe broadcast, per-probe windows over candidate sets.
        // Ties deterministic at both stages ((hamming, n_id) then
        // (cosine desc, n_id)).
        val e = Tables.load(spark, dir, "embeddings")
        val sig = e.select($"vec_id".as("n_id"),
          graft.functions.GraftExpressions.signPack60($"embedding").as("nsig"))
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"),
            graft.functions.GraftExpressions.signPack60($"embedding").as("psig"))
        val wH = Window.partitionBy($"p_id").orderBy($"hamming", $"n_id")
        val cands = sig.join(broadcast(probes.select($"p_id", $"psig")), $"n_id" =!= $"p_id")
          .withColumn("hamming", bit_count($"psig".bitwiseXOR($"nsig")).cast("int"))
          // null sig (sub-60-dim vector) would sort FIRST under the
          // ascending Hamming order and crowd out real candidates
          .where($"hamming".isNotNull)
          .withColumn("hrn", row_number().over(wH))
          .filter($"hrn" <= 50)
          .select($"p_id", $"n_id", $"hamming")
        val wC = Window.partitionBy($"p_id").orderBy($"cosine".desc, $"n_id")
        cands
          .join(broadcast(probes.select($"p_id", $"pe")), Seq("p_id"))
          .join(e.select($"vec_id".as("n_id"), $"embedding".as("ne")), Seq("n_id"))
          .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
          .withColumn("rn", row_number().over(wC).cast("int"))
          .filter($"rn" <= 5)
          .select($"p_id", $"rn", $"n_id", $"hamming", round($"cosine", 6).as("cosine"))
          .orderBy($"p_id", $"rn")
      },
      Some {
        val cos = VectorFunctions.sqlCosine("p.pe", "ne.embedding")
        val pack = "list_aggregate(list_transform(generate_series(1, 60), " +
          "i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END), 'sum')"
        s"""WITH sigd AS (SELECT vec_id, $pack AS sig FROM embeddings),
        p AS (SELECT e.vec_id AS p_id, e.embedding AS pe, s.sig AS psig
          FROM embeddings e JOIN sigd s ON s.vec_id = e.vec_id
          ORDER BY e.vec_id LIMIT 10),
        cand AS (SELECT p.p_id, s.vec_id AS n_id,
            CAST(bit_count(xor(p.psig, s.sig)) AS INT) AS hamming,
            ROW_NUMBER() OVER (PARTITION BY p.p_id
              ORDER BY bit_count(xor(p.psig, s.sig)), s.vec_id) AS hrn
          FROM p, sigd s WHERE s.vec_id <> p.p_id
          QUALIFY hrn <= 50)
        SELECT c.p_id AS p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY c.p_id ORDER BY $cos DESC, c.n_id) AS INT) AS rn,
          c.n_id AS n_id, c.hamming AS hamming, ROUND($cos, 6) AS cosine
        FROM cand c
        JOIN p ON p.p_id = c.p_id
        JOIN embeddings ne ON ne.vec_id = c.n_id
        QUALIFY rn <= 5 ORDER BY c.p_id, rn"""
      }
    ),

    Q(
      "s11_mmr_diversify",
      "Maximal-marginal-relevance rerank: top-5 diverse results from the top-20 relevance pool",
      (spark, dir) => {
        import spark.implicits._
        // MMR (Carbonell-Goldstein) — the diversity-aware serving
        // step a near-dup-heavy corpus needs: a plain top-k returns
        // five copies of the same answer; MMR greedily picks
        //   argmax  lambda*rel(c) - (1-lambda)*max_{s in S} sim(c,s)
        // trading relevance against redundancy with what's already
        // selected. Exactness discipline: relevance and pairwise
        // sims are the deterministic fused cosine ROUNDED ONCE to
        // ppm int64 (round is the only fp->int crossing, identical
        // both engines), lambda=0.7 carried as the x10 integer form
        // score = 7*rel_ppm - 3*msim_ppm — every comparison the
        // greedy makes is exact integer, so the selection sequence
        // is engine-pinned. Scale shape: the corpus-scale work is
        // ONE relevance pass (s01's bounded probe broadcast); the
        // pool is 20/probe BY CONSTRUCTION, so the pairwise sims
        // (20x19/probe) and the 5 greedy rounds run on fixed-size
        // frames regardless of corpus size — the rounds iterate
        // over k, never over data. Both bounded frames checkpoint
        // once and every round re-reads one evaluation.
        val e = Tables.load(spark, dir, "embeddings")
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"))
        val wRel = Window.partitionBy($"p_id").orderBy($"rel_ppm".desc, $"n_id")
        val pool = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
          .join(broadcast(probes), $"n_id" =!= $"p_id")
          .withColumn("rel_ppm",
            round(VectorFunctions.cosine("pe", "ne") * 1e6).cast("long"))
          .withColumn("rn", row_number().over(wRel))
          .filter($"rn" <= 20)
          .select($"p_id", $"n_id", $"ne", $"rel_ppm")
          .graftCheckpointLazy // bounded: probes x 20
        val sims = pool.select($"p_id", $"n_id", $"ne")
          .join(pool.select($"p_id", $"n_id".as("b_id"), $"ne".as("nb")), Seq("p_id"))
          .where($"n_id" =!= $"b_id")
          .withColumn("sim_ppm",
            round(VectorFunctions.cosine("ne", "nb") * 1e6).cast("long"))
          .select($"p_id", $"n_id", $"b_id", $"sim_ppm")
          .graftCheckpointLazy // bounded: probes x 20 x 19
        // The greedy itself runs on the DRIVER over the two bounded
        // checkpointed frames (probes x 20 and probes x 20 x 19 rows
        // BY CONSTRUCTION — serving-sized at any corpus scale, the
        // audited bounded-collect class): round 16's optimization
        // pass replaced the 4-round checkpointed DataFrame loop
        // (~12 tiny AQE stages of pure scheduling latency) with the
        // identical exact-integer arithmetic in Scala — score =
        // 7*rel_ppm - 3*max_sim_ppm, pick = max by (score desc, n_id
        // asc), the same total order the former row_number window
        // used. This is also the honest production posture: an MMR
        // rerank over a 20-candidate pool is served in-process, not
        // as 4 distributed jobs. The oracle still unrolls the rounds
        // in SQL, so the selection trajectory stays value-gated.
        val poolRows = pool.select($"p_id", $"n_id", $"rel_ppm").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // cheap guard: the collects are bounded BY CONSTRUCTION
        // (limit(10) probes x rn<=20 pool); a future upstream edit
        // that loosened either bound must fail loudly here, not turn
        // this into a silent corpus-sized driver collect
        require(poolRows.length <= 10 * 20,
          s"s11 pool collect grew past its probes*20 bound: ${poolRows.length} rows")
        val simRows = sims.collect()
          .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
          .toMap
        require(simRows.size <= 10 * 20 * 19,
          s"s11 sims collect grew past its probes*20*19 bound: ${simRows.size} rows")
        val byProbe = poolRows.groupBy(_._1) // one pass, not a scan per probe
        val picked = byProbe.keys.toSeq.sorted.flatMap { p =>
          val cands = byProbe(p)
          var sel = Vector.empty[(Long, Long, Int, Long)] // n_id, rel, rank, score
          for (r <- 1 to 5) {
            val remaining = cands.filter { case (_, n, _) => !sel.exists(_._1 == n) }
            if (remaining.nonEmpty) {
              val scored = remaining.map { case (_, n, rel) =>
                // mirror of the former left join + coalesce(msim, 0):
                // no sim row to any selected item contributes 0
                val found = sel.flatMap(s => simRows.get((p, n, s._1)))
                val msim = if (found.isEmpty) 0L else found.max
                (n, rel, rel * 7 - msim * 3)
              }
              val best = scored.minBy { case (n, _, sc) => (-sc, n) }
              sel :+= ((best._1, best._2, r, best._3))
            }
          }
          sel.map { case (n, rel, r, sc) => (p, r, n, rel, sc) }
        }.toSeq
        picked.toDF("p_id", "rank", "n_id", "rel_ppm", "score_x10")
          .select($"p_id", $"rank".cast("int").as("rank"), $"n_id", $"rel_ppm", $"score_x10")
          .orderBy($"p_id", $"rank")
      },
      Some {
        val cosPE = VectorFunctions.sqlCosine("p.pe", "e.embedding")
        val cosAB = VectorFunctions.sqlCosine("a.ne", "b.ne")
        val steps = (2 to 5).map { r =>
          s"""msim$r AS (SELECT s.p_id, s.n_id, MAX(s.sim_ppm) AS msim
            FROM sims s JOIN sel${r - 1} t ON t.p_id = s.p_id AND t.n_id = s.b_id
            GROUP BY s.p_id, s.n_id),
          s$r AS (SELECT p_id, n_id, rel_ppm, CAST($r AS INT) AS rank, score AS score_x10 FROM (
            SELECT c.p_id, c.n_id, c.rel_ppm,
              c.rel_ppm * 7 - 3 * COALESCE(m.msim, 0) AS score,
              ROW_NUMBER() OVER (PARTITION BY c.p_id
                ORDER BY c.rel_ppm * 7 - 3 * COALESCE(m.msim, 0) DESC, c.n_id) AS rk
            FROM pool c
            LEFT JOIN msim$r m ON m.p_id = c.p_id AND m.n_id = c.n_id
            LEFT JOIN sel${r - 1} x ON x.p_id = c.p_id AND x.n_id = c.n_id
            WHERE x.n_id IS NULL) WHERE rk = 1),
          sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)"""
        }.mkString(",\n        ")
        s"""WITH p AS (SELECT vec_id AS p_id, embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 10),
        poolall AS (SELECT p.p_id, e.vec_id AS n_id, e.embedding AS ne,
            CAST(ROUND($cosPE * 1000000) AS BIGINT) AS rel_ppm
          FROM p, embeddings e WHERE e.vec_id <> p.p_id),
        pool AS (SELECT p_id, n_id, ne, rel_ppm FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY rel_ppm DESC, n_id) AS rn
          FROM poolall) WHERE rn <= 20),
        sims AS (SELECT a.p_id, a.n_id, b.n_id AS b_id,
            CAST(ROUND($cosAB * 1000000) AS BIGINT) AS sim_ppm
          FROM pool a JOIN pool b ON b.p_id = a.p_id AND b.n_id <> a.n_id),
        sel1 AS (SELECT p_id, n_id, rel_ppm, CAST(1 AS INT) AS rank, score AS score_x10 FROM (
          SELECT p_id, n_id, rel_ppm, rel_ppm * 7 AS score,
            ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY rel_ppm * 7 DESC, n_id) AS rk
          FROM pool) WHERE rk = 1),
        $steps
        SELECT p_id, rank, n_id, rel_ppm, score_x10 FROM sel5 ORDER BY p_id, rank"""
      }
    ),

    Q(
      "s12_filtered_sign_rerank",
      "Filtered binary ANN: sign-sketch Hamming coarse scan over the allow-listed candidate stream + exact rerank",
      (spark, dir) => {
        import spark.implicits._
        // s10's binary quantization composed with s09's pre-filter
        // semantics — the serving query a rights-constrained vector
        // store actually runs: "nearest ALLOWED neighbors", where
        // the allow-list (here label % 10 = 0, selectivity 0.1)
        // restricts the CANDIDATE stream before the coarse scan, so
        // the Hamming top-M budget is spent entirely on eligible
        // vectors (post-filtering a fixed-M shortlist would starve a
        // 10% predicate to ~M/10 candidates before rerank). Shapes
        // are s10's exactly: popcount over 8-byte sign words for the
        // coarse pass (pushed predicate reaches the scan; floats
        // never move), probes broadcast, and only top-M=50 survivors
        // per probe carry float arrays into the exact cosine top-3.
        // The stored-index twin is O46 probeSignIndex (same
        // composition over the persisted sigs sidecar); AnnIndexSpec
        // pins row equality at nprobe = k and floors recall vs the
        // exact filtered answer on both paths.
        val e = Tables.load(spark, dir, "embeddings")
        val sig = e.where($"label" % 10 === 0)
          .select($"vec_id".as("n_id"),
            graft.functions.GraftExpressions.signPack60($"embedding").as("nsig"))
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"),
            graft.functions.GraftExpressions.signPack60($"embedding").as("psig"))
        val wH = Window.partitionBy($"p_id").orderBy($"hamming", $"n_id")
        val cands = sig.join(broadcast(probes.select($"p_id", $"psig")), $"n_id" =!= $"p_id")
          .withColumn("hamming", bit_count($"psig".bitwiseXOR($"nsig")).cast("int"))
          // null sig (sub-60-dim vector) would sort FIRST under the
          // ascending Hamming order and crowd out real candidates
          .where($"hamming".isNotNull)
          .withColumn("hrn", row_number().over(wH))
          .filter($"hrn" <= 50)
          .select($"p_id", $"n_id", $"hamming")
        val wC = Window.partitionBy($"p_id").orderBy($"cosine".desc, $"n_id")
        cands
          .join(broadcast(probes.select($"p_id", $"pe")), Seq("p_id"))
          .join(e.select($"vec_id".as("n_id"), $"embedding".as("ne")), Seq("n_id"))
          .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
          .withColumn("rn", row_number().over(wC).cast("int"))
          .filter($"rn" <= 3)
          .select($"p_id", $"rn", $"n_id", $"hamming", round($"cosine", 6).as("cosine"))
          .orderBy($"p_id", $"rn")
      },
      Some {
        val cos = VectorFunctions.sqlCosine("p.pe", "ne.embedding")
        val pack = "list_aggregate(list_transform(generate_series(1, 60), " +
          "i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END), 'sum')"
        s"""WITH sigd AS (SELECT vec_id, $pack AS sig FROM embeddings WHERE label % 10 = 0),
        p AS (SELECT e.vec_id AS p_id, e.embedding AS pe, $pack AS psig
          FROM embeddings e ORDER BY e.vec_id LIMIT 10),
        cand AS (SELECT p.p_id, s.vec_id AS n_id,
            CAST(bit_count(xor(p.psig, s.sig)) AS INT) AS hamming,
            ROW_NUMBER() OVER (PARTITION BY p.p_id
              ORDER BY bit_count(xor(p.psig, s.sig)), s.vec_id) AS hrn
          FROM p, sigd s WHERE s.vec_id <> p.p_id
          QUALIFY hrn <= 50)
        SELECT c.p_id AS p_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY c.p_id ORDER BY $cos DESC, c.n_id) AS INT) AS rn,
          c.n_id AS n_id, c.hamming AS hamming, ROUND($cos, 6) AS cosine
        FROM cand c
        JOIN p ON p.p_id = c.p_id
        JOIN embeddings ne ON ne.vec_id = c.n_id
        QUALIFY rn <= 3 ORDER BY c.p_id, rn"""
      }
    ),

    Q(
      "s13_bm25_topk",
      "BM25 lexical top-10 per query (k1=1.2, b=0.75) over the documents corpus",
      (spark, dir) => {
        import spark.implicits._
        // The lexical half of hybrid retrieval (see bm25TopK's
        // scaladoc for the fp + 100 TB story). Fixed 4x3-term query
        // set; ranks taken over the 6-dp-rounded score with doc_id
        // tiebreak so the ln ulp can't flip a rank between engines.
        val q = bm25Queries.toDF("q_id", "term")
        bm25TopK(Tables.load(spark, dir, "documents"), q)
          .orderBy($"q_id", $"rn")
      },
      Some {
        s"""WITH $bm25OracleCtes
        SELECT q_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY ROUND(score_u, 6) DESC, doc_id) AS INT) AS rn,
          doc_id, ROUND(score_u, 6) AS score
        FROM scored QUALIFY rn <= 10 ORDER BY q_id, rn"""
      }
    ),

    Q(
      "s14_hybrid_rrf",
      "Hybrid retrieval: BM25 lexical lists fused with binary-ANN lists by reciprocal-rank fusion, top-5 per query",
      (spark, dir) => {
        import spark.implicits._
        // The serving query a production retrieval stack actually
        // runs: neither ranker alone — BM25 misses paraphrase,
        // vectors miss rare exact terms — so the fused list is the
        // product surface. Lists: s13's BM25 top-10 per query and
        // s10's sign-sketch ANN top-5 for the probes sharing the
        // query ids (vec_id and doc_id share the id space in the
        // testdata); fusion = O49 rrfFuse (1/(60+rank) exact per-item
        // work over two already-top-k-bounded inputs — serving-sized
        // regardless of corpus). Determinism: both input ranks are
        // themselves rounded-score-ranked, the fused score is a
        // two-term IEEE sum in a fixed order, rounded once, ranked
        // on the rounded value with id tiebreak.
        val bm = bm25TopK(Tables.load(spark, dir, "documents"),
            bm25Queries.toDF("q_id", "term"))
          .select($"q_id".cast("int").as("q"), $"doc_id".as("id"), $"rn")
        val ann = all.find(_.name == "s10_sign_sketch_rerank").get
          .build(spark, dir)
          .where($"p_id".between(1, 4))
          .select($"p_id".cast("int").as("q"), $"n_id".as("id"), $"rn")
        rrfFuse(bm, ann, "q", "id", "rn", k = 5)
          .select($"q".as("q_id"), $"rn", $"id".as("doc_id"), $"rrf")
          .orderBy($"q_id", $"rn")
      },
      Some(hybridRrfOracle)
    ),

    Q(
      "s15_hybrid_stored",
      "Hybrid retrieval served from PERSISTED indexes: O51 lexical probe x O46 binary probe, RRF-fused — same oracle as s14",
      (spark, dir) => {
        import spark.implicits._
        // s14's SERVING twin, end-to-end from stored artifacts: build
        // the O51 lexical index and the O46 sign-sketch ANN index
        // (both under their versioned-epoch lifecycle), probe each —
        // the lexical probe driver-routes to its query-term buckets,
        // the binary probe runs at nprobe = k (every cell — the
        // parity regime, where the stored path provably returns the
        // exact s10 lists) — and fuse with the same output-bounded
        // rrfFuse. Bit-equal to the in-query s14 by construction
        // (shared bm25Rank tail, shared fusion), so it gates under
        // s14's oracle VERBATIM: the oracle never sees an index, only
        // the semantics both forms must share. The indexes build ONCE
        // per JVM per corpus (s15Indexes memo) exactly as they
        // amortize across a production query log — so a bench's warm
        // runs measure the SERVING path (bucket-pruned postings + one
        // popcount coarse scan), not N rebuilds, and repeated
        // invocations don't leak an index tree each.
        val tmp = s15Indexes(spark, dir)
        val emb = Tables.load(spark, dir, "embeddings")
        val bm = LexIndex.probeLexIndex(bm25Queries.toDF("q_id", "term"),
            LexIndex.readLexIndex(spark, s"$tmp/lex"))
          .select($"q_id".cast("int").as("q"), $"doc_id".as("id"), $"rn")
        val probes = emb.orderBy($"vec_id").limit(10)
        val ann = VectorIndex.probeSignIndex(probes, "vec_id", "embedding",
            VectorIndex.readAnnIndex(spark, s"$tmp/ann"),
            nprobe = 16, hammingTopM = 50, topK = 5)
          .where($"p_id".between(1, 4))
          .select($"p_id".cast("int").as("q"), $"n_id".as("id"), $"rn")
        rrfFuse(bm, ann, "q", "id", "rn", k = 5)
          .select($"q".as("q_id"), $"rn", $"id".as("doc_id"), $"rrf")
          .orderBy($"q_id", $"rn")
      },
      Some(hybridRrfOracle)
    ),

    Q(
      "s16_ann_recall",
      "Recall@5 of the IVF+PQ path vs exact cosine, per probe — the index-quality eval an ANN deployment publishes",
      (spark, dir) => {
        import spark.implicits._
        // "Measure, don't guess" applied to the ANN index itself: the
        // number that decides whether s06's operating point (nprobe,
        // M, sub) is shippable is recall@k against the exact top-k —
        // the eval every FAISS deployment publishes before serving.
        // Both legs are THE canned queries' own engines (factored
        // defs, so the eval can never drift from what s01/s06
        // actually run): per probe, n_hit = |ADC top-5 ∩ exact
        // top-5|, recall_ppm exact int64. Plan cost = one s01 + one
        // s06 + a probes×k join — the measurement is as scalable as
        // the things it measures; at 100 TB both legs swap for their
        // stored twins (O29 probeAnnIndex refine / the s01 sampled
        // probe discipline) unchanged, because the eval only consumes
        // (p_id, n_id) lists.
        val exact = exactCosineTopk(spark, dir).select($"p_id", $"n_id")
        val ann = ivfPqTopk(spark, dir).select($"p_id", $"n_id")
          .withColumn("hit", lit(1L))
        exact.join(ann, Seq("p_id", "n_id"), "left")
          .groupBy($"p_id")
          .agg(sum(coalesce($"hit", lit(0L))).as("n_hit"))
          .withColumn("recall_ppm", expr("n_hit * 1000000 div 5"))
          .select($"p_id", $"n_hit", $"recall_ppm")
          .orderBy($"p_id")
      },
      Some {
        val cos = VectorFunctions.sqlCosine("pe", "e.embedding")
        s"""WITH $ivfPqOracleCtes,
        annk AS (SELECT p_id, n_id,
            ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY adc_q ASC, n_id) AS rn
          FROM adc QUALIFY rn <= 5),
        exactk AS (SELECT p_id, e.vec_id AS n_id,
            ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY $cos DESC, e.vec_id) AS rn
          FROM p, embeddings e WHERE e.vec_id <> p_id QUALIFY rn <= 5)
        SELECT exactk.p_id,
          CAST(COUNT(annk.n_id) AS BIGINT) AS n_hit,
          CAST(COUNT(annk.n_id) * 1000000 // 5 AS BIGINT) AS recall_ppm
        FROM exactk LEFT JOIN annk
          ON annk.p_id = exactk.p_id AND annk.n_id = exactk.n_id
        GROUP BY exactk.p_id ORDER BY exactk.p_id"""
      }
    )
  )

  /** s15's per-JVM index memo: one (lex, ann) build per corpus dir —
    * the amortization a production serving stack gets from its query
    * log, made explicit so repeated invocations (bench warm runs,
    * spec calls) measure probes and don't each leak an index tree.
    * BENCH-WARM SEMANTICS, stated plainly: the memo is keyed by the
    * corpus DIRECTORY, so a caller invoking s15 twice in one JVM gets
    * the FIRST call's on-disk indexes even if the directory's parquet
    * contents changed in between — restart the JVM (or key on a
    * content version) to re-index a mutated corpus.
    * Synchronized: Verify/Bench drive queries sequentially, but the
    * memo must stay correct under any caller. The trees live as long
    * as the JVM: one shutdown hook, registered when the memo first
    * fills, deletes every memoized tree at exit.
    */
  private val s15Memo = scala.collection.mutable.HashMap.empty[String, String]
  private def s15Indexes(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    s15Memo.synchronized {
      s15Memo.getOrElse(dir, {
        val tmp = java.nio.file.Files.createTempDirectory("graft-s15").toString
        LexIndex.writeLexIndex(Tables.load(spark, dir, "documents"), s"$tmp/lex")
        VectorIndex.writeAnnIndex(Tables.load(spark, dir, "embeddings"),
          "vec_id", "embedding", s"$tmp/ann",
          k = 16, m = 4, kSub = 8, storeSigs = true)
        if (s15Memo.isEmpty) sys.addShutdownHook(s15Memo.synchronized {
          s15Memo.values.foreach(t =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t)))
        })
        s15Memo(dir) = tmp
        tmp
      })
    }

  /** The hybrid-retrieval oracle shared VERBATIM by s14 (in-query
    * recompute) and s15 (stored-index serving): BM25 via the shared
    * [[bm25OracleCtes]], the sign-sketch ANN leg, RRF fusion — the
    * semantics both engine forms must reproduce bit-for-bit.
    */
  private def hybridRrfOracle: String = {
        val cos = VectorFunctions.sqlCosine("p.pe", "ne.embedding")
        val pack = "list_aggregate(list_transform(generate_series(1, 60), " +
          "i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END), 'sum')"
        s"""WITH $bm25OracleCtes,
        bmr AS (SELECT q_id AS q, doc_id AS id,
            CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY ROUND(score_u, 6) DESC, doc_id) AS INT) AS rn
          FROM scored QUALIFY rn <= 10),
        sigd AS (SELECT vec_id, $pack AS sig FROM embeddings),
        p AS (SELECT e.vec_id AS p_id, e.embedding AS pe, s.sig AS psig
          FROM embeddings e JOIN sigd s ON s.vec_id = e.vec_id
          ORDER BY e.vec_id LIMIT 10),
        cand AS (SELECT p.p_id, s.vec_id AS n_id,
            ROW_NUMBER() OVER (PARTITION BY p.p_id
              ORDER BY bit_count(xor(p.psig, s.sig)), s.vec_id) AS hrn
          FROM p, sigd s WHERE s.vec_id <> p.p_id
          QUALIFY hrn <= 50),
        annr AS (SELECT c.p_id AS q, c.n_id AS id,
            CAST(ROW_NUMBER() OVER (PARTITION BY c.p_id
              ORDER BY $cos DESC, c.n_id) AS INT) AS rn
          FROM cand c
          JOIN p ON p.p_id = c.p_id
          JOIN embeddings ne ON ne.vec_id = c.n_id
          QUALIFY rn <= 5),
        annf AS (SELECT q, id, rn FROM annr WHERE q BETWEEN 1 AND 4),
        fused AS (SELECT COALESCE(b.q, a.q) AS q, COALESCE(b.id, a.id) AS id,
            ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + b.rn), 0) +
                  COALESCE(CAST(1 AS DOUBLE) / (60 + a.rn), 0), 6) AS rrf
          FROM bmr b FULL OUTER JOIN annf a ON a.q = b.q AND a.id = b.id)
        SELECT q AS q_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY q ORDER BY rrf DESC, id) AS INT) AS rn,
          id AS doc_id, rrf
        FROM fused QUALIFY rn <= 5 ORDER BY q_id, rn"""
  }
}
