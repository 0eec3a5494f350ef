package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.tables.Tables

/** Embedding-storage operators (SURVEY.md §2.3): symmetric int8
  * quantization for compact embedding storage — per-vector max-abs
  * scale, q_i = floor(x_i * 127 / scale + 0.5).
  *
  * Cross-engine exactness notes: scale (max of |x|) and the quantized
  * SUM are order-independent, so partial aggregation can't drift; the
  * reconstruction-error fold is an explicit LEFT fold from 0.0 (the
  * sqlDot pattern) so the double accumulation order matches DuckDB;
  * floor(x + 0.5) is used instead of round() because the engines'
  * round() tie-breaking differs for negative halves. Per-row only —
  * zero shuffle besides the oracle sort.
  */
object Embeddings {

  /** Shared e06/e07 training prefix (the s16/s01 factoring rule:
    * queries that must agree share the code): quantized explode,
    * top-8 variance dims, e04's exact-integer covariance combined in
    * DECIMAL(38,0)/HUGEINT (stays exact past int64's ~3M vector wrap;
    * the common scale factor cancels under normalization), three
    * SYNCHRONOUS power iterations from the all-ones vector. Scale
    * shape: the corpus-sized work is one explode + keyed aggs; the
    * iteration runs on a d²-row matrix frame INDEPENDENT of corpus
    * rows — why power iteration beats direct eigensolvers
    * distributed. No collect: iterations stay declarative joins on
    * tiny checkpointed frames, one broadcast each. `ch` (the top-8
    * dim slice) is lazily checkpointed — both consumers reuse it.
    */
  private final case class Pc1Training(
      ch: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame,
      nrm: org.apache.spark.sql.DataFrame)

  private def pc1Training(
      spark: org.apache.spark.sql.SparkSession, dir: String): Pc1Training = {
    import spark.implicits._
    val ex = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", posexplode($"embedding").as(Seq("dim", "x")))
      .select($"vec_id", $"dim".cast("int").as("dim"),
        floor($"x".cast("double") * 1000).cast("long").as("q"))
    val st = ex.groupBy($"dim")
      .agg(sum($"q").as("s"), sum($"q" * $"q").as("ss"), count(lit(1)).as("n"))
    val top = st.orderBy(($"ss" * $"n" - $"s" * $"s").desc, $"dim".asc).limit(8)
    val ch = ex.join(broadcast(top.select($"dim")), "dim")
      .graftCheckpointLazy // reused: covariance AND e07's scoring
    val pr = ch.select($"vec_id", $"dim".as("dim_i"), $"q".as("_qa"))
      .join(ch.select($"vec_id", $"dim".as("dim_j"), $"q".as("_qb")), "vec_id")
      .where($"dim_i" <= $"dim_j")
      .groupBy($"dim_i", $"dim_j")
      .agg(sum($"_qa" * $"_qb").as("sp"))
    val covTri = pr
      .join(broadcast(top.select($"dim".as("dim_i"), $"s".as("_si"), $"n".as("_n"))), "dim_i")
      .join(broadcast(top.select($"dim".as("dim_j"), $"s".as("_sj"))), "dim_j")
      .select($"dim_i", $"dim_j",
        ($"sp".cast("decimal(38,0)") * $"_n" -
          $"_si".cast("decimal(38,0)") * $"_sj").cast("double").as("cv"))
    val cov = covTri.select($"dim_i".as("i"), $"dim_j".as("j"), $"cv")
      .unionAll(covTri.where($"dim_i" =!= $"dim_j")
        .select($"dim_j".as("i"), $"dim_i".as("j"), $"cv"))
      .graftCheckpointLazy // 64 rows; cut the e04 lineage off the loop
    var v = top.select($"dim".as("j"), lit(1.0).as("x"))
    for (_ <- 1 to 3) {
      v = cov.join(v, "j")
        .groupBy($"i").agg(sum($"cv" * $"x").as("x"))
        .select($"i".as("j"), $"x")
        .graftCheckpointLazy
    }
    val nrm = v.agg(sqrt(sum($"x" * $"x")).as("nn"))
    Pc1Training(ch, v, nrm)
  }

  val all: Seq[Q] = Seq(
    Q(
      "e01_embed_quantize",
      "Symmetric int8 quantization: per-vector scale, checksum, reconstruction MSE",
      (spark, dir) => {
        import spark.implicits._
        Tables.load(spark, dir, "embeddings")
          .withColumn("scale",
            expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
          .where($"scale" > 0)
          .withColumn("q_sum",
            expr("aggregate(embedding, CAST(0 AS BIGINT), " +
              "(a, x) -> a + CAST(floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) AS BIGINT))"))
          .withColumn("mse",
            expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + " +
              "(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) * scale / 127) * " +
              "(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) * scale / 127)) / 64"))
          .select($"vec_id", round($"scale", 6).as("scale"),
            $"q_sum", round($"mse", 9).as("mse"))
          .orderBy($"vec_id")
      },
      Some("""WITH s AS (SELECT vec_id, embedding,
          list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
          FROM embeddings),
        q AS (SELECT vec_id, scale,
          CAST(list_aggregate(list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS q_sum,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding,
            x -> (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) * scale / 127) *
                 (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127 / scale + 0.5) * scale / 127))),
            (acc, v) -> acc + v) / 64 AS mse
          FROM s WHERE scale > 0)
        SELECT vec_id, ROUND(scale, 6) AS scale, q_sum, ROUND(mse, 9) AS mse
        FROM q ORDER BY vec_id""")
    ),

    Q(
      "e02_rand_projection",
      "Johnson-Lindenstrauss ±1 projection 64→16 dims with norm-preservation ratio",
      (spark, dir) => {
        import spark.implicits._
        // JL sketch: 16 deterministic ±1 planes (graft.functions.Lsh,
        // the same family s02/d05 bucket with) project each embedding
        // to 16 dims. E[p_i^2] = ||x||^2 for ±1 entries, so
        // ratio = (Σ p_i^2 / 16) / ||x||^2 concentrates around 1 — the
        // distance-preservation guarantee ANN-after-projection relies
        // on. Per-row only (zero shuffle beside the oracle sort); the
        // projected width is the scale knob: k = O(log n / ε²)
        // regardless of the source dimension, so the reduced corpus is
        // what a 100 TB ANN index stores. Each projection is the
        // explicit left fold from 0.0 (bit-identical in DuckDB); the
        // p² sum is a fixed-order chain of 16 additions on both sides.
        val planes = graft.functions.Lsh.planes(16)
        val projCols = planes.zipWithIndex.map { case (w, i) =>
          graft.functions.Lsh.proj("embedding", w).as(s"p$i")
        }
        val nsq = expr(
          "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
        val projSq = (0 until 16).map(i => col(s"p$i") * col(s"p$i")).reduce(_ + _)
        Tables.load(spark, dir, "embeddings")
          .select(($"vec_id" +: nsq.as("nsq") +: projCols): _*)
          .where($"nsq" > 0)
          .select($"vec_id",
            round($"p0", 6).as("p0"),
            round($"p15", 6).as("p15"),
            round((projSq / 16.0d) / $"nsq", 6).as("norm_ratio"))
          .orderBy($"vec_id")
      },
      Some {
        val planes = graft.functions.Lsh.planes(16)
        val projDefs = planes.zipWithIndex.map { case (w, i) =>
          s"${graft.functions.Lsh.sqlProj("embedding", w)} AS p$i"
        }.mkString(",\n            ")
        val projSq = (0 until 16).map(i => s"p$i * p$i").mkString(" + ")
        s"""WITH pr AS (SELECT vec_id,
            list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, v) -> a + v) AS nsq,
            $projDefs
          FROM embeddings)
        SELECT vec_id, ROUND(p0, 6) AS p0, ROUND(p15, 6) AS p15,
          ROUND(($projSq) / 16.0 / nsq, 6) AS norm_ratio
        FROM pr WHERE nsq > 0 ORDER BY vec_id"""
      }
    ),

    Q(
      "e03_norm_outliers",
      "Embedding data-quality check: per-label squared-norm outliers (exact integer norms)",
      (spark, dir) => {
        import spark.implicits._
        // Broken embeddings (truncated, zeroed, double-scaled) show up
        // as norm outliers within their label. Norms are EXACT: each
        // vector quantizes to micro-scaled BIGINTs once and the
        // squared norm is an integer fold, so the per-label mean is an
        // exact integer sum with one double division (the s05
        // machinery) — partial-agg order can't drift and DuckDB
        // reproduces every value. The outlier flag compares UNROUNDED
        // values (the d07 lesson): |norm2q - mean| > 0.5 * mean. One
        // keyed agg + a broadcast join back; per-row otherwise.
        val nq = Tables.load(spark, dir, "embeddings")
          .select($"vec_id", $"label",
            expr("aggregate(transform(embedding, " +
              "v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)), " +
              "CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").as("norm2q"))
        val stats = nq.groupBy($"label")
          .agg(count(lit(1)).as("n"), sum($"norm2q").as("s"))
          .withColumn("label_mean", $"s".cast("double") / $"n")
        // label_mean is emitted UNROUNDED: at 1e12 magnitude a
        // 6-decimal round exceeds double resolution, and DuckDB's
        // ROUND (scale-multiply at 1e18 — past 2^53) lands one ulp
        // off Spark's exact BigDecimal round when a mean hits an
        // integer; the raw division of the identical exact integer
        // sum is IEEE-deterministic on both engines.
        nq.join(broadcast(stats.select($"label", $"label_mean")), "label")
          .select($"vec_id", $"label", $"norm2q",
            $"label_mean",
            round(abs($"norm2q".cast("double") - $"label_mean") / $"label_mean", 6)
              .as("rel_dev"),
            (abs($"norm2q".cast("double") - $"label_mean") > $"label_mean" * 0.5)
              .as("is_outlier"))
          .orderBy($"vec_id")
      },
      Some("""WITH nq AS (SELECT vec_id, label,
          CAST(list_aggregate(list_transform(
            list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)),
            x -> x * x), 'sum') AS BIGINT) AS norm2q
          FROM embeddings),
        stats AS (SELECT label, CAST(SUM(norm2q) AS DOUBLE) / COUNT(*) AS label_mean
          FROM nq GROUP BY label)
        SELECT n.vec_id, n.label, n.norm2q,
          s.label_mean AS label_mean,
          ROUND(abs(CAST(n.norm2q AS DOUBLE) - s.label_mean) / s.label_mean, 6) AS rel_dev,
          abs(CAST(n.norm2q AS DOUBLE) - s.label_mean) > s.label_mean * 0.5 AS is_outlier
        FROM nq n JOIN stats s ON s.label = n.label
        ORDER BY n.vec_id""")
    ),

    Q(
      "e04_dim_covariance",
      "PCA prep: exact-integer covariance over the top-8 highest-variance embedding dims",
      (spark, dir) => {
        import spark.implicits._
        // The first step of a distributed PCA / whitening pass:
        // the dim-by-dim covariance block over the dims that matter.
        // Values quantize once to milli-scaled BIGINTs so every sum
        // (s_i, ss_i, sum of cross products) is an EXACT integer —
        // partial-agg order can't drift. The corpus-side Long sums are
        // safe far past any real corpus (|q| <= ~1000, so s, ss, sp
        // stay under 2^63 to ~1e12 vectors), but the FINAL combination
        // n*sp_ij - s_i*s_j squares n and would silently wrap int64
        // past ~3M vectors — so it runs in DECIMAL(38,0) (Spark) /
        // HUGEINT (DuckDB): exact to 1e38, i.e. ~1e16 vectors. The
        // cov_num OUTPUT column keeps the int64 contract; if the wide
        // value ever exceeds int64 both engines now raise (Spark
        // raise_error, DuckDB overflow on HUGEINT->BIGINT cast)
        // instead of diverging silently. Shuffle shape:
        // one explode (d rows/vector, map-local) + a d-key agg for
        // the variance ranking, then the cross-product pass self-joins
        // the k-dim slice per vec_id — ONE vec_id shuffle with a k^2/2
        // fanout bounded by k=8, and the 8-row dim list + 64-row stats
        // frames broadcast. At 100 TB everything stays keyed: no
        // d^2-per-row explode (64^2 rows/vec) — only k^2 for chosen k.
        val ex = Tables.load(spark, dir, "embeddings")
          .select($"vec_id", posexplode($"embedding").as(Seq("dim", "x")))
          .select($"vec_id", $"dim".cast("int").as("dim"),
            floor($"x".cast("double") * 1000).cast("long").as("q"))
        val st = ex.groupBy($"dim")
          .agg(sum($"q").as("s"), sum($"q" * $"q").as("ss"), count(lit(1)).as("n"))
        // top-8 by integer variance numerator ss*n - s^2, dim asc ties
        // (wide decimal: ss*n also squares n — same wrap hazard)
        val top = st.orderBy(
          ($"ss".cast("decimal(38,0)") * $"n" -
            $"s".cast("decimal(38,0)") * $"s").desc, $"dim".asc).limit(8)
        val ch = ex.join(broadcast(top.select($"dim")), "dim")
        val pr = ch.select($"vec_id", $"dim".as("dim_i"), $"q".as("_qa"))
          .join(ch.select($"vec_id", $"dim".as("dim_j"), $"q".as("_qb")), "vec_id")
          .where($"dim_i" <= $"dim_j")
          .groupBy($"dim_i", $"dim_j")
          .agg(sum($"_qa" * $"_qb").as("sp"))
        pr
          .join(broadcast(top.select($"dim".as("dim_i"), $"s".as("_si"), $"n".as("_n"))), "dim_i")
          .join(broadcast(top.select($"dim".as("dim_j"), $"s".as("_sj"))), "dim_j")
          .select($"dim_i", $"dim_j", $"_n",
            ($"sp".cast("decimal(38,0)") * $"_n" -
              $"_si".cast("decimal(38,0)") * $"_sj").as("_cnw"))
          .select($"dim_i", $"dim_j",
            when($"_cnw".between(Long.MinValue, Long.MaxValue), $"_cnw".cast("long"))
              .otherwise(raise_error(concat(
                lit("e04 cov_num overflows int64: "), $"_cnw".cast("string"))))
              .as("cov_num"),
            round($"_cnw".cast("double") /
              ($"_n".cast("double") * $"_n" * 1000000), 9).as("cov"))
          .orderBy($"dim_i", $"dim_j")
      },
      Some("""WITH ex AS (
          SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
            CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
          FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
        st AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS s, CAST(SUM(q * q) AS BIGINT) AS ss,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM ex GROUP BY dim),
        top AS (SELECT dim, s, n FROM st
          ORDER BY CAST(ss AS HUGEINT) * n - CAST(s AS HUGEINT) * s DESC, dim ASC LIMIT 8),
        ch AS (SELECT ex.* FROM ex JOIN top ON top.dim = ex.dim),
        pr AS (SELECT a.dim AS dim_i, b.dim AS dim_j, CAST(SUM(a.q * b.q) AS BIGINT) AS sp
          FROM ch a JOIN ch b ON a.vec_id = b.vec_id AND a.dim <= b.dim
          GROUP BY 1, 2)
        SELECT p.dim_i, p.dim_j,
          CAST(CAST(p.sp AS HUGEINT) * ti.n - CAST(ti.s AS HUGEINT) * tj.s AS BIGINT) AS cov_num,
          ROUND(CAST(CAST(p.sp AS HUGEINT) * ti.n - CAST(ti.s AS HUGEINT) * tj.s AS DOUBLE) /
            (CAST(ti.n AS DOUBLE) * ti.n * 1000000), 9) AS cov
        FROM pr p JOIN top ti ON ti.dim = p.dim_i JOIN top tj ON tj.dim = p.dim_j
        ORDER BY dim_i, dim_j""")
    ),

    Q(
      "e05_classifier_score",
      "Linear quality-classifier inference: fold dot product with literal weights, exact keep flag",
      (spark, dir) => {
        import spark.implicits._
        // The model-scoring step of a curation pipeline (fastText /
        // linear-probe quality classifiers run exactly this at corpus
        // scale): score = w . x + b with a FIXED weight vector,
        // keep = score > threshold. Pure per-row codegen'd map work —
        // zero shuffle before the output sort, which is how inference
        // must look at 100 TB (the weights broadcast as literals in
        // the plan itself). Weights are sixteenths (exact binary
        // fractions) and the dot product is the sqlDot ordered left
        // fold, so both engines run the identical IEEE sequence; the
        // keep flag compares the UNROUNDED score (d07 lesson).
        val wLit = weights.map(_.toString).mkString(", ")
        Tables.load(spark, dir, "embeddings")
          .withColumn("_score",
            expr(s"aggregate(zip_with(embedding, array($wLit), " +
              "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0 AS DOUBLE), " +
              "(acc, v) -> acc + v) + 0.125"))
          .select($"vec_id", $"label",
            round($"_score", 6).as("score"),
            ($"_score" > 0.5).as("keep"))
          .orderBy($"vec_id")
      },
      Some {
        val wList = weights.map(_.toString).mkString(", ")
        s"""WITH sc AS (SELECT vec_id, label,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, 64),
              i -> CAST(embedding[i] AS DOUBLE) * ([$wList])[i])),
            (acc, v) -> acc + v) + 0.125 AS s
          FROM embeddings)
        SELECT vec_id, label, ROUND(s, 6) AS score, s > 0.5 AS keep
        FROM sc ORDER BY vec_id"""
      }
    ),

    Q(
      "e06_power_iteration",
      "Dominant covariance eigenvector via 3 fixed power iterations on e04's exact-integer matrix",
      (spark, dir) => {
        import spark.implicits._
        // The step after e04 in a distributed PCA: the leading
        // principal direction (training shared with e07 via
        // [[pc1Training]] — round 16 factored the prefix the way s16
        // factored s01/s06, so the two queries cannot drift). Only
        // the final loadings round — ≤8-term double sums per mat-vec
        // leave ~1e-14 relative noise against a 1e-6 rounding grid.
        val t = pc1Training(spark, dir)
        t.v.crossJoin(broadcast(t.nrm)) // 8 x 1: bounded
          .select($"j".as("dim"), round($"x" / $"nn", 6).as("loading"))
          .orderBy($"dim")
      },
      Some("""WITH ex AS (
          SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
            CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
          FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
        st AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS s, CAST(SUM(q * q) AS BIGINT) AS ss,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM ex GROUP BY dim),
        top AS (SELECT dim, s, n FROM st
          ORDER BY CAST(ss AS HUGEINT) * n - CAST(s AS HUGEINT) * s DESC, dim ASC LIMIT 8),
        ch AS (SELECT ex.* FROM ex JOIN top ON top.dim = ex.dim),
        pr AS (SELECT a.dim AS dim_i, b.dim AS dim_j, CAST(SUM(a.q * b.q) AS BIGINT) AS sp
          FROM ch a JOIN ch b ON a.vec_id = b.vec_id AND a.dim <= b.dim
          GROUP BY 1, 2),
        covtri AS (SELECT p.dim_i, p.dim_j,
            CAST(CAST(p.sp AS HUGEINT) * ti.n - CAST(ti.s AS HUGEINT) * tj.s AS DOUBLE) AS cv
          FROM pr p JOIN top ti ON ti.dim = p.dim_i JOIN top tj ON tj.dim = p.dim_j),
        cov AS (SELECT dim_i AS i, dim_j AS j, cv FROM covtri
          UNION ALL SELECT dim_j, dim_i, cv FROM covtri WHERE dim_i <> dim_j),
        v0 AS (SELECT dim AS j, CAST(1.0 AS DOUBLE) AS x FROM top),
        v1 AS (SELECT cov.i AS j, SUM(cov.cv * v0.x) AS x FROM cov JOIN v0 USING (j) GROUP BY cov.i),
        v2 AS (SELECT cov.i AS j, SUM(cov.cv * v1.x) AS x FROM cov JOIN v1 USING (j) GROUP BY cov.i),
        v3 AS (SELECT cov.i AS j, SUM(cov.cv * v2.x) AS x FROM cov JOIN v2 USING (j) GROUP BY cov.i),
        nrm AS (SELECT SQRT(SUM(x * x)) AS nn FROM v3)
        SELECT v3.j AS dim, ROUND(v3.x / nrm.nn, 6) AS loading
        FROM v3, nrm ORDER BY dim""")
    ),

    Q(
      "e07_pc1_scores",
      "Project every embedding onto the e06 eigenvector: per-vector PC1 score",
      (spark, dir) => {
        import spark.implicits._
        // The APPLICATION of e06: principal-component scores per
        // vector — the column a curation pipeline actually sorts,
        // buckets, or outlier-flags on. Training comes from the SAME
        // [[pc1Training]] prefix as e06 (shared since round 16 — the
        // two cannot drift); the scoring side is ONE broadcast join
        // of the 8-row UNROUNDED eigenvector against the top-8 dim
        // slice and a vec_id-keyed sum — the corpus-linear inference
        // shape (e05's class), zero extra corpus passes. Scores round
        // at 1e-6 against ~1e-12 ulps from the 8-term double sums.
        val t = pc1Training(spark, dir)
        val vn = t.v.crossJoin(broadcast(t.nrm)) // 8 x 1: bounded
          .select($"j".as("dim"), ($"x" / $"nn").as("_w"))
        t.ch.join(broadcast(vn), "dim")
          .groupBy($"vec_id")
          .agg(round(sum($"q" * $"_w"), 6).as("pc1"))
          .orderBy($"vec_id")
      },
      Some("""WITH ex AS (
          SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
            CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
          FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
        st AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS s, CAST(SUM(q * q) AS BIGINT) AS ss,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM ex GROUP BY dim),
        top AS (SELECT dim, s, n FROM st
          ORDER BY CAST(ss AS HUGEINT) * n - CAST(s AS HUGEINT) * s DESC, dim ASC LIMIT 8),
        ch AS (SELECT ex.* FROM ex JOIN top ON top.dim = ex.dim),
        pr AS (SELECT a.dim AS dim_i, b.dim AS dim_j, CAST(SUM(a.q * b.q) AS BIGINT) AS sp
          FROM ch a JOIN ch b ON a.vec_id = b.vec_id AND a.dim <= b.dim
          GROUP BY 1, 2),
        covtri AS (SELECT p.dim_i, p.dim_j,
            CAST(CAST(p.sp AS HUGEINT) * ti.n - CAST(ti.s AS HUGEINT) * tj.s AS DOUBLE) AS cv
          FROM pr p JOIN top ti ON ti.dim = p.dim_i JOIN top tj ON tj.dim = p.dim_j),
        cov AS (SELECT dim_i AS i, dim_j AS j, cv FROM covtri
          UNION ALL SELECT dim_j, dim_i, cv FROM covtri WHERE dim_i <> dim_j),
        v0 AS (SELECT dim AS j, CAST(1.0 AS DOUBLE) AS x FROM top),
        v1 AS (SELECT cov.i AS j, SUM(cov.cv * v0.x) AS x FROM cov JOIN v0 USING (j) GROUP BY cov.i),
        v2 AS (SELECT cov.i AS j, SUM(cov.cv * v1.x) AS x FROM cov JOIN v1 USING (j) GROUP BY cov.i),
        v3 AS (SELECT cov.i AS j, SUM(cov.cv * v2.x) AS x FROM cov JOIN v2 USING (j) GROUP BY cov.i),
        nrm AS (SELECT SQRT(SUM(x * x)) AS nn FROM v3),
        vn AS (SELECT v3.j AS dim, v3.x / nrm.nn AS w FROM v3, nrm)
        SELECT ch.vec_id, ROUND(SUM(ch.q * vn.w), 6) AS pc1
        FROM ch JOIN vn USING (dim)
        GROUP BY ch.vec_id ORDER BY ch.vec_id""")
    ),

    Q(
      "e08_cluster_sample",
      "Cluster-balanced sampling: trained k-means cells, deterministic per-cell top-4 by portable hash",
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        // The cluster-then-sample curation step (SemDeDup / DSIR
        // style): a uniform corpus sample over-represents the dense
        // topic clusters, so balance the sample ACROSS clusters —
        // k-means cells from O22 (the trained quantizer s05 gated),
        // then a fixed quota per cell, ranked by a portable hash of
        // the id (a deterministic stand-in for "uniform within
        // cluster" that both engines compute identically). The rank
        // filter plans as WindowGroupLimit in Spark 4: every partition
        // keeps only its local top-4 per cell BEFORE the shuffle, so
        // the window state at 100 TB is 4·k rows per task, not a full
        // per-cell sort. At extreme scale the rank-free variant —
        // keep h < quota-tuned threshold per cell — drops the window
        // entirely (t08's hash-rate shape); the quota form here is the
        // one whose output size is exact, which is what the oracle
        // pins.
        Clustering.clusterSample(Tables.load(spark, dir, "embeddings"),
            "vec_id", "embedding", k = 8, iters = 2, dim = 64, perCell = 4)
          .orderBy($"cell", $"rn")
      },
      Some(s"""${Similarity.kmeansFinCtes},
        h AS (SELECT n_id, cell, dq,
          ${graft.functions.PortableHash.sqlHash60("CAST(n_id AS VARCHAR)")} AS hh
          FROM fin)
        SELECT cell, CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY hh, n_id) AS INT) AS rn,
          n_id AS vec_id, dq
        FROM h QUALIFY rn <= 4 ORDER BY cell, rn""")
    ),

    Q(
      "e09_truncation_quality",
      "Matryoshka-style dimension truncation audit: top-5 overlap vs the full vectors, per prefix width",
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        // The storage/latency question every embedding index answers
        // before choosing a width: "how much retrieval quality do the
        // first w dims keep?" (MRL-trained models make prefixes
        // usable; this measures whether THESE vectors do). For each
        // probe: exact cosine top-5 on the full 64 dims = truth;
        // top-5 on the first w dims for w in {8, 16, 32}; report the
        // mean overlap@5 per width. Prefix cosine = the SAME fused
        // one-pass expression over slice(vec, 1, w), so each width is
        // one more projection over the one probes×corpus join — NOT
        // three more joins; ties broken by (cosine desc, n_id) on
        // both engines. At 100 TB: probes broadcast (bounded panel),
        // the corpus streams once, widths are a 3× projection factor
        // on the joined stream — the audit costs one s01, not four.
        val e = Tables.load(spark, dir, "embeddings")
        val probes = e.orderBy($"vec_id").limit(10)
          .select($"vec_id".as("p_id"), $"embedding".as("pe"))
        val cand = e.select($"vec_id".as("n_id"), $"embedding".as("ne"))
        val joined = cand.join(broadcast(probes), $"n_id" =!= $"p_id")
        def topk(df: org.apache.spark.sql.DataFrame, extra: Seq[Column]) = {
          val w = Window.partitionBy(($"p_id" +: extra): _*)
            .orderBy($"c".desc, $"n_id")
          df.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
        }
        val full = topk(
            joined.withColumn("c", VectorFunctions.cosine("pe", "ne")), Nil)
          .select($"p_id", $"n_id")
        val widths = explode(array(lit(8), lit(16), lit(32))).as("width")
        val trunc = topk(
            joined.select($"p_id", $"n_id", $"pe", $"ne", widths)
              .withColumn("c", graft.functions.GraftExpressions.cosineSim(
                slice($"pe", lit(1), $"width"), slice($"ne", lit(1), $"width"))),
            Seq($"width"))
          .select($"width", $"p_id", $"n_id")
        trunc
          .join(full.withColumn("hit", lit(1L)), Seq("p_id", "n_id"), "left")
          .groupBy($"width", $"p_id")
          .agg((sum(coalesce($"hit", lit(0L))) / lit(5.0)).as("ov"))
          .groupBy($"width")
          .agg(round(avg($"ov"), 6).as("overlap_at_5"))
          .select($"width".cast("long").as("width"), $"overlap_at_5")
          .orderBy($"width")
      },
      Some {
        val cosW = VectorFunctions.sqlCosine("pe", "e.embedding", dim = 64)
          .replace("generate_series(1, 64)", "generate_series(1, w.width)")
        s"""WITH p AS (SELECT vec_id AS p_id, embedding AS pe
          FROM embeddings ORDER BY vec_id LIMIT 10),
        fullk AS (SELECT p_id, e.vec_id AS n_id
          FROM p, embeddings e WHERE e.vec_id <> p_id
          QUALIFY ROW_NUMBER() OVER (PARTITION BY p_id
            ORDER BY ${VectorFunctions.sqlCosine("pe", "e.embedding")} DESC, e.vec_id) <= 5),
        w AS (SELECT * FROM (VALUES (8), (16), (32)) AS t(width)),
        trunck AS (SELECT w.width, p_id, e.vec_id AS n_id
          FROM w, p, embeddings e WHERE e.vec_id <> p_id
          QUALIFY ROW_NUMBER() OVER (PARTITION BY w.width, p_id
            ORDER BY $cosW DESC, e.vec_id) <= 5),
        perprobe AS (SELECT t.width, t.p_id,
          SUM(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0 AS ov
          FROM trunck t LEFT JOIN fullk f ON f.p_id = t.p_id AND f.n_id = t.n_id
          GROUP BY 1, 2)
        SELECT CAST(width AS BIGINT) AS width,
          ROUND(AVG(ov), 6) AS overlap_at_5
        FROM perprobe GROUP BY 1 ORDER BY width"""
      }
    ),

    Q(
      "e11_knn_label_eval",
      "k-NN label-coherence eval: majority label of the 5 nearest neighbors vs the doc's own label, per probe",
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        // The embedding-quality measurement a curation pipeline runs
        // before trusting an embedding column for dedup/clustering/
        // retrieval: if a vector's nearest neighbors don't share its
        // label, distance in this space doesn't encode the structure
        // downstream operators assume. The eval only needs a
        // statistically FIXED sample, so probes are a deterministic
        // hash-ranked top-50 (the t20/O11 sampling discipline:
        // hash60(vec_id) orders the corpus engine-neutrally, limit
        // takes a fixed count) — a TakeOrderedAndProject, never a
        // full sort, and the broadcast side is 50 rows at ANY corpus
        // size, unlike a modulo slice that grows with the corpus.
        // Neighbors = exact cosine top-5 over the full corpus (probes
        // broadcast, corpus scanned once — s01's bounded shape; at
        // 100 TB swap the brute-force leg for probeAnnIndex, the
        // measurement is the same); prediction = majority vote with
        // the deterministic (votes desc, label asc) tiebreak, so both
        // engines rank ties identically.
        val e = Tables.load(spark, dir, "embeddings")
        val probes = e11Probes(e)
        val cand = e.select($"vec_id".as("n_id"), $"embedding".as("ne"), $"label".as("n_label"))
        val wP = Window.partitionBy($"p_id").orderBy($"cosine".desc, $"n_id")
        val wV = Window.partitionBy($"p_id").orderBy($"v".desc, $"n_label")
        cand.join(broadcast(probes), $"n_id" =!= $"p_id")
          .withColumn("cosine", VectorFunctions.cosine("pe", "ne"))
          .withColumn("rn", row_number().over(wP))
          .filter($"rn" <= 5)
          .groupBy($"p_id", $"true_label", $"n_label")
          .agg(count(lit(1)).as("v"))
          .withColumn("vr", row_number().over(wV))
          .filter($"vr" === 1)
          .select($"p_id", $"true_label", $"n_label".as("pred_label"),
            $"v".cast("int").as("n_votes"),
            when($"n_label" === $"true_label", 1).otherwise(0).cast("int").as("correct"))
          .orderBy($"p_id")
      },
      Some {
        val cos = VectorFunctions.sqlCosine("p.pe", "e.embedding")
        s"""WITH p AS (SELECT vec_id AS p_id, embedding AS pe, label AS true_label
          FROM embeddings
          ORDER BY ${graft.functions.PortableHash.sqlHash60("CAST(vec_id AS VARCHAR)")}, vec_id
          LIMIT 50),
        top AS (SELECT p_id, true_label, e.label AS n_label,
            ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY $cos DESC, e.vec_id) AS rn
          FROM p, embeddings e WHERE e.vec_id <> p_id
          QUALIFY rn <= 5),
        v AS (SELECT p_id, true_label, n_label, CAST(COUNT(*) AS BIGINT) AS v
          FROM top GROUP BY 1, 2, 3)
        SELECT p_id, true_label, n_label AS pred_label, CAST(v AS INT) AS n_votes,
          CAST(CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS INT) AS correct
        FROM v
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY v DESC, n_label) = 1
        ORDER BY p_id"""
      }
    ),

    Q(
      "e10_train_classifier",
      "TRAIN the curation classifier (3-iter batch perceptron, exact int64), score every doc with the learned weights",
      (spark, dir) => {
        import spark.implicits._
        // e05 scores with a FROZEN linear model; this is the training
        // step that produces one (the fastText-style curation
        // classifier). Parallel batch perceptron — per iteration:
        // score all docs under the current weights, then one batch
        // update w += Σ_misclassified y·xq — because the SEQUENTIAL
        // perceptron is a driver-side fold by construction, while the
        // batch form is two keyed corpus passes per iteration (a
        // zip_with fold + a pos-keyed sum), map-side combinable, with
        // driver state bounded at dim+1 int64 weights. Determinism:
        // features are integer-quantized (round(x·1000)), weights and
        // scores stay exact int64 end-to-end, and integer sums are
        // order-independent — no fp anywhere, so the 3-iteration
        // trajectory is engine-replayable exactly (the g01
        // exact-integer-iteration discipline). Target: y = ±1 by
        // label parity (stand-in for any quality signal). Inference
        // at the end is e05's own plan shape: weights inlined as
        // literals, pure per-row codegen, zero shuffle before the
        // output sort.
        val emb = Tables.load(spark, dir, "embeddings")
        val w = trainPerceptron(emb)
        perceptronScore(emb, w)
          .select($"vec_id", $"label", $"y", $"score_w",
            when($"score_w" > 0, 1).otherwise(-1).cast("int").as("pred"))
          .orderBy($"vec_id")
      },
      Some {
        def iterCtes(i: Int) = {
          val p = i - 1
          s""",
        s$i AS (SELECT n_id, y, SUM(w$p.w * xq[w$p.j]) AS sc
          FROM ev, w$p GROUP BY n_id, y),
        d$i AS (SELECT j, SUM(y * xq[j]) AS dw
          FROM ev JOIN s$i USING (n_id, y), dim WHERE s$i.y * s$i.sc <= 0
          GROUP BY j),
        w$i AS (SELECT w$p.j, w$p.w + COALESCE(d$i.dw, 0) AS w
          FROM w$p LEFT JOIN d$i ON w$p.j = d$i.j)"""
        }
        s"""WITH ev AS (SELECT vec_id AS n_id, label,
          list_append(list_transform(embedding,
            v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)),
            CAST(1000 AS BIGINT)) AS xq,
          CASE WHEN label % 2 = 0 THEN CAST(1 AS BIGINT)
            ELSE CAST(-1 AS BIGINT) END AS y
          FROM embeddings),
        dim AS (SELECT unnest(generate_series(1, 65)) AS j),
        w0 AS (SELECT j, CAST(0 AS BIGINT) AS w FROM dim)
        ${iterCtes(1)}${iterCtes(2)}${iterCtes(3)}
        SELECT n_id AS vec_id, label, CAST(y AS INT) AS y,
          CAST(SUM(w3.w * xq[w3.j]) AS BIGINT) AS score_w,
          CAST(CASE WHEN SUM(w3.w * xq[w3.j]) > 0 THEN 1 ELSE -1 END AS INT) AS pred
        FROM ev, w3 GROUP BY n_id, label, y ORDER BY vec_id"""
      }
    ),

    Q(
      "e12_label_drift",
      "Per-label embedding-centroid drift from the global centroid — the slice-level distribution-shift monitor",
      (spark, dir) => {
        import spark.implicits._
        // The monitoring question a slice-aware pipeline asks of its
        // embedding space: WHICH slice's centroid sits farthest from
        // the corpus centroid (an ingestion source gone off-
        // distribution, a label whose content drifted — the signal
        // that triggers e10 retraining or a t15 mix rebalance).
        // Discipline is e04's: milli-quantize once, every sum an
        // exact int64, and the n-scaled combination n_g*s_l - n_l*s_g
        // (= n_g*n_l*(mean_l - mean_g), division-free — no negative
        // floor-division divergence between engines) runs in wide
        // DECIMAL/HUGEINT; the only fp ops are the FINAL sqrt and
        // one division on the exact integer numerator — IEEE-exact
        // and identical on both engines, then value-rounded. Shuffle
        // shape: one (label, dim) map-side-combinable agg; everything
        // after runs on the labels x dims dictionary (the t15 shape).
        // OVERFLOW HEADROOM (the t31 discipline, against decimal(38,0)
        // vs HUGEINT divergence): with unit-norm embeddings |q| <=
        // 1000, so |t| = |n_g*s_l - n_l*s_g| <= 2000*n_l*n_g and
        // sum_dims(t^2) <= 4e6 * D * n_l^2 * n_g^2 — within
        // decimal(38,0) while D * n_l^2 * n_g^2 < 2.5e31, e.g. a
        // 10M-vector corpus at D=1024 with slices up to 1M vectors
        // (1024 * 1e12 * 1e14 = 1e29). Beyond that, pre-aggregate
        // per-slice samples or drop the quantization to centi-units
        // (q/10 buys 1e4 of headroom) BEFORE trusting this monitor;
        // non-ANSI Spark would otherwise return NULL where DuckDB's
        // 128-bit HUGEINT keeps going and the engines silently
        // diverge.
        val ex = Tables.load(spark, dir, "embeddings")
          .select($"label".cast("int").as("label"),
            posexplode($"embedding").as(Seq("dim", "x")))
          .select($"label", $"dim",
            floor($"x".cast("double") * 1000).cast("long").as("q"))
        val perLD = ex.groupBy($"label", $"dim")
          .agg(sum($"q").as("s"), count(lit(1)).as("n"))
        val perD = perLD.groupBy($"dim")
          .agg(sum($"s").as("sg"), sum($"n").as("ng"))
        perLD.join(broadcast(perD), Seq("dim"))
          .withColumn("t",
            $"ng".cast("decimal(38,0)") * $"s" - $"n".cast("decimal(38,0)") * $"sg")
          .groupBy($"label")
          .agg(sum($"t" * $"t").as("_num"), max($"n").as("n_vecs"), max($"ng").as("_ng"))
          .select($"label", $"n_vecs",
            round(sqrt($"_num".cast("double")) / ($"n_vecs" * $"_ng"), 9)
              .as("drift_milli"))
          .orderBy($"label")
      },
      Some("""WITH ex AS (SELECT label, d - 1 AS dim,
            CAST(floor(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT) AS q
          FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(d)),
        pld AS (SELECT label, dim, SUM(q) AS s, COUNT(*) AS n FROM ex GROUP BY 1, 2),
        pd AS (SELECT dim, SUM(s) AS sg, SUM(n) AS ng FROM pld GROUP BY 1),
        nm AS (SELECT label,
            SUM((CAST(ng AS HUGEINT) * s - CAST(n AS HUGEINT) * sg)
              * (CAST(ng AS HUGEINT) * s - CAST(n AS HUGEINT) * sg)) AS num2,
            MAX(n) AS n_vecs, MAX(ng) AS ng2
          FROM pld JOIN pd USING (dim) GROUP BY label)
        SELECT CAST(label AS INT) AS label, CAST(n_vecs AS BIGINT) AS n_vecs,
          ROUND(sqrt(CAST(num2 AS DOUBLE)) / (n_vecs * ng2), 9) AS drift_milli
        FROM nm ORDER BY label""")
    )
  )

  /** e11's probe set: a deterministic hash-ranked top-[[E11Probes]]
    * sample of the corpus (the t20/O11 sampling discipline). ONE
    * definition shared by the query and PerceptronSpec's ANN-leg pin
    * so the two can't drift. Fixed-COUNT, not fixed-rate: the plan is
    * a TakeOrderedAndProject over hash60(vec_id), so the broadcast
    * side is exactly [[E11Probes]] rows at any corpus size.
    */
  private[operators] val E11Probes = 50
  private[operators] def e11Probes(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb
      .orderBy(graft.functions.PortableHash.hash60(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(E11Probes)
      .select(col("vec_id").as("p_id"), col("embedding").as("pe"),
        col("label").as("true_label"))

  /** Quantized feature vector for the perceptron: round(x·1000) per
    * dim plus a constant bias feature 1000 — all-int64 so every
    * downstream product and sum is exact. */
  private val perceptronXqSql: String =
    "concat(transform(embedding, " +
      "v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)), " +
      "array(CAST(1000 AS BIGINT)))"

  private def perceptronXq: Column = expr(perceptronXqSql)

  private def perceptronY: Column =
    when(col("label") % 2 === 0, 1L).otherwise(-1L)

  /** e10's training loop (see the Q scaladoc for the batch-update
    * rationale): `iters` rounds, each = one literal-weight scoring
    * pass + one pos-keyed misclassified-update aggregation. Driver
    * state per round is exactly dim+1 int64 weights (the bounded-
    * broadcast discipline — the weights ARE the model, they never
    * scale with the corpus). Returns the dim+1 weights (bias last).
    */
  /** Loud guard shared by train and score: zip_with pads a
    * shorter-than-expected vector with nulls, which would SILENTLY
    * turn every fold into null — all-zero weights out of training,
    * every doc classified -1 — instead of an error.
    */
  private def requireDim(
      emb: org.apache.spark.sql.DataFrame, dim: Int, op: String): Unit = {
    // validate EVERY row's dim in one combinable aggregate (min=max=dim),
    // not a limit(1) sample: a mixed-dim corpus would pass a sampled
    // guard and then zip_with would null-pad the folds — misclassified
    // rows silently vanishing from updates, null scores out of
    // inference — the exact silent failure this guard exists to stop.
    // Cost: one map-side-combinable min/max pass, trivial next to the
    // training/scoring passes it protects.
    emb.agg(
      min(size(col("embedding"))).as("lo"),
      max(size(col("embedding"))).as("hi")).collect().headOption
      .filter(r => !r.isNullAt(0))
      .foreach(r => require(r.getInt(0) == dim && r.getInt(1) == dim,
        s"$op: embedding dims span [${r.getInt(0)}, ${r.getInt(1)}] != expected $dim"))
  }

  def trainPerceptron(
      emb: org.apache.spark.sql.DataFrame,
      iters: Int = 3,
      dim: Int = 64): Array[Long] = {
    requireDim(emb, dim, "trainPerceptron")
    val ev = emb.select(col("vec_id"), perceptronXq.as("xq"), perceptronY.as("y"))
    var w = Array.fill(dim + 1)(0L)
    for (_ <- 1 to iters) {
      val wLit = w.mkString("array(CAST(", " AS BIGINT), CAST(", " AS BIGINT))")
      val delta = ev
        .withColumn("sc", expr(
          s"aggregate(zip_with(xq, $wLit, (x, wv) -> x * wv), CAST(0 AS BIGINT), (a, v) -> a + v)"))
        .where(col("y") * col("sc") <= 0)
        .select(col("y"), posexplode(col("xq")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(sum(col("y") * col("x")).as("dw"))
        .collect()
      delta.foreach(r => w(r.getInt(0)) += r.getLong(1))
    }
    w
  }

  /** e05's inference shape with e10's learned weights: literals in
    * the plan, one exact int64 fold per row, zero shuffle. */
  def perceptronScore(
      emb: org.apache.spark.sql.DataFrame,
      w: Array[Long]): org.apache.spark.sql.DataFrame = {
    requireDim(emb, w.length - 1, "perceptronScore")
    val wLit = w.mkString("array(CAST(", " AS BIGINT), CAST(", " AS BIGINT))")
    emb.select(col("vec_id"), col("label"),
      perceptronY.cast("int").as("y"),
      expr(s"aggregate(zip_with($perceptronXqSql, $wLit, " +
        "(x, wv) -> x * wv), CAST(0 AS BIGINT), (a, v) -> a + v)").as("score_w"))
  }

  /** e05's frozen "trained" weight vector: sixteenths in [-9/16, 9/16]
    * — exact binary fractions, so literal parsing and products are
    * bit-identical across engines.
    */
  private lazy val weights: Seq[Double] =
    (0 until 64).map(i => ((i * 37) % 19 - 9) / 16.0)
}
