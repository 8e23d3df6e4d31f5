package graft.llm

import graft.core.Tables
import graft.queries.Declared
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY.md §2B north star).
  *
  * `q19` is the exact brute-force cosine top-k: norms are precomputed ONCE
  * per side before the join (never inside the O(n²) pair loop), the dot
  * product is a codegen'd `aggregate(zip_with(...))` over doubles, and
  * ranking happens on the ROUNDED similarity with a vec_id tie-break so the
  * result is hash-deterministic across engines.
  *
  * Scale path: brute force is the correctness oracle at test SF; at 100 TB
  * the same dot-product expression runs inside an LSH/IVF-bucketed join
  * (bucket id from random hyperplane signs) so each vector only meets its
  * bucket — see [[AnnBuckets]].
  */
object SimilarityQueries {

  private val dot = (a: String, b: String) =>
    graft.functions.GraftFunctions.dot(col(a), col(b))

  /** Exact cosine top-5 neighbours per vector. */
  val q19SimilarityTopk: Declared = Declared.sql(
    "q19_similarity_topk",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos_sim
      |      FROM n a, n b WHERE a.vec_id <> b.vec_id),
      |r AS (SELECT a_id, b_id, cos_sim,
      |             row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn
      |      FROM p)
      |SELECT a_id, b_id, CAST(rn AS INTEGER) AS rn, cos_sim
      |FROM r WHERE rn <= 5
      |ORDER BY a_id, rn""".stripMargin) { (spark, dir) =>
    // broadcast-matrix kernel: the cross-join formulation copied both
    // embedding arrays into every joined row (~1 KB/pair, dwarfing the
    // 64 mul-adds of the dot itself) — see [[BruteForce]] for the parity
    // argument (index-order reduction, Catalyst-identical rounding).
    // NOTE: construction is EAGER (count + matrix collect fire before any
    // action) — never compose into a one-lazy-plan measurement
    BruteForce
      .topK(spark, t(spark, dir).embeddings, "vec_id", "embedding", k = 5)
      .orderBy("a_id", "rn")
  }

  /** Label-centroid similarity: mean embedding per label, then each vector's
    * cosine to its own label centroid — the exact aggregation pattern of
    * embedding-cluster quality checks. `zip_with`-free formulation: explode
    * positions once, aggregate per (label, pos).
    */
  val q20LabelCentroidSim: Declared = Declared.sql(
    "q20_label_centroid_sim",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |x AS (SELECT vec_id, label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM e),
      |c AS (SELECT label, pos, avg(v) AS cv FROM x GROUP BY label, pos),
      |d AS (SELECT x.vec_id, x.label,
      |             sum(x.v * c.cv) AS dp, sqrt(sum(x.v * x.v)) AS nv, sqrt(sum(c.cv * c.cv)) AS nc
      |      FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
      |      GROUP BY x.vec_id, x.label)
      |SELECT label, round(avg(dp / (nv * nc)), 6) AS avg_centroid_sim, count(*) AS n
      |FROM d GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    val e = t(spark, dir).embeddings
      .select(col("vec_id"), col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos0", "v")))
      .select(col("vec_id"), col("label"), (col("pos0") + 1).as("pos"), col("v"))
    val c = e.groupBy("label", "pos").agg(avg("v").as("cv"))
    val d = e
      .join(c, Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(
        sum(col("v") * col("cv")).as("dp"),
        sqrt(sum(col("v") * col("v"))).as("nv"),
        sqrt(sum(col("cv") * col("cv"))).as("nc"))
    d.groupBy("label")
      .agg(round(avg(col("dp") / (col("nv") * col("nc"))), 6).as("avg_centroid_sim"), count(lit(1)).as("n"))
      .orderBy("label")
  }

  private def t(spark: SparkSession, dir: String) = Tables(spark, dir)

  /** Embedding-cosine near-dup pairs above a similarity threshold — the
    * dedup-flavored variant of q19 (unordered pairs, a_id < b_id). At scale
    * the same predicate runs over LSH-bucket candidates (q41) instead of
    * the full cross join.
    */
  val q49EmbeddingNeardup: Declared = Declared.sql(
    "q49_embedding_neardup",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos_sim
      |      FROM n a, n b WHERE a.vec_id < b.vec_id)
      |SELECT a_id, b_id, cos_sim FROM p
      |WHERE cos_sim >= 0.4
      |ORDER BY a_id, b_id""".stripMargin) { (spark, dir) =>
    BruteForce
      .neardupPairs(spark, t(spark, dir).embeddings, "vec_id", "embedding", tau = 0.4)
      .orderBy("a_id", "b_id")
  }

  /** LSH-bucketed approximate top-k — the scale path next to the exact
    * brute force of q19. Rows-only (approximation has no SQL oracle);
    * AnnSpec measures recall against the exact result.
    */
  val q41AnnTopk: Declared = Declared.rowsOnly("q41_ann_topk") { (spark, dir) =>
    AnnBuckets
      .approxTopK(t(spark, dir).embeddings, "vec_id", "embedding", k = 5, nBits = 4, nTables = 2,
        nProbes = 0)
      .orderBy("a_id", "rn")
  }

  /** IVF-bucketed approximate top-k — the inverted-file scale path next to
    * the LSH tables of q41. Rows-only; recall asserted in
    * AnnMultimodalSpec.
    */
  val q50IvfTopk: Declared = Declared.rowsOnly("q50_ivf_topk") { (spark, dir) =>
    IvfIndex
      .approxTopK(t(spark, dir).embeddings, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 3)
      .orderBy("a_id", "rn")
  }

  /** Symmetric int8 quantization summary per vector ([[Quantize]]): the
    * integer code checksum is float-ordering-free, so the whole quantizer
    * is hash-verified against DuckDB, not just spot-checked.
    */
  val q58QuantizeInt8: Declared = Declared.sql(
    "q58_quantize_int8",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |s AS (SELECT vec_id, emb,
      |        sqrt(list_dot_product(emb, emb)) AS nrm,
      |        list_aggregate(list_transform(emb, x -> abs(x)), 'max') AS max_abs FROM e),
      |q AS (SELECT vec_id, nrm, max_abs,
      |        CASE WHEN max_abs = 0 THEN 0.0 ELSE 127.0 / max_abs END AS scale, emb FROM s)
      |SELECT vec_id, round(nrm, 6) AS nrm, round(max_abs, 6) AS max_abs,
      |  CAST(list_sum(list_transform(emb, x -> CAST(round(x * scale) AS BIGINT))) AS BIGINT) AS q_sum,
      |  round(CASE WHEN scale = 0 THEN 0.0 ELSE
      |    list_sum(list_transform(emb, x -> abs(x - round(x * scale) / scale))) / len(emb) END, 6) AS q_err
      |FROM q ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    Quantize
      .int8Summary(
        t(spark, dir).embeddings
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")),
        "vec_id",
        "emb")
      .orderBy("vec_id")
  }

  /** LSH bucket ASSIGNMENT for the exact tables/seeds q41 searches — the
    * deterministic half of the ANN path, hash-oracled so a bucketing bug
    * cannot hide inside q41's recall envelope. The seeded hyperplanes are
    * driver-side constants, so the DuckDB oracle embeds the same plane
    * values as SQL literals and replays the sign-bit fold; both engines
    * widen the float32 embedding to double and sum the 64-term dot in
    * index order, so the sign (and hence the bucket) is bit-identical.
    */
  val q67AnnBucketAssign: Declared = {
    val nBits = 4
    val dims  = 64
    val seed  = 42L
    val nTables = 2
    def sqlLit(p: Array[Double]): String = p.mkString("[", ", ", "]")
    val tableSelects = (0 until nTables).map { tb =>
      val ps = AnnBuckets.planes(nBits, dims, seed + tb)
      val bits = ps.zipWithIndex
        .map { case (p, b) =>
          s"(CASE WHEN list_dot_product(emb, ${sqlLit(p)}) > 0 THEN ${1 << b} ELSE 0 END)"
        }
        .mkString("\n     + ")
      s"SELECT vec_id, $tb AS table_id, CAST($bits AS INTEGER) AS bucket FROM e"
    }
    val oracle =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (${tableSelects.mkString("\n UNION ALL\n")})
         |SELECT vec_id, table_id, bucket FROM b ORDER BY vec_id, table_id""".stripMargin
    Declared.sql("q67_ann_bucket_assign", oracle) { (spark, dir) =>
      val e = t(spark, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      (0 until nTables)
        .map { tb =>
          AnnBuckets
            .withBucket(e, "emb", nBits, dims, seed + tb)
            .select(col("vec_id"), lit(tb).as("table_id"), col("bucket"))
        }
        .reduce(_ unionByName _)
        .orderBy("vec_id", "table_id")
    }
  }

  /** Embedding outlier screen: the 5 farthest-from-label-centroid vectors
    * per label (euclidean, rounded to 6 dp BEFORE ranking so near-tie rank
    * order is engine-independent; vec_id breaks exact ties).
    */
  val q74EmbeddingOutliers: Declared = Declared.sql(
    "q74_embedding_outliers",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |x AS (SELECT vec_id, label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM e),
      |c AS (SELECT label, pos, avg(v) AS cv FROM x GROUP BY label, pos),
      |d AS (SELECT x.vec_id, x.label, round(sqrt(sum((x.v - c.cv) * (x.v - c.cv))), 6) AS dist
      |      FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
      |      GROUP BY x.vec_id, x.label),
      |r AS (SELECT vec_id, label, dist,
      |             row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id ASC) AS rk
      |      FROM d)
      |SELECT label, CAST(rk AS BIGINT) AS rk, CAST(vec_id AS BIGINT) AS vec_id, dist
      |FROM r WHERE rk <= 5
      |ORDER BY label, rk""".stripMargin) { (spark, dir) =>
    EmbeddingStats
      .labelOutliers(t(spark, dir).embeddings, "vec_id", "label", "embedding", k = 5)
      .select(
        col("label"),
        col("rk").cast("long").as("rk"),
        col("vec_id").cast("long").as("vec_id"),
        col("dist"))
      .orderBy("label", "rk")
  }

  /** Embedding covariance matrix (upper triangle, ddof=1) — the PCA /
    * whitening input. The Spark side is ONE treeAggregate pass carrying
    * d(d+3)/2 doubles of state (see [[EmbeddingStats.covarianceMatrix]]);
    * the oracle replays it relationally (unnest self-join), which is fine
    * at verify scale and exactly what the kernel exists to avoid at
    * corpus scale.
    */
  val q82CovarianceMatrix: Declared = Declared.sql(
    "q82_covariance_matrix",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |x AS (SELECT vec_id, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM e),
      |p AS (SELECT a.pos AS i, b.pos AS j,
      |             sum(a.v * b.v) AS sxy, sum(a.v) AS sx, sum(b.v) AS sy, count(*) AS n
      |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      |      GROUP BY 1, 2)
      |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
      |       round((sxy - sx * sy / n) / (n - 1), 6) + 0.0 AS cov
      |FROM p ORDER BY i, j""".stripMargin) { (spark, dir) =>
    // `+ 0.0` on the oracle side: DuckDB's round keeps IEEE -0.0 when a
    // tiny negative covariance rounds to zero; the Spark side rounds via
    // BigDecimal (no signed zero), and the driver's value hash tells
    // -0.0 from 0.0 apart. Adding +0.0 canonicalizes (-0.0 + 0.0 = 0.0).
    EmbeddingStats
      .covarianceMatrix(t(spark, dir).embeddings, "embedding")
      .orderBy("i", "j")
  }

  /** SemDedup (q80): semantic dedup = deterministic seed-point
    * clustering + within-cell cosine drop list against each cell's
    * reference prefix — see [[SemDedup]] for the full contract. k=8 /
    * tau=0.4 / maxPrevRefs=32 are the declared oracle operating point:
    * with 8 cells over 500 sf0.01 vectors the ~62-row cells OUTGROW the
    * 32-row prefix, so the capped semantics (not just the exact
    * fallback) are what the oracle checks — the `rk.rn <= 32` predicate
    * replays the cap, the q34/q69 move. The cap is what bounds the
    * declared query at scale: uncapped, fixed k=8 scans n²/8 pairs
    * (343 s at sf10); capped, the scan is n·32 pair scores. Every stage
    * is hash-checked: seed pick (salted md5), cell assignment
    * (rounded-cosine argmax), prefix rank, max-prev similarity, and the
    * keep flag.
    */
  val q80SemDedup: Declared = Declared.sql(
    "q80_semdedup",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |sd AS (SELECT vec_id AS seed_id, emb AS semb, nrm AS snrm FROM n
      |       ORDER BY md5('semdedup|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      |a0 AS (SELECT n.vec_id, n.emb, n.nrm, s.seed_id,
      |              round(list_dot_product(n.emb, s.semb) / (n.nrm * s.snrm), 6) AS cs
      |       FROM n CROSS JOIN sd s),
      |a AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |                                   ORDER BY cs DESC, seed_id ASC) AS rn
      |      FROM a0),
      |cell AS (SELECT vec_id, emb, nrm, seed_id AS cell FROM a WHERE rn = 1),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
      |       FROM cell),
      |p AS (SELECT y.vec_id,
      |             max(round(list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm), 6)) AS mx
      |      FROM rk y JOIN rk x ON x.cell = y.cell AND x.vec_id < y.vec_id AND x.rn <= 32
      |      GROUP BY y.vec_id)
      |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, p.mx AS max_sim_prev,
      |       (p.mx IS NULL OR NOT p.mx >= 0.4) AS keep
      |FROM cell c LEFT JOIN p ON p.vec_id = c.vec_id
      |ORDER BY c.vec_id""".stripMargin) { (spark, dir) =>
    SemDedup
      .keepFlags(t(spark, dir).embeddings, "vec_id", "embedding", k = 8, tau = 0.4,
        maxPrevRefs = 32)
      .orderBy("vec_id")
  }

  /** Per-dimension robust scaling ([[EmbeddingStats.robustScale]]):
    * median/IQR normalization of every embedding coordinate — the full
    * scaled matrix is hash-checked (DuckDB `quantile_cont` replays the
    * exact-percentile stats, same pairing as q28).
    */
  val q95RobustScale: Declared = Declared.sql(
    "q95_robust_scale",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |x AS (SELECT vec_id, generate_subscripts(emb, 1) AS dim, unnest(emb) AS v FROM e),
      |s AS (SELECT dim, quantile_cont(v, 0.50) AS med,
      |        CASE WHEN quantile_cont(v, 0.75) - quantile_cont(v, 0.25) = 0.0 THEN 1.0
      |             ELSE quantile_cont(v, 0.75) - quantile_cont(v, 0.25) END AS iqr
      |      FROM x GROUP BY dim)
      |SELECT x.vec_id, CAST(x.dim AS INTEGER) AS dim, round((x.v - s.med) / s.iqr, 4) AS scaled
      |FROM x JOIN s USING (dim)
      |ORDER BY x.vec_id, x.dim""".stripMargin) { (spark, dir) =>
    EmbeddingStats
      .robustScale(t(spark, dir).embeddings, "vec_id", "embedding")
      .orderBy("vec_id", "dim")
  }

  /** PCA projection ([[EmbeddingStats.pcaProject]]): top-2 principal
    * components by driver-side power iteration over the treeAggregated
    * covariance, projection as one broadcast codegen pass. Rows-only —
    * the eigenvector fixpoint is not SQL-replayable at matching
    * precision; EmbeddingStatsSpec pins alignment on a known-spectrum
    * corpus, orthonormality, the variance ordering, and determinism.
    */
  val q96PcaProject: Declared = Declared.rowsOnly("q96_pca_project") { (spark, dir) =>
    EmbeddingStats
      .pcaProject(t(spark, dir).embeddings, "vec_id", "embedding", k = 2)
      .orderBy("vec_id")
  }

  /** Hybrid two-stage retrieval ([[Bm25.topKHybrid]]): BM25 top-50
    * lexical candidates for the q91 term set, reranked to top-10 by
    * cosine against the embedding of anchor document 42
    * (query-by-example — the anchor vector is raw data, so the rerank
    * has no engine-ordering exposure beyond the 6 dp rounded cosine).
    * The oracle replays the q91 scorer at m=50 and the cosine rerank
    * end to end.
    */
  val q112HybridRerank: Declared = Declared.sql(
    "q112_hybrid_rerank",
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'window')) AS DOUBLE) AS tf2,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'merge')) AS DOUBLE) AS tf3
      |  FROM documents),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
      |        CAST(sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df1,
      |        CAST(sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df2,
      |        CAST(sum(CASE WHEN tf3 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df3
      |      FROM p),
      |sc AS (SELECT doc_id, round(
      |    ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * (1.2 + 1.0)) / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
      |    6) AS score FROM p CROSS JOIN s),
      |cand AS (SELECT doc_id, score AS lex_score FROM (
      |           SELECT doc_id, score,
      |             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn FROM sc)
      |         WHERE rn <= 50),
      |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 42),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |je AS (SELECT c.doc_id, c.lex_score,
      |         round(list_dot_product(e.emb, qv.q) /
      |               (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(qv.q, qv.q))),
      |               6) AS cosine
      |       FROM cand c JOIN e ON e.vec_id = c.doc_id CROSS JOIN qv),
      |rr AS (SELECT doc_id, lex_score, cosine,
      |         row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rn FROM je)
      |SELECT doc_id, lex_score, cosine, CAST(rn AS INTEGER) AS rn
      |FROM rr WHERE rn <= 10 ORDER BY rn""".stripMargin) { (spark, dir) =>
    val tt = t(spark, dir)
    val qv = tt.embeddings
      .where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>").as("qv"))
    Bm25
      .topKHybrid(
        tt.documents, "doc_id", "text", Seq("spark", "window", "merge"),
        tt.embeddings, "vec_id", "embedding", qv, m = 50, k = 10)
      .orderBy("rn")
  }

  /** Reciprocal-rank fusion ([[Bm25.rrfFuse]]): the q91 lexical top-20
    * fused with the exact dense cosine top-20 for anchor vector 42,
    * c = 60 — rank-based combination needs no score calibration, and
    * `rrf` is an exact small-integer rational (identical doubles on
    * both engines, no rounding needed). The fuse join, sort, and window
    * all run over ≤ 20-row lists; the dense list's full scan is the
    * declared exact-oracle mode (q41/q50 are the ANN scale path).
    */
  val q114RrfFusion: Declared = Declared.sql(
    "q114_rrf_fusion",
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'window')) AS DOUBLE) AS tf2,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'merge')) AS DOUBLE) AS tf3
      |  FROM documents),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
      |        CAST(sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df1,
      |        CAST(sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df2,
      |        CAST(sum(CASE WHEN tf3 > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS df3
      |      FROM p),
      |sc AS (SELECT doc_id, round(
      |    ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * (1.2 + 1.0)) / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
      |    6) AS score FROM p CROSS JOIN s),
      |lex AS (SELECT doc_id, rn FROM (
      |          SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn FROM sc)
      |        WHERE rn <= 20),
      |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 42),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |dc AS (SELECT e.vec_id AS doc_id,
      |         round(list_dot_product(e.emb, qv.q) /
      |               (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(qv.q, qv.q))),
      |               6) AS cosine
      |       FROM e CROSS JOIN qv),
      |dense AS (SELECT doc_id, rn FROM (
      |            SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rn FROM dc)
      |          WHERE rn <= 20),
      |f AS (SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
      |        CAST(lex.rn AS BIGINT) AS rank_a, CAST(dense.rn AS BIGINT) AS rank_b,
      |        COALESCE(1.0 / (60.0 + lex.rn), 0.0) + COALESCE(1.0 / (60.0 + dense.rn), 0.0) AS rrf
      |      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id),
      |r AS (SELECT doc_id, rank_a, rank_b, rrf,
      |        row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rn FROM f)
      |SELECT doc_id, rank_a, rank_b, rrf, CAST(rn AS INTEGER) AS rn
      |FROM r WHERE rn <= 10 ORDER BY rn""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tt  = t(spark, dir)
    val lex = Bm25.topK(tt.documents, "doc_id", "text", Seq("spark", "window", "merge"), k = 20)
    val qv = tt.embeddings
      .where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>").as("qv"))
    val emb = tt.embeddings.select(
      col("vec_id").cast("long").as("doc_id"),
      col("embedding").cast("array<double>").as("__emb"))
    val cos = round(
      dot("__emb", "qv") / (sqrt(dot("__emb", "__emb")) * sqrt(dot("qv", "qv"))),
      6)
    val dense = emb
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), cos.as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
      .limit(20)
      .withColumn("rn", row_number().over(Window.orderBy(col("cosine").desc, col("doc_id").asc)))
    Bm25.rrfFuse(lex, dense, "doc_id", c = 60, k = 10).orderBy("rn")
  }

  /** Hard-negative mining ([[EmbeddingStats.hardNegatives]]): per anchor,
    * the top-3 different-label neighbours with cosine ≥ 0.3 — the
    * contrastive-training prep the exact kernel (q49 contract) feeds at
    * oracle scale and the ANN buckets feed at corpus scale. The oracle
    * replays pair generation, label joins, and the per-anchor window.
    */
  val q118HardNegatives: Declared = Declared.sql(
    "q118_hard_negatives",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, label, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |p AS (SELECT a.vec_id AS anchor, a.label AS anchor_label,
      |             b.vec_id AS neighbor, b.label AS neighbor_label,
      |             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos_sim
      |      FROM n a, n b WHERE a.vec_id <> b.vec_id),
      |h AS (SELECT anchor, anchor_label, neighbor, neighbor_label, cos_sim,
      |        row_number() OVER (PARTITION BY anchor ORDER BY cos_sim DESC, neighbor ASC) AS rn
      |      FROM p WHERE cos_sim >= 0.3 AND anchor_label <> neighbor_label)
      |SELECT anchor, anchor_label, neighbor, neighbor_label, cos_sim, CAST(rn AS INTEGER) AS rn
      |FROM h WHERE rn <= 3
      |ORDER BY anchor, rn""".stripMargin) { (spark, dir) =>
    EmbeddingStats
      .hardNegatives(t(spark, dir).embeddings, "vec_id", "label", "embedding", tau = 0.3, k = 3)
      .orderBy("anchor", "rn")
  }

  /** ANN-backed hard-negative mining
    * ([[EmbeddingStats.hardNegativesApprox]]): q118's semantics with the
    * pair stage swapped from the guarded exact kernel to the LSH bucket
    * join — the plan a 100 TB miner actually runs. With the index pinned
    * (nBits=4, 2 tables, seed 42) every stage is deterministic, so the
    * WHOLE approximate path hash-oracles: the DuckDB SQL embeds the same
    * seeded hyperplanes as literals (q67 pattern), replays the per-table
    * same-bucket self-join, the distinct candidate union, the rounded
    * cosine, the label filter, and the per-anchor window. A bucketing or
    * candidate-generation bug therefore fails the hash gate directly
    * instead of hiding inside a recall envelope. (The production default
    * `nBits = Auto` sizes the index from corpus occupancy; the declared
    * query pins 4 bits for oracle reproducibility — same split as
    * q41/q67.)
    */
  val q120HardNegativesAnn: Declared = {
    val nBits   = 4
    val dims    = 64
    val seed    = 42L
    val nTables = 2
    def sqlLit(p: Array[Double]): String = p.mkString("[", ", ", "]")
    val tableSelects = (0 until nTables).map { tb =>
      val ps = AnnBuckets.planes(nBits, dims, seed + tb)
      val bits = ps.zipWithIndex
        .map { case (p, b) =>
          s"(CASE WHEN list_dot_product(emb, ${sqlLit(p)}) > 0 THEN ${1 << b} ELSE 0 END)"
        }
        .mkString("\n     + ")
      s"SELECT vec_id, $tb AS table_id, CAST($bits AS INTEGER) AS bucket FROM n"
    }
    val oracle =
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |n AS (SELECT vec_id, label, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
         |b AS (${tableSelects.mkString("\n UNION ALL\n")}),
         |c AS (SELECT DISTINCT x.vec_id AS anchor, y.vec_id AS neighbor
         |      FROM b x JOIN b y ON x.table_id = y.table_id AND x.bucket = y.bucket
         |                       AND x.vec_id <> y.vec_id),
         |p AS (SELECT c.anchor, na.label AS anchor_label, c.neighbor, nb.label AS neighbor_label,
         |             round(list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm), 6) AS cos_sim
         |      FROM c JOIN n na ON na.vec_id = c.anchor JOIN n nb ON nb.vec_id = c.neighbor),
         |h AS (SELECT anchor, anchor_label, neighbor, neighbor_label, cos_sim,
         |        row_number() OVER (PARTITION BY anchor ORDER BY cos_sim DESC, neighbor ASC) AS rn
         |      FROM p WHERE cos_sim >= 0.3 AND anchor_label <> neighbor_label)
         |SELECT anchor, anchor_label, neighbor, neighbor_label, cos_sim, CAST(rn AS INTEGER) AS rn
         |FROM h WHERE rn <= 3
         |ORDER BY anchor, rn""".stripMargin
    Declared.sql("q120_hard_negatives_ann", oracle) { (spark, dir) =>
      EmbeddingStats
        .hardNegativesApprox(
          t(spark, dir).embeddings,
          "vec_id",
          "label",
          "embedding",
          tau = 0.3,
          k = 3,
          nBits = nBits,
          dims = dims,
          nTables = nTables,
          seed = seed,
          nProbes = 0)
        .orderBy("anchor", "rn")
    }
  }

  /** Shared oracle prefix for q122/q123: two unrolled Lloyd rounds (the
    * q105 BPE unrolling pattern — deterministic iteration replayed as
    * chained CTEs). Seeds via the q80 salted-md5 rank; per-round mean
    * centroids rounded 6 dp (what keeps round k+1's input bit-identical
    * across engines); assignment via the ‖v‖²−2v·c+‖c‖² expansion in
    * `list_dot_product` index order; empty clusters COALESCE to the
    * previous centroid.
    */
  private val kmeansOracleCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, list_dot_product(emb, emb) AS s2 FROM e),
      |x AS (SELECT vec_id, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM e),
      |sd AS (SELECT vec_id AS lbl, emb AS cvec FROM e
      |       ORDER BY md5('kmeans|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |c0 AS (SELECT lbl, generate_subscripts(cvec, 1) AS pos, unnest(cvec) AS cv FROM sd),
      |d1 AS (SELECT n.vec_id, s.lbl,
      |              round(sqrt(greatest(n.s2 - 2 * list_dot_product(n.emb, s.cvec)
      |                                  + list_dot_product(s.cvec, s.cvec), 0.0)), 6) AS dist
      |       FROM n CROSS JOIN sd s),
      |a1 AS (SELECT vec_id, lbl, dist,
      |              row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, lbl ASC) AS rn
      |       FROM d1),
      |u1 AS (SELECT a1.lbl, x.pos, round(avg(x.v), 6) AS cv
      |       FROM a1 JOIN x USING (vec_id) WHERE a1.rn = 1 GROUP BY a1.lbl, x.pos),
      |c1 AS (SELECT c0.lbl, c0.pos, COALESCE(u1.cv, c0.cv) AS cv
      |       FROM c0 LEFT JOIN u1 ON u1.lbl = c0.lbl AND u1.pos = c0.pos),
      |c1l AS (SELECT lbl, list(cv ORDER BY pos) AS cvec FROM c1 GROUP BY lbl),
      |d2 AS (SELECT n.vec_id, c.lbl,
      |              round(sqrt(greatest(n.s2 - 2 * list_dot_product(n.emb, c.cvec)
      |                                  + list_dot_product(c.cvec, c.cvec), 0.0)), 6) AS dist
      |       FROM n CROSS JOIN c1l c),
      |a2 AS (SELECT vec_id, lbl, dist,
      |              row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, lbl ASC) AS rn
      |       FROM d2),
      |u2 AS (SELECT a2.lbl, x.pos, round(avg(x.v), 6) AS cv
      |       FROM a2 JOIN x USING (vec_id) WHERE a2.rn = 1 GROUP BY a2.lbl, x.pos),
      |c2 AS (SELECT c1.lbl, c1.pos, COALESCE(u2.cv, c1.cv) AS cv
      |       FROM c1 LEFT JOIN u2 ON u2.lbl = c1.lbl AND u2.pos = c1.pos),
      |c2l AS (SELECT lbl, list(cv ORDER BY pos) AS cvec FROM c2 GROUP BY lbl),
      |d3 AS (SELECT n.vec_id, c.lbl,
      |              round(sqrt(greatest(n.s2 - 2 * list_dot_product(n.emb, c.cvec)
      |                                  + list_dot_product(c.cvec, c.cvec), 0.0)), 6) AS dist
      |       FROM n CROSS JOIN c2l c),
      |a3 AS (SELECT vec_id, lbl, dist,
      |              row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, lbl ASC) AS rn
      |       FROM d3),
      |fin AS (SELECT vec_id, lbl AS cluster, dist FROM a3 WHERE rn = 1)""".stripMargin

  /** Distributed Lloyd k-means over the corpus embeddings
    * ([[KMeans.fit]]): domain discovery for mixture balancing. The WHOLE
    * optimizer loop hash-oracles — init, two assignment/update rounds,
    * and the final assignment are all deterministic (see [[KMeans]]'s
    * rounding contract), so a drift in any round fails the gate.
    */
  val q122DomainClusters: Declared = Declared.sql(
    "q122_domain_clusters",
    s"""$kmeansOracleCtes
       |SELECT vec_id, cluster, dist FROM fin ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    KMeans
      .fit(t(spark, dir).embeddings, "vec_id", "embedding", k = 4, iters = 2)
      ._1
      .orderBy("vec_id")
  }

  /** Uniform-mixture reweighting over the discovered domains
    * ([[KMeans.mixtureWeights]]): `weight = (n/k) / n_c`, the sampling
    * multiplier that equalizes domain mass — the step between clustering
    * and a mixture draw (q60/q101 consume weights like these).
    */
  val q123ClusterMixture: Declared = Declared.sql(
    "q123_cluster_mixture",
    s"""$kmeansOracleCtes
       |, g AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n FROM fin GROUP BY cluster)
       |SELECT cluster, n,
       |       round(((SELECT count(*) FROM fin) / 4.0) / n, 6) AS weight
       |FROM g ORDER BY cluster""".stripMargin) { (spark, dir) =>
    val (assigned, _) = KMeans.fit(t(spark, dir).embeddings, "vec_id", "embedding", k = 4, iters = 2)
    KMeans.mixtureWeights(assigned, k = 4).orderBy("cluster")
  }

  /** Contrastive triplet construction ([[EmbeddingStats.trainingTriplets]]):
    * per anchor its best same-label neighbour (positive) and best
    * different-label neighbour (hard negative), both ≥ tau — the
    * (anchor, positive, negative) table a triplet/InfoNCE finetune
    * consumes. The oracle replays the q118 pair set with two per-anchor
    * windows (label-equal and label-distinct) joined on the anchor.
    */
  val q129TrainingTriplets: Declared = Declared.sql(
    "q129_training_triplets",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, label, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |p AS (SELECT a.vec_id AS anchor, a.label AS anchor_label,
      |             b.vec_id AS neighbor, b.label AS neighbor_label,
      |             round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos_sim
      |      FROM n a, n b WHERE a.vec_id <> b.vec_id),
      |pos AS (SELECT anchor, anchor_label, neighbor AS pos_id, cos_sim AS pos_cos,
      |               row_number() OVER (PARTITION BY anchor
      |                                  ORDER BY cos_sim DESC, neighbor ASC) AS rn
      |        FROM p WHERE cos_sim >= 0.3 AND anchor_label = neighbor_label),
      |neg AS (SELECT anchor, neighbor AS neg_id, cos_sim AS neg_cos,
      |               row_number() OVER (PARTITION BY anchor
      |                                  ORDER BY cos_sim DESC, neighbor ASC) AS rn
      |        FROM p WHERE cos_sim >= 0.3 AND anchor_label <> neighbor_label)
      |SELECT pos.anchor, pos.anchor_label, pos.pos_id, pos.pos_cos, neg.neg_id, neg.neg_cos
      |FROM pos JOIN neg ON pos.anchor = neg.anchor AND pos.rn = 1 AND neg.rn = 1
      |ORDER BY pos.anchor""".stripMargin) { (spark, dir) =>
    EmbeddingStats
      .trainingTriplets(t(spark, dir).embeddings, "vec_id", "label", "embedding", tau = 0.3)
      .orderBy("anchor")
  }

  /** ANN-backed triplet construction
    * ([[EmbeddingStats.trainingTripletsApprox]]): q129's election over
    * q120's LSH candidate stage — the plan a corpus-scale contrastive
    * finetune actually runs. Index pinned (nBits=4, 2 tables, seed 42) so
    * the WHOLE approximate path hash-oracles: the DuckDB SQL embeds the
    * seeded hyperplanes as literals, replays the per-table same-bucket
    * self-join, the distinct candidate union, the rounded cosine, and the
    * two per-anchor windows. Production default `nBits = Auto` sizes the
    * index from corpus occupancy (same declared/production split as
    * q41/q67/q120).
    */
  val q130TrainingTripletsAnn: Declared = {
    val nBits   = 4
    val dims    = 64
    val seed    = 42L
    val nTables = 2
    def sqlLit(p: Array[Double]): String = p.mkString("[", ", ", "]")
    val tableSelects = (0 until nTables).map { tb =>
      val ps = AnnBuckets.planes(nBits, dims, seed + tb)
      val bits = ps.zipWithIndex
        .map { case (p, b) =>
          s"(CASE WHEN list_dot_product(emb, ${sqlLit(p)}) > 0 THEN ${1 << b} ELSE 0 END)"
        }
        .mkString("\n     + ")
      s"SELECT vec_id, $tb AS table_id, CAST($bits AS INTEGER) AS bucket FROM n"
    }
    val oracle =
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |n AS (SELECT vec_id, label, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
         |b AS (${tableSelects.mkString("\n UNION ALL\n")}),
         |c AS (SELECT DISTINCT x.vec_id AS anchor, y.vec_id AS neighbor
         |      FROM b x JOIN b y ON x.table_id = y.table_id AND x.bucket = y.bucket
         |                       AND x.vec_id <> y.vec_id),
         |p AS (SELECT c.anchor, na.label AS anchor_label, c.neighbor, nb.label AS neighbor_label,
         |             round(list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm), 6) AS cos_sim
         |      FROM c JOIN n na ON na.vec_id = c.anchor JOIN n nb ON nb.vec_id = c.neighbor),
         |pos AS (SELECT anchor, anchor_label, neighbor AS pos_id, cos_sim AS pos_cos,
         |               row_number() OVER (PARTITION BY anchor
         |                                  ORDER BY cos_sim DESC, neighbor ASC) AS rn
         |        FROM p WHERE cos_sim >= 0.3 AND anchor_label = neighbor_label),
         |neg AS (SELECT anchor, neighbor AS neg_id, cos_sim AS neg_cos,
         |               row_number() OVER (PARTITION BY anchor
         |                                  ORDER BY cos_sim DESC, neighbor ASC) AS rn
         |        FROM p WHERE cos_sim >= 0.3 AND anchor_label <> neighbor_label)
         |SELECT pos.anchor, pos.anchor_label, pos.pos_id, pos.pos_cos, neg.neg_id, neg.neg_cos
         |FROM pos JOIN neg ON pos.anchor = neg.anchor AND pos.rn = 1 AND neg.rn = 1
         |ORDER BY pos.anchor""".stripMargin
    Declared.sql("q130_training_triplets_ann", oracle) { (spark, dir) =>
      EmbeddingStats
        .trainingTripletsApprox(
          t(spark, dir).embeddings,
          "vec_id",
          "label",
          "embedding",
          tau = 0.3,
          nBits = nBits,
          dims = dims,
          nTables = nTables,
          seed = seed,
          nProbes = 0)
        .orderBy("anchor")
    }
  }

  /** Shared per-subspace CTEs for the PQ oracles (q126/q127): 4 subspaces
    * of 16 dims, 8 seed centroids each (`iters = 0` — the deterministic
    * codebook mode; Lloyd-trained codebooks are the library default and
    * are spec-gated by the reconstruction-error contract instead).
    * Codebook index = rank of the seed's vec_id among the picked seeds,
    * matching [[KMeans.initCentroids]]'s label-sorted order.
    */
  private def pqCtes(withD2: Boolean): String = {
    val subs = (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = s * 16 + 16
      val d2 =
        s"greatest(list_dot_product(t.sub, t.sub) - 2 * list_dot_product(t.sub, s.cvec)" +
          s" + list_dot_product(s.cvec, s.cvec), 0)"
      val d2Col = if (withD2) s",\n         |          $d2 AS d2" else ""
      val aCols = if (withD2) "vec_id, code, d2" else "vec_id, code"
      s"""sub$s AS (SELECT vec_id, emb[$lo:$hi] AS sub FROM e),
         |sd$s AS (SELECT sub AS cvec, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM
         |          (SELECT vec_id, sub FROM sub$s
         |           ORDER BY md5('pq$s|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
         |d$s AS (SELECT t.vec_id, s.code,
         |          round(sqrt($d2), 6) AS dist$d2Col
         |        FROM sub$s t CROSS JOIN sd$s s),
         |a$s AS (SELECT $aCols FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                       ORDER BY dist ASC, code ASC) AS rn FROM d$s)
         |        WHERE rn = 1)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |${subs.mkString(",\n")}""".stripMargin
  }

  /** Product quantization encode + reconstruction error ([[Pq]]): every
    * vector compressed to 4 codebook indices (64× vs float32) with the
    * per-vector quantization error — the embedding-compression leg of
    * the ANN story next to LSH (q41/q67) and IVF (q50). Whole path
    * hash-oracled under the pinned seed codebooks.
    */
  val q126PqEncode: Declared = Declared.sql(
    "q126_pq_encode",
    s"""${pqCtes(withD2 = true)}
       |SELECT vec_id,
       |       CAST(a0.code AS INTEGER) AS code0, CAST(a1.code AS INTEGER) AS code1,
       |       CAST(a2.code AS INTEGER) AS code2, CAST(a3.code AS INTEGER) AS code3,
       |       round(sqrt(a0.d2 + a1.d2 + a2.d2 + a3.d2), 6) AS err
       |FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
       |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir).embeddings
    val cb  = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 0)
    Pq.reconstructionError(emb, "vec_id", "embedding", cb).orderBy("vec_id")
  }

  /** ADC top-10 for the vec-42 query ([[Pq.adcTopK]]): approximate
    * distances from the m×k lookup table — each candidate costs 4 table
    * lookups, no vector math per row. Hash-oracled end to end (table
    * entries, code lookups, ranking) under the pinned codebooks.
    */
  val q127PqAdcTopk: Declared = Declared.sql(
    "q127_pq_adc_topk", {
      val tbs = (0 until 4)
        .map { s =>
          s"""tb$s AS (SELECT s.code,
             |           greatest(list_dot_product(q.sub, q.sub) - 2 * list_dot_product(q.sub, s.cvec)
             |                    + list_dot_product(s.cvec, s.cvec), 0) AS d2
             |         FROM sd$s s CROSS JOIN (SELECT sub FROM sub$s WHERE vec_id = 42) q)""".stripMargin
        }
        .mkString(",\n")
      s"""${pqCtes(withD2 = false)},
         |$tbs
         |SELECT a0.vec_id,
         |       round(sqrt(greatest(t0.d2 + t1.d2 + t2.d2 + t3.d2, 0)), 6) AS adc_dist
         |FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |JOIN tb0 t0 ON t0.code = a0.code JOIN tb1 t1 ON t1.code = a1.code
         |JOIN tb2 t2 ON t2.code = a2.code JOIN tb3 t3 ON t3.code = a3.code
         |ORDER BY adc_dist ASC, a0.vec_id ASC LIMIT 10""".stripMargin
    }) { (spark, dir) =>
    val emb = t(spark, dir).embeddings
    val cb  = Pq.train(emb, "vec_id", "embedding", dims = 64, m = 4, k = 8, iters = 0)
    val enc = Pq.encode(emb, "vec_id", "embedding", cb)
    val q = graft.core.Jobs
      .collectFast(emb.where(col("vec_id") === 42)
        .select(col("embedding").cast("array<double>")))(0)
      .getSeq[Double](0)
      .toArray
    Pq.adcTopK(enc, q, cb, k = 10)
  }

  /** IVFADC search ([[IvfPq]]): coarse-cell probing + residual-PQ ADC —
    * the composed FAISS architecture. Rows-only by design (the coarse
    * centroids come from [[IvfIndex.trainCentroids]]'s driver-side
    * sampled Lloyd, which no SQL oracle replays — the q50 clause);
    * IvfPqSpec gates reconstruction improvement vs raw PQ, recall vs the
    * exact kernel, kernel/expression encode bit-equality, and
    * determinism.
    */
  val q128IvfPqTopk: Declared = Declared.rowsOnly("q128_ivfpq_topk") { (spark, dir) =>
    val emb = t(spark, dir).embeddings
    val (idx, encoded) =
      IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = 16, m = 4, k = 16)
    val q = graft.core.Jobs
      .collectFast(emb.where(col("vec_id") === 42)
        .select(col("embedding").cast("array<double>")))(0)
      .getSeq[Double](0)
      .toArray
    IvfPq.topK(idx, encoded, q, k = 10, nProbe = 4)
  }

  /** IVFADC multi-query scoring ([[IvfPq.scoreCandidates]] — the batch
    * face of the streaming scorer) hash-oracled END TO END: unlike q128
    * (rows-only because its coarse quantizer is driver-sampled Lloyd),
    * this declares a fully RELATIONAL index — coarse centroids = the 8
    * smallest-salted-md5 embeddings (q122's seed clause), residual
    * codebooks = the per-subspace seed pick over residual subvectors
    * (q126's clause, `iters = 0`) — so DuckDB replays every stage:
    * seed pick, rounded-expansion cell assignment, residual computation,
    * per-subspace encoding, the per-query probe ranking (EXACT
    * unrounded distance, cell tie-break — [[IvfPq.topK]]'s probe rule),
    * the per-(query, cell) ADC tables (direct squared-diff sums, the
    * kernel's arithmetic), and the final m-lookup ADC distance. A drift
    * anywhere in the IVFADC pipeline minus Lloyd now fails the hash
    * gate directly.
    */
  val q131IvfPqScore: Declared = {
    val subCtes = (0 until 4).map { s =>
      val lo = s * 16
      s"""sub$s AS (SELECT vec_id, res[${lo + 1}:${lo + 16}] AS sub FROM r),
         |sd$s AS (SELECT sub AS bvec, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM
         |          (SELECT vec_id, sub FROM sub$s
         |           ORDER BY md5('pq131$s|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
         |d$s AS (SELECT t.vec_id, s.code,
         |          round(sqrt(greatest(list_dot_product(t.sub, t.sub)
         |                 - 2 * list_dot_product(t.sub, s.bvec)
         |                 + list_dot_product(s.bvec, s.bvec), 0)), 6) AS dist
         |        FROM sub$s t CROSS JOIN sd$s s),
         |a$s AS (SELECT vec_id, code FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                       ORDER BY dist ASC, code ASC) AS rn FROM d$s)
         |        WHERE rn = 1),
         |t$s AS (SELECT q_id, cell, code, list_dot_product(d, d) AS d2 FROM (
         |          SELECT qr.q_id, qr.cell, s.code,
         |            list_transform(generate_series(1, 16), i -> qr.rq[$lo + i] - s.bvec[i]) AS d
         |          FROM qr CROSS JOIN sd$s s))""".stripMargin
    }
    val oracle =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cs AS (SELECT emb AS cvec, row_number() OVER (ORDER BY vec_id) - 1 AS cell FROM
         |        (SELECT vec_id, emb FROM e
         |         ORDER BY md5('ivfq131|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
         |ad AS (SELECT e.vec_id, c.cell,
         |         round(sqrt(greatest(list_dot_product(e.emb, e.emb)
         |                - 2 * list_dot_product(e.emb, c.cvec)
         |                + list_dot_product(c.cvec, c.cvec), 0.0)), 6) AS dist
         |       FROM e CROSS JOIN cs c),
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                       ORDER BY dist ASC, cell ASC) AS rn FROM ad)
         |        WHERE rn = 1),
         |r AS (SELECT e.vec_id, a.cell,
         |        list_transform(generate_series(1, 64), i -> e.emb[i] - c.cvec[i]) AS res
         |      FROM e JOIN asg a USING (vec_id) JOIN cs c ON c.cell = a.cell),
         |q AS (SELECT vec_id AS q_id, emb FROM e WHERE vec_id < 8),
         |pd AS (SELECT q_id, cell, list_dot_product(d, d) AS d2 FROM (
         |         SELECT q.q_id, c.cell,
         |           list_transform(generate_series(1, 64), i -> q.emb[i] - c.cvec[i]) AS d
         |         FROM q CROSS JOIN cs c)),
         |pr AS (SELECT q_id, cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY q_id
         |                                      ORDER BY d2 ASC, cell ASC) AS rn FROM pd)
         |       WHERE rn <= 2),
         |qr AS (SELECT p.q_id, p.cell,
         |         list_transform(generate_series(1, 64), i -> q.emb[i] - c.cvec[i]) AS rq
         |       FROM pr p JOIN q ON q.q_id = p.q_id JOIN cs c ON c.cell = p.cell),
         |${subCtes.mkString(",\n")},
         |enc AS (SELECT asg.vec_id, asg.cell,
         |          a0.code AS c0, a1.code AS c1, a2.code AS c2, a3.code AS c3
         |        FROM asg JOIN a0 USING (vec_id) JOIN a1 USING (vec_id)
         |                 JOIN a2 USING (vec_id) JOIN a3 USING (vec_id))
         |SELECT pr.q_id, enc.vec_id,
         |       round(sqrt(greatest(t0.d2 + t1.d2 + t2.d2 + t3.d2, 0.0)), 6) AS adc_dist
         |FROM pr
         |JOIN enc ON enc.cell = pr.cell
         |JOIN t0 ON t0.q_id = pr.q_id AND t0.cell = pr.cell AND t0.code = enc.c0
         |JOIN t1 ON t1.q_id = pr.q_id AND t1.cell = pr.cell AND t1.code = enc.c1
         |JOIN t2 ON t2.q_id = pr.q_id AND t2.cell = pr.cell AND t2.code = enc.c2
         |JOIN t3 ON t3.q_id = pr.q_id AND t3.cell = pr.cell AND t3.code = enc.c3
         |ORDER BY pr.q_id, enc.vec_id""".stripMargin
    Declared.sql("q131_ivfpq_score", oracle) { (spark, dir) =>
      val emb   = t(spark, dir).embeddings
      val cents = KMeans.initCentroids(emb, "vec_id", "embedding", k = 8, salt = "ivfq131").map(_.vec)
      val res   = IvfPq.residualKernelFrame(emb, "vec_id", "embedding", cents)
      val cb    = Pq.train(res, "vec_id", "res", dims = 64, m = 4, k = 8, iters = 0, salt = "pq131")
      val idx   = IvfPq.IvfPqIndex(cents, cb)
      val encoded = IvfPq.encodeForIndex(emb, "vec_id", "embedding", idx)
      IvfPq
        .scoreCandidates(emb.where(col("vec_id") < 8), encoded, idx, nProbe = 2)
        .orderBy("q_id", "vec_id")
    }
  }

  /** Corpus-scale SemDedup ([[SemDedup.keepFlagsApprox]]): q80's keep
    * rule with the neighbourhood swapped from seeded-cosine cells to LSH
    * buckets — the linear-ish path where the exact √n-cell design is
    * n^1.5 by construction (343 s at 2 M vectors). Index pinned (4 bits,
    * 2 tables, seed 42) so the whole approximate path hash-oracles via
    * hyperplane literals (q120/q130 pattern): per-table same-bucket
    * self-join, ordered distinct candidates, rounded cosine, per-vector
    * max over earlier candidates, null-safe keep threshold. Production
    * default `nBits = Auto`.
    *
    * The PINNED index is oracle equipment, not a scale posture: 4 bits =
    * 16 buckets, so same-bucket candidate volume grows quadratically
    * with the corpus (the declared q120/q130 clause) — at 2 M vectors
    * it is ~10¹¹ pairs and excluded from the sf10 sweep like them. The
    * production `Auto` sizing holds bucket occupancy (and therefore
    * per-vector candidate count) constant; its sf10 cost is recorded in
    * BENCH_SF1.md "Round-13: SemDedup crossover".
    */
  val q132SemDedupAnn: Declared = {
    val nBits   = 4
    val dims    = 64
    val seed    = 42L
    val nTables = 2
    def sqlLit(p: Array[Double]): String = p.mkString("[", ", ", "]")
    val tableSelects = (0 until nTables).map { tb =>
      val ps = AnnBuckets.planes(nBits, dims, seed + tb)
      val bits = ps.zipWithIndex
        .map { case (p, b) =>
          s"(CASE WHEN list_dot_product(emb, ${sqlLit(p)}) > 0 THEN ${1 << b} ELSE 0 END)"
        }
        .mkString("\n     + ")
      s"SELECT vec_id, $tb AS table_id, CAST($bits AS INTEGER) AS bucket FROM n"
    }
    val oracle =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
         |b AS (${tableSelects.mkString("\n UNION ALL\n")}),
         |c AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |      FROM b x JOIN b y ON x.table_id = y.table_id AND x.bucket = y.bucket
         |                       AND x.vec_id < y.vec_id),
         |p AS (SELECT c.b_id AS vec_id,
         |             max(round(list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm), 6)) AS mx
         |      FROM c JOIN n na ON na.vec_id = c.a_id JOIN n nb ON nb.vec_id = c.b_id
         |      GROUP BY c.b_id)
         |SELECT n.vec_id, p.mx AS max_sim_prev,
         |       (p.mx IS NULL OR NOT p.mx >= 0.4) AS keep
         |FROM n LEFT JOIN p ON p.vec_id = n.vec_id
         |ORDER BY n.vec_id""".stripMargin
    Declared.sql("q132_semdedup_ann", oracle) { (spark, dir) =>
      SemDedup
        .keepFlagsApprox(
          t(spark, dir).embeddings,
          "vec_id",
          "embedding",
          tau = 0.4,
          nBits = nBits,
          dims = dims,
          nTables = nTables,
          seed = seed,
          nProbes = 0)
        .orderBy("vec_id")
    }
  }

  /** Incremental IVFADC index ingest ([[IvfPq.appendToIndex]]): the
    * q117/q125/q134 never-re-read-history ingest contract applied to the
    * ANN index family. Bootstrap generation 0 from the `old` split with a
    * fully RELATIONAL pinned quantizer (q131's clauses: coarse centroids
    * = 8 smallest-salted-md5 OLD embeddings, residual codebooks = the
    * per-subspace seed pick over OLD residuals, `iters = 0`), persist it
    * in the generational `cells/cell=<id>/src_batch=<b>/` layout, then
    * append the new batch encoded against the FROZEN quantizer — no
    * retrain, no history re-encode, dynamic overwrite of exactly the
    * batch's partitions (replay-idempotent). The declared result is the
    * index CONTENT read back through the persisted layout, so DuckDB
    * replays the whole ingest: the batch split, the old-only seed picks,
    * every vector's cell assignment and residual codes in batch-0
    * geometry, and the generation tag.
    */
  /** Shared q135/q136 pinned-quantizer replay (the relational batch-0
    * index): batch split, old-only coarse seeds, frozen-geometry
    * assignment + residuals, and the four per-subspace encode CTEs —
    * `withD2` additionally carries the EXACT unrounded d2 at the chosen
    * code (q126's trick, which q136's error aggregate needs). ONE
    * builder so the two oracles replay the same quantizer by
    * construction — a salt/tie-break/clamp fix cannot be applied to one
    * and not the other.
    */
  private def ivfIngestCtes(withD2: Boolean): String = {
    val subCtes = (0 until 4).map { s =>
      val lo = s * 16
      val d2 =
        s"""greatest(list_dot_product(t.sub, t.sub)
           |                 - 2 * list_dot_product(t.sub, s.bvec)
           |                 + list_dot_product(s.bvec, s.bvec), 0)""".stripMargin
      val d2Col = if (withD2) s",\n          $d2 AS d2" else ""
      val aCols = if (withD2) "vec_id, code, d2" else "vec_id, code"
      s"""sub$s AS (SELECT vec_id, res[${lo + 1}:${lo + 16}] AS sub FROM r),
         |sd$s AS (SELECT sub AS bvec, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM
         |          (SELECT t.vec_id, t.sub FROM sub$s t JOIN old o ON o.vec_id = t.vec_id
         |           ORDER BY md5('pq135$s|' || CAST(t.vec_id AS VARCHAR)), t.vec_id LIMIT 8)),
         |d$s AS (SELECT t.vec_id, s.code,
         |          round(sqrt($d2), 6) AS dist$d2Col
         |        FROM sub$s t CROSS JOIN sd$s s),
         |a$s AS (SELECT $aCols FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                       ORDER BY dist ASC, code ASC) AS rn FROM d$s)
         |        WHERE rn = 1)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |old AS (SELECT vec_id, emb FROM e
       |        WHERE substr(md5('ivfinc|' || CAST(vec_id AS VARCHAR)), 1, 2) < 'aa'),
       |cs AS (SELECT emb AS cvec, row_number() OVER (ORDER BY vec_id) - 1 AS cell FROM
       |        (SELECT vec_id, emb FROM old
       |         ORDER BY md5('ivfq135|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
       |ad AS (SELECT e.vec_id, c.cell,
       |         round(sqrt(greatest(list_dot_product(e.emb, e.emb)
       |                - 2 * list_dot_product(e.emb, c.cvec)
       |                + list_dot_product(c.cvec, c.cvec), 0.0)), 6) AS dist
       |       FROM e CROSS JOIN cs c),
       |asg AS (SELECT vec_id, cell FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                       ORDER BY dist ASC, cell ASC) AS rn FROM ad)
       |        WHERE rn = 1),
       |r AS (SELECT e.vec_id, a.cell,
       |        list_transform(generate_series(1, 64), i -> e.emb[i] - c.cvec[i]) AS res
       |      FROM e JOIN asg a USING (vec_id) JOIN cs c ON c.cell = a.cell),
       |${subCtes.mkString(",\n")}""".stripMargin
  }

  val q135IvfPqIngest: Declared = {
    val oracle =
      s"""${ivfIngestCtes(withD2 = false)}
         |SELECT e.vec_id,
         |       CAST(g.cell AS INTEGER) AS cell,
         |       CAST(a0.code AS INTEGER) AS code0, CAST(a1.code AS INTEGER) AS code1,
         |       CAST(a2.code AS INTEGER) AS code2, CAST(a3.code AS INTEGER) AS code3,
         |       CAST(CASE WHEN o.vec_id IS NOT NULL THEN 0 ELSE 1 END AS BIGINT) AS src_batch
         |FROM e JOIN asg g USING (vec_id)
         |       JOIN a0 USING (vec_id) JOIN a1 USING (vec_id)
         |       JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |       LEFT JOIN old o ON o.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    Declared.sql("q135_ivfpq_ingest", oracle) { (spark, dir) =>
      val emb    = t(spark, dir).embeddings
      val bucket = Sampling.hashBucket(col("vec_id"), "ivfinc")
      val old    = emb.where(bucket < "aa")
      val b1     = emb.where(bucket >= "aa")
      val cents =
        KMeans.initCentroids(old, "vec_id", "embedding", k = 8, salt = "ivfq135").map(_.vec)
      val res = IvfPq.residualKernelFrame(old, "vec_id", "embedding", cents)
      val cb  = Pq.train(res, "vec_id", "res", dims = 64, m = 4, k = 8, iters = 0, salt = "pq135")
      val idx = IvfPq.IvfPqIndex(cents, cb)
      // a fresh index dir per run: the query IS the ingest pipeline, so
      // each evaluation bootstraps gen 0 and appends gen 1 (q134 pattern)
      val ixDir = graft.core.Scratch.tempDir("graft_q135_ivfpq")
      IvfPq.writeIndexGen(
        idx, IvfPq.encodeForIndex(old, "vec_id", "embedding", idx), ixDir, srcBatch = 0L)
      IvfPq.appendToIndex(ixDir, b1, "vec_id", "embedding", srcBatch = 1L)
      spark.read
        .parquet(s"$ixDir/cells")
        .select(
          col("vec_id"),
          col("cell").cast("int").as("cell"),
          col("code0"), col("code1"), col("code2"), col("code3"),
          col("src_batch").cast("bigint").as("src_batch"))
        .orderBy("vec_id")
    }
  }

  /** Frozen-quantizer drift report ([[IvfPq.encodeForIndexWithError]]):
    * per-generation residual reconstruction error in the batch-0
    * geometry — q135's retrain-and-rebuild trigger made a declared query.
    * A batch whose distribution moved away from the bootstrap geometry
    * reconstructs worse; monitoring `mean_err` by `src_batch` is how an
    * operator decides when the frozen-quantizer trade has expired. Same
    * pinned relational quantizer as q135, so DuckDB replays the whole
    * signal: old-only seed picks, frozen-geometry assignment + codes (by
    * ROUNDED distance, the kernel contract), and the EXACT unrounded
    * error at the chosen codes aggregated per generation.
    */
  val q136IvfPqDrift: Declared = {
    val oracle =
      s"""${ivfIngestCtes(withD2 = true)},
         |v AS (SELECT r.vec_id,
         |        CASE WHEN o.vec_id IS NOT NULL THEN 0 ELSE 1 END AS src_batch,
         |        sqrt(a0.d2 + a1.d2 + a2.d2 + a3.d2) AS err
         |      FROM r JOIN a0 USING (vec_id) JOIN a1 USING (vec_id)
         |             JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |             LEFT JOIN old o ON o.vec_id = r.vec_id)
         |SELECT CAST(src_batch AS BIGINT) AS src_batch,
         |       CAST(count(*) AS BIGINT) AS n,
         |       round(avg(err), 6) AS mean_err,
         |       round(max(err), 6) AS max_err
         |FROM v GROUP BY src_batch ORDER BY src_batch""".stripMargin
    Declared.sql("q136_ivfpq_drift", oracle) { (spark, dir) =>
      val emb    = t(spark, dir).embeddings
      val bucket = Sampling.hashBucket(col("vec_id"), "ivfinc")
      val old    = emb.where(bucket < "aa")
      val cents =
        KMeans.initCentroids(old, "vec_id", "embedding", k = 8, salt = "ivfq135").map(_.vec)
      val res = IvfPq.residualKernelFrame(old, "vec_id", "embedding", cents)
      val cb  = Pq.train(res, "vec_id", "res", dims = 64, m = 4, k = 8, iters = 0, salt = "pq135")
      val idx = IvfPq.IvfPqIndex(cents, cb)
      IvfPq
        .encodeForIndexWithError(emb, "vec_id", "embedding", idx)
        .withColumn(
          "src_batch",
          when(Sampling.hashBucket(col("vec_id"), "ivfinc") < "aa", 0L).otherwise(1L))
        .groupBy("src_batch")
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("err")), 6).as("mean_err"),
          round(max(col("err")), 6).as("max_err"))
        .orderBy("src_batch")
    }
  }

  /** Multi-probe LSH near-dup pairs ([[AnnBuckets.candidatePairsMultiProbe]],
    * Lv et al. 2007): recall bought by probing the flip-neighbour buckets
    * at the smallest |margin| planes instead of by more tables — a probe
    * costs one extra join row where a table costs a whole index copy.
    * Pinned 4-bit/1-table/2-probe index so the WHOLE probe rule
    * hash-oracles via hyperplane literals: per-plane dots, sign-bit
    * bucket, the (|margin|, plane) flip ranking, xor-flipped probe
    * buckets, the probe×exact bucket join, symmetrization, and the
    * rounded-cosine threshold. Production entry: `AnnBuckets.approxTopK
    * (…, nProbes > 0)`; recall/cost on the clustered fixture in
    * BENCH_SF1.md, floors gated in ClusteredRecallSpec.
    */
  val q137MultiProbePairs: Declared = {
    val nBits = 4
    val dims  = 64
    val seed  = 42L
    def sqlLit(p: Array[Double]): String = p.mkString("[", ", ", "]")
    val ps = AnnBuckets.planes(nBits, dims, seed)
    val dotRows = ps.zipWithIndex
      .map { case (p, b) =>
        s"SELECT vec_id, ${1 << b} AS p, list_dot_product(emb, ${sqlLit(p)}) AS d FROM n"
      }
      .mkString("\n UNION ALL\n")
    val oracle =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
         |d AS ($dotRows),
         |bkt AS (SELECT vec_id,
         |          CAST(sum(CASE WHEN d > 0 THEN p ELSE 0 END) AS INTEGER) AS bucket
         |        FROM d GROUP BY vec_id),
         |fl AS (SELECT vec_id, p FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                      ORDER BY abs(d) ASC, p ASC) AS rn FROM d)
         |       WHERE rn <= 2),
         |pr AS (SELECT vec_id, bucket FROM bkt
         |       UNION ALL
         |       SELECT f.vec_id, CAST(xor(b.bucket, f.p) AS INTEGER) AS bucket
         |       FROM fl f JOIN bkt b USING (vec_id)),
         |c AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |      FROM pr a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |sym AS (SELECT a_id, b_id FROM c UNION SELECT b_id AS a_id, a_id AS b_id FROM c),
         |p2 AS (SELECT s.a_id, s.b_id,
         |         round(list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm), 6) AS cos_sim
         |       FROM sym s JOIN n na ON na.vec_id = s.a_id JOIN n nb ON nb.vec_id = s.b_id)
         |SELECT a_id, b_id, cos_sim FROM p2
         |WHERE cos_sim >= 0.35
         |ORDER BY a_id, b_id""".stripMargin
    Declared.sql("q137_multiprobe_pairs", oracle) { (spark, dir) =>
      val e = t(spark, dir).embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb"))))
      AnnBuckets
        .candidatePairsMultiProbe(e, bits = nBits, dims = dims, nTables = 1, nProbes = 2,
          seed = seed)
        .where(col("cos_sim") >= 0.35)
        .orderBy("a_id", "b_id")
    }
  }

  /** Incremental LSH-index ingest ([[AnnBuckets.writeBucketsGen]] /
    * [[AnnBuckets.appendToBuckets]]): the q135 ingest story for the LSH
    * family — bootstrap generation 0, append generation 1 under the
    * FROZEN hyperplanes, read the result back through the persisted
    * `buckets/tb/src_batch` layout. Fully hash-oracled because the
    * whole pipeline is relational here: the hyperplanes are seeded
    * driver constants (q67's literal trick), the combined key is
    * `tb = tbl · 2^bits + bucket`, and the batch split is the salted-md5
    * hash both engines compute identically (q135's split clause). Unlike
    * IVFADC there is no quantizer to replay — planes never drift, which
    * is exactly why appends to this index are exact forever (the sizing
    * monitor is [[AnnBuckets.bucketOccupancy]]).
    */
  val q139LshIndexIngest: Declared = {
    val nBits   = 4
    val dims    = 64
    val seed    = 42L
    val nTables = 2
    def sqlLit(p: Array[Double]): String = p.mkString("[", ", ", "]")
    val tableSelects = (0 until nTables).map { tb =>
      val ps = AnnBuckets.planes(nBits, dims, seed + tb)
      val bits = ps.zipWithIndex
        .map { case (p, b) =>
          s"(CASE WHEN list_dot_product(emb, ${sqlLit(p)}) > 0 THEN ${1 << b} ELSE 0 END)"
        }
        .mkString("\n     + ")
      s"SELECT vec_id, CAST($tb * ${1 << nBits} + $bits AS INTEGER) AS tb FROM e"
    }
    val oracle =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (${tableSelects.mkString("\n UNION ALL\n")})
         |SELECT vec_id, tb,
         |       CAST(CASE WHEN substr(md5('lshinc|' || CAST(vec_id AS VARCHAR)), 1, 2) < 'aa'
         |            THEN 0 ELSE 1 END AS BIGINT) AS src_batch
         |FROM b
         |ORDER BY vec_id, tb""".stripMargin
    Declared.sql("q139_lsh_index_ingest", oracle) { (spark, dir) =>
      val emb    = t(spark, dir).embeddings
      val bucket = Sampling.hashBucket(col("vec_id"), "lshinc")
      val old    = emb.where(bucket < "aa")
      val b1     = emb.where(bucket >= "aa")
      // a fresh index dir per run: the query IS the ingest pipeline, so
      // each evaluation bootstraps gen 0 and appends gen 1 (q135 pattern)
      val ixDir = graft.core.Scratch.tempDir("graft_q139_lsh")
      AnnBuckets.writeBucketsGen(old, "vec_id", "embedding", ixDir,
        nBits = nBits, dims = dims, nTables = nTables, seed = seed, nProbes = 0, srcBatch = 0L)
      AnnBuckets.appendToBuckets(ixDir, b1, "vec_id", "embedding", srcBatch = 1L)
      spark.read
        .parquet(s"$ixDir/buckets")
        .select(
          col("vec_id"),
          col("tb").cast("int").as("tb"),
          col("src_batch").cast("bigint").as("src_batch"))
        .orderBy("vec_id", "tb")
    }
  }

  /** Incremental plain-IVF index ingest ([[IvfIndex.appendToIndex]]):
    * the q135 never-re-read-history contract applied to the LAST
    * persisted index family without it (VERDICT r14 "what's missing" #3).
    * Bootstrap generation 0 from the `old` split with a fully RELATIONAL
    * pinned quantizer (coarse centroids = 8 smallest-salted-md5 OLD
    * embeddings — [[KMeans.initCentroids]], no Lloyd), persist it in the
    * generational `cells/cell=<id>/src_batch=<b>/` layout
    * ([[IvfIndex.writeIndexGenWith]]), then append the new batch assigned
    * against the FROZEN centroid sidecar — dynamic overwrite of exactly
    * the batch's partitions. The declared result is the index CONTENT
    * read back through the persisted layout, so DuckDB replays the whole
    * ingest: the salted-md5 batch split, the old-only seed pick, and
    * every vector's UNROUNDED argmin (‖c‖² − Σ eᵢ·(2cᵢ) in index order —
    * the [[IvfIndex.nearestCells]] contract, exact-FP-replayable
    * because both engines sum IEEE doubles in the same order), and the
    * generation tag.
    */
  val q140IvfIndexIngest: Declared = {
    val oracle =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |old AS (SELECT vec_id, emb FROM e
         |        WHERE substr(md5('ivfinc|' || CAST(vec_id AS VARCHAR)), 1, 2) < 'aa'),
         |cs AS (SELECT emb AS cvec, row_number() OVER (ORDER BY vec_id) - 1 AS cell FROM
         |        (SELECT vec_id, emb FROM old
         |         ORDER BY md5('ivfx140|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
         |ad AS (SELECT e.vec_id, c.cell,
         |         list_dot_product(c.cvec, c.cvec)
         |           - list_dot_product(e.emb, list_transform(c.cvec, x -> x * 2)) AS dist
         |       FROM e CROSS JOIN cs c),
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                       ORDER BY dist ASC, cell ASC) AS rn FROM ad)
         |        WHERE rn = 1)
         |SELECT e.vec_id,
         |       CAST(g.cell AS INTEGER) AS cell,
         |       CAST(CASE WHEN o.vec_id IS NOT NULL THEN 0 ELSE 1 END AS BIGINT) AS src_batch
         |FROM e JOIN asg g USING (vec_id)
         |       LEFT JOIN old o ON o.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    Declared.sql("q140_ivf_index_ingest", oracle) { (spark, dir) =>
      val emb    = t(spark, dir).embeddings
      val bucket = Sampling.hashBucket(col("vec_id"), "ivfinc")
      val old    = emb.where(bucket < "aa")
      val b1     = emb.where(bucket >= "aa")
      val cents =
        KMeans.initCentroids(old, "vec_id", "embedding", k = 8, salt = "ivfx140").map(_.vec)
      val ixDir = graft.core.Scratch.tempDir("graft_q140_ivfgen")
      IvfIndex.writeIndexGenWith(cents, old, "vec_id", "embedding", ixDir, srcBatch = 0L)
      IvfIndex.appendToIndex(ixDir, b1, "vec_id", "embedding", srcBatch = 1L)
      spark.read
        .parquet(s"$ixDir/cells")
        .select(
          col("vec_id"),
          col("cell").cast("int").as("cell"),
          col("src_batch").cast("bigint").as("src_batch"))
        .orderBy("vec_id")
    }
  }

  val all: Seq[Declared] =
    Seq(q19SimilarityTopk, q20LabelCentroidSim, q41AnnTopk, q49EmbeddingNeardup, q50IvfTopk,
      q58QuantizeInt8, q67AnnBucketAssign, q74EmbeddingOutliers, q80SemDedup,
      q82CovarianceMatrix, q95RobustScale, q96PcaProject, q112HybridRerank, q114RrfFusion,
      q118HardNegatives, q120HardNegativesAnn, q122DomainClusters, q123ClusterMixture,
      q126PqEncode, q127PqAdcTopk, q128IvfPqTopk, q129TrainingTriplets,
      q130TrainingTripletsAnn, q131IvfPqScore, q132SemDedupAnn, q135IvfPqIngest,
      q136IvfPqDrift, q137MultiProbePairs, q139LshIndexIngest, q140IvfIndexIngest)
}
