package graft.registry

import org.apache.spark.sql.functions._
import graft.SparkEntry.OracleStage
import graft.functions.VectorFunctions
import graft.operators._
import graft.sources.Tables

/** §2C embedding operators: [[Similarity]] (LSH pairs, kNN, PQ,
  * k-means, projections) and the semantic clusters over its pairs.
  */
object SimilarityQueries {
  private def cosSql(a: String, b: String): String = VectorFunctions.cosineSql(a, b)

  /** DuckDB CTE fragment reproducing the deterministic LSH bucketing of
    * graft.operators.Similarity (same md5-derived planes as SQL literals
    * — Double.toString round-trips exactly — same sign-bit bucket sums;
    * only the SIGN of each projection matters, and the dot product is
    * the same left-to-right double fold on both engines).
    */
  private def lshBucketsCte(nPlanes: Int = 5, nTables: Int = 8, dims: Int = 64): String = {
    val rows = for (t <- 0 until nTables; p <- 0 until nPlanes) yield {
      val vec = Similarity.planeVec(t * nPlanes + p, dims)
        .map(java.lang.Double.toString).mkString("[", ",", "]")
      s"($t, $p, $vec)"
    }
    s"""planes(tbl, p, pv) AS (VALUES ${rows.mkString(", ")}),
       |proj AS (SELECT e.vec_id, pl.tbl, pl.p,
       |    CASE WHEN ${VectorFunctions.dotSql("e.embedding", "pl.pv")} >= 0
       |         THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END AS bit
       |  FROM embeddings e CROSS JOIN planes pl),
       |buckets AS (SELECT vec_id, tbl, cast(sum(bit) AS bigint) AS bucket
       |  FROM proj GROUP BY 1, 2)""".stripMargin
  }

  /** Twin of [[Similarity.embeddingPairsAuto]]'s bucketing: the plane
    * VECTORS are baked once at the fixed [[Similarity.AutoPlaneStride]]
    * layout (table t, position p → planeVec(t·16+p)); the plane COUNT
    * is selected at query time by an integer CASE ladder over
    * count(*) — the exact thresholds [[Similarity.autoPlanes]] walks,
    * so both engines activate the same planes at every scale factor
    * (float log2 could disagree at exact powers of two; integer
    * comparisons cannot). Built once (16 tables, 128-row target bucket,
    * 64 dims): it hashes 16,384 plane coordinates for three oracles.
    */
  private val lshBucketsAutoCte: String = {
    val (nTables, targetBucket, dims) = (16, 128, 64)
    val stride = Similarity.AutoPlaneStride
    val rows = for (t <- 0 until nTables; p <- 0 until stride) yield {
      val vec = Similarity.planeVec(t * stride + p, dims)
        .map(java.lang.Double.toString).mkString("[", ",", "]")
      s"($t, $p, $vec)"
    }
    val cases = (5 until stride)
      .map(k => s"WHEN cnt <= ${targetBucket.toLong * (1L << k)} THEN $k")
      .mkString(" ")
    s"""planes(tbl, p, pv) AS (VALUES ${rows.mkString(", ")}),
       |npl AS (SELECT CASE $cases ELSE $stride END AS np
       |  FROM (SELECT count(*) AS cnt FROM embeddings)),
       |proj AS (SELECT e.vec_id, pl.tbl, pl.p,
       |    CASE WHEN ${VectorFunctions.dotSql("e.embedding", "pl.pv")} >= 0
       |         THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END AS bit
       |  FROM embeddings e CROSS JOIN planes pl
       |  WHERE pl.p < (SELECT np FROM npl)),
       |buckets AS (SELECT vec_id, tbl, cast(sum(bit) AS bigint) AS bucket
       |  FROM proj GROUP BY 1, 2)""".stripMargin
  }

  /** One rung of the nearest-neighbour ladder: `Similarity.knn` over the
    * first 10 ids (top 5) with its [[AnnSpec]], and as its oracle
    * `Similarity.knnOracleSql` of the same spec.
    */
  private def ann(name: String, spec: AnnSpec): Registered =
    Registered(name,
      (s, d) => Similarity.knn(Tables.embeddings(s, d), "vec_id", "embedding", 10, 5, spec),
      Similarity.knnOracleSql(spec, 10, 5))

  /** The nearest-neighbour ladder, one [[AnnSpec]] per name. */
  private val annLadder: Seq[Registered] = {
    import AnnSpec.{Code, Coarse}
    Seq(
      // exact cosine — the correctness baseline (C6)
      ann("knn_bruteforce", AnnSpec()),
      // IVF over the `id % 50` subsample cells (C7b)
      ann("knn_ivf", AnnSpec(Coarse.Mod())),
      // fixed-k TRAINED coarse quantizer (C74): centroid count no longer
      // scales with the corpus — the 100 TB IVF configuration
      ann("knn_ivf_trained", AnnSpec(Coarse.Trained())),
      // exhaustive ADC over PQ codes with broadcast distance tables (C56)
      ann("knn_pq", AnnSpec(code = Code.Pq())),
      // PQ with Lloyd-trained subspace codebooks — the production
      // configuration; sampled codebooks are only the init (C103)
      ann("knn_pq_trained", AnnSpec(code = Code.Pq(trainIters = 2))),
      // IVF cells restrict the candidates, PQ codes score them (C59)
      ann("knn_ivfpq", AnnSpec(Coarse.Mod(), Code.Pq())),
      // full IVFADC: residual re-encoding per cell (C72)
      ann("knn_ivfpq_residual", AnnSpec(Coarse.Mod(), Code.ResidualPq())),
      // FAISS-default IVFADC: residuals against TRAINED cells (C75)
      ann("knn_ivfpq_residual_trained", AnnSpec(Coarse.Trained(), Code.ResidualPq())),
      // exact re-rank of the ADC shortlist — the FAISS refine stage (C77)
      ann("knn_ivfpq_refine", AnnSpec(Coarse.Mod(), Code.ResidualPq(), refine = Some(20))))
  }

  val all: Seq[Registered] = annLadder ++ Seq(
    // corpus-sized plane count (fixed-stride layout — oracle twin
    // selects the same count via the integer CASE ladder): 5 planes at
    // driver SFs, 8 at sf1's 20k vectors, bounded buckets forever
    Registered("dedup_embedding", (s, d) =>
        Similarity.embeddingPairsAuto(Tables.embeddings(s, d), "vec_id", "embedding", 0.3),
      s"""WITH $lshBucketsAutoCte,
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT c.vec_a, c.vec_b,
         |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cosine
         |FROM cand c JOIN embeddings x ON x.vec_id = c.vec_a
         |  JOIN embeddings y ON y.vec_id = c.vec_b
         |WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.3""".stripMargin),
    Registered("knn_lsh", (s, d) =>
        Similarity.knnLsh(Tables.embeddings(s, d), "vec_id", "embedding", 10, 5),
      s"""WITH ${lshBucketsCte()},
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |scored AS (SELECT query_id, neighbor_id,
         |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS score
         |  FROM cand JOIN embeddings x ON x.vec_id = query_id
         |    JOIN embeddings y ON y.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, score, rnk FROM (
         |  SELECT query_id, neighbor_id, score,
         |    cast(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS integer) AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin),
    // PQ encoding (Jégou et al. 2011): corpus → m-byte codes (C55);
    // portable projection: codes array → CSV string, decimal → double
    // (driver compare is pandas-based — list/DECIMAL output columns
    // hash-mismatch or fail to sort; library API keeps the array form)
    Registered("embedding_pq", (s, d) =>
        Similarity.pqEncode(Tables.embeddings(s, d), "vec_id", "embedding")
          .select(col("vec_id"),
            concat_ws(",", col("codes").cast("array<string>")).as("codes"),
            col("recon_err").cast("double").as("recon_err")),
      Similarity.pqEncodeOracleSql()),
    // embedding-space eval decontamination (C61) — benchmark fixture is
    // fixed-cardinality at any SF, the broadcast contract
    Registered("decontaminate_semantic", (s, d) => {
        val emb = Tables.embeddings(s, d)
        val isEval = col("vec_id") % 50 === 7
        Similarity.decontaminateSemantic(emb.filter(!isEval), emb.filter(isEval),
          "vec_id", "embedding")
      },
      s"""WITH ev AS (SELECT vec_id AS eval_id, embedding AS e
         |  FROM embeddings WHERE vec_id % 50 = 7),
         |tr AS (SELECT vec_id, embedding AS t
         |  FROM embeddings WHERE vec_id % 50 <> 7),
         |scored AS (SELECT tr.vec_id, ev.eval_id,
         |    round(${cosSql("tr.t", "ev.e")}, 6) AS c
         |  FROM tr CROSS JOIN ev),
         |m AS (SELECT vec_id,
         |    max(struct_pack(c := c, nid := -eval_id)) AS m
         |  FROM scored GROUP BY 1)
         |SELECT vec_id, m.c AS max_eval_cos, -m.nid AS nearest_eval_id,
         |  m.c >= 0.9 AS contaminated
         |FROM m""".stripMargin),
    // embedding hygiene: per-vector L2 norm z-scored against the corpus
    Registered("embedding_outliers", (s, d) =>
        Similarity.embeddingOutliers(Tables.embeddings(s, d), "vec_id", "embedding"),
      s"""WITH normed AS (SELECT vec_id,
         |    ${VectorFunctions.normSql("list_transform(embedding, x -> x::DOUBLE)")} AS l2_norm
         |  FROM embeddings),
         |stats AS (SELECT
         |    cast(sum(cast(l2_norm AS DECIMAL(28,9))) AS double) / count(*) AS m,
         |    cast(sum(cast(l2_norm * l2_norm AS DECIMAL(28,9))) AS double) / count(*) AS msq
         |  FROM normed),
         |s2 AS (SELECT m, sqrt(greatest(msq - m * m, 0.0e0)) AS sd FROM stats)
         |SELECT vec_id, l2_norm,
         |  CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (l2_norm - m) / sd END AS z_score,
         |  abs(CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (l2_norm - m) / sd END) > 2.0e0
         |    AS is_outlier
         |FROM normed CROSS JOIN s2""".stripMargin),
    Registered("embedding_kmeans", (s, d) =>
        Similarity.kmeans(Tables.embeddings(s, d), "vec_id", "embedding"),
      Similarity.kmeansOracleSql()),
    // prototypicality (cos to own k-means centroid) + in-cluster rank
    // — the Sorscher et al. data-pruning metric (C69)
    Registered("prototype_scores", (s, d) =>
        Similarity.prototypeScores(Tables.embeddings(s, d), "vec_id", "embedding"),
      Similarity.prototypeScoresOracleSql()),
    Registered("knn_join", (s, d) =>
        Similarity.knnJoin(Tables.embeddings(s, d), "vec_id", "embedding", 3),
      s"""WITH ${lshBucketsCte()},
         |cand AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id <> b.vec_id),
         |scored AS (SELECT c.vec_id, c.neighbor_id,
         |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS score
         |  FROM cand c JOIN embeddings x ON x.vec_id = c.vec_id
         |  JOIN embeddings y ON y.vec_id = c.neighbor_id)
         |SELECT vec_id, neighbor_id, score FROM (
         |  SELECT vec_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 3""".stripMargin),
    Registered("embedding_project", (s, d) =>
        Similarity.randomProject(Tables.embeddings(s, d), "vec_id", "embedding"),
      Similarity.randomProjectOracleSql()),
    Registered("embedding_quantize", (s, d) =>
        Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding"),
      Similarity.quantizeInt8OracleSql()),
    // semantic dedup clusters: connected components over the
    // embedding-cosine near-dup graph — the same generic label-prop
    // engine as dedup_clusters, fed by LSH-bucketed cosine pairs
    Registered("semantic_clusters", (s, d) =>
        Graph.connectedComponents(
          Similarity.embeddingPairsAuto(Tables.embeddings(s, d), "vec_id", "embedding", 0.4)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
          .select(col("doc_id").as("vec_id"), col("cluster_id")),
      s"""WITH RECURSIVE $lshBucketsAutoCte,
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS (SELECT c.vec_a, c.vec_b
         |  FROM cand c JOIN embeddings x ON x.vec_id = c.vec_a
         |    JOIN embeddings y ON y.vec_id = c.vec_b
         |  WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.4),
         |bidir AS (SELECT vec_a AS a, vec_b AS b FROM pairs
         |  UNION SELECT vec_b, vec_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM bidir
         |  UNION SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a)
         |SELECT a AS vec_id, least(min(b), a) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,
      stages = Seq(
        OracleStage("sc_buckets", 0,
          s"""WITH $lshBucketsAutoCte
             |SELECT vec_id, tbl, bucket FROM buckets""".stripMargin),
        OracleStage("sc_cand", 8,
          // shard on the bucket key: both sides of a colliding pair
          // share (tbl, bucket), so per-shard DISTINCT is exact
          s"""SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             |FROM sc_buckets a JOIN sc_buckets b
             |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
             |WHERE a.bucket % {NSHARDS} = {SHARD}""".stripMargin),
        OracleStage("sc_pairs", 8,
          // global pair dedup (the same pair collides in many tables,
          // i.e. many buckets → many shards): shard by vec_a so every
          // copy of a pair lands in ONE shard and per-shard DISTINCT is
          // global; then the cosine verify
          s"""SELECT c.vec_a, c.vec_b
             |FROM (SELECT DISTINCT vec_a, vec_b FROM sc_cand
             |      WHERE vec_a % {NSHARDS} = {SHARD}) c
             |  JOIN embeddings x ON x.vec_id = c.vec_a
             |  JOIN embeddings y ON y.vec_id = c.vec_b
             |WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.4""".stripMargin),
        OracleStage("semantic_clusters", 0, "@cc sc_pairs"))),
    // SemDeDup: k-means cells confine the pairwise cosine, pairs at
    // ≥ minCos drop their higher id — semantic near-dup pruning
    Registered("semantic_dedup", (s, d) =>
        Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding"),
      Similarity.semanticDedupOracleSql(),
      stages = Seq(
        OracleStage("sd_assign", 0,
          Similarity.kmeansCtePrefix(8, 2) + "\nSELECT vec_id, cid FROM afinal"),
        OracleStage("sd_base", 0,
          """SELECT e.vec_id, e.embedding, a.cid
            |FROM embeddings e JOIN sd_assign a USING (vec_id)""".stripMargin),
        OracleStage("sd_drops", 8,
          // the quadratic within-cell stage: shard by the dropped id
          // (per-shard DISTINCT on b.vec_id is exact)
          s"""SELECT DISTINCT b.vec_id AS d
             |FROM sd_base a JOIN sd_base b
             |  ON a.cid = b.cid AND a.vec_id < b.vec_id
             |WHERE b.vec_id % {NSHARDS} = {SHARD}
             |  AND round(${VectorFunctions.cosineSql("a.embedding", "b.embedding")}, 6) >= 0.35""".stripMargin),
        OracleStage("semantic_dedup", 0,
          """SELECT vec_id, cid AS cluster_id FROM sd_base
            |WHERE vec_id NOT IN (SELECT d FROM sd_drops)""".stripMargin))),
  )
}
