package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.Tables
import Shared._

/** §2C corpus curation: [[Curation]] (sampling, packing, splits,
  * decontamination, shards and the composite pipelines).
  */
object CurationQueries {
  /** Shared by `decontaminate` and `decontaminate_bloom` — the bloom
    * variant's confirm join makes its result identical to the exact
    * screen, so one oracle serves both.
    */
  private def decontaminateSql: String =
    s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
       |sh AS (SELECT doc_id, unnest(${TextFunctions.shinglesSql("tokens", 4)}) AS s FROM toks),
       |ex AS (SELECT DISTINCT doc_id,
       |    cast('0x' || substr(md5(s), 1, 12) as bigint) AS gk FROM sh),
       |bench AS (SELECT DISTINCT gk FROM ex
       |  WHERE doc_id % 10 = 7 AND doc_id < 1000)
       |SELECT e.doc_id, count(*) AS n_hits
       |FROM ex e JOIN bench b ON e.gk = b.gk
       |WHERE NOT (e.doc_id % 10 = 7 AND e.doc_id < 1000) GROUP BY 1""".stripMargin

  /** A decontamination query over the documents split into train and
    * the benchmark: a fixture that is genuinely fixed-cardinality (≤100
    * docs at ANY scale factor) — the contract under which
    * decontaminate's compile-time broadcast hint of the gram set is
    * legitimate.
    */
  private def benchmarkSplit(op: (DataFrame, DataFrame) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val docs = Tables.documents(s, d)
    val isBench = col("doc_id") % 10 === 7 && col("doc_id") < 1000
    op(docs.filter(!isBench), docs.filter(isBench))
  }

  val all: Seq[Registered] = Seq(
    Registered("corpus_quota_sample", (s, d) =>
        Curation.quotaSample(Tables.documents(s, d), "doc_id", "source", 10),
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ph("concat(source, '|', doc_id)")}, doc_id) AS rnk
         |  FROM documents) WHERE rnk <= 10""".stripMargin),
    // XLM-style α=0.5 temperature mixture draw over source char mass (C70)
    Registered("temperature_sample", (s, d) =>
        Curation.temperatureSample(Tables.documents(s, d), "doc_id", "source",
          "n_chars", 100),
      // √mass weights on the round-6 decimal grid (exact total), quota
      // arithmetic as the identical double tree — α fixed at 0.5 because
      // sqrt is correctly rounded where pow is not
      s"""WITH sz AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS s
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source,
         |    CAST(round(sqrt(CAST(s AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w
         |  FROM sz),
         |tw AS (SELECT CAST(sum(CAST(w AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS tw
         |  FROM w),
         |q AS (SELECT source,
         |    CASE WHEN tw > 0 THEN CAST(floor(CAST(100 AS DOUBLE) *
         |      (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))) AS INTEGER)
         |    ELSE 0 END AS quota
         |  FROM w CROSS JOIN tw),
         |r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ph("concat(source, '|', doc_id)")}, doc_id) AS rnk
         |  FROM documents)
         |SELECT doc_id, source FROM r JOIN q USING (source)
         |WHERE rnk <= quota""".stripMargin),
    Registered("pack_sequences", (s, d) =>
        Curation.packSequences(Tables.documents(s, d), "doc_id", "text", "source", 512),
      s"""SELECT doc_id, source, n_tokens,
         |  cast(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS bigint) AS start_offset,
         |  cast(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS bigint) AS bin
         |FROM (SELECT doc_id, source, cast(len($tok) AS bigint) AS n_tokens FROM documents)""".stripMargin),
    Registered("pack_aligned", (s, d) =>
        Curation.packSequencesAligned(Tables.documents(s, d), "doc_id", "text", "source", 512),
      // next-fit is a sequential recurrence — the oracle replays it as a
      // recursive CTE advancing every stratum one doc per level
      s"""WITH RECURSIVE sized AS (
         |  SELECT doc_id, cast(source AS varchar) AS stratum,
         |    cast(len($tok) AS bigint) AS n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |pack AS (
         |  SELECT doc_id, stratum, n_tokens, rn,
         |    cast(0 AS bigint) AS bin, n_tokens AS used
         |  FROM sized WHERE rn = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.stratum, d.n_tokens, d.rn,
         |    CASE WHEN p.used + d.n_tokens <= 512 THEN p.bin ELSE p.bin + 1 END,
         |    CASE WHEN p.used + d.n_tokens <= 512 THEN p.used + d.n_tokens ELSE d.n_tokens END
         |  FROM pack p JOIN sized d ON d.stratum = p.stratum AND d.rn = p.rn + 1)
         |SELECT doc_id, stratum, n_tokens, bin FROM pack""".stripMargin),
    Registered("decontaminate",
      benchmarkSplit((train, bench) => Curation.decontaminate(train, bench, "doc_id", "text")),
      decontaminateSql),
    // bloom-prescreened decontamination: result identical to the exact
    // screen (fp's die in the confirm join) -> same oracle SQL
    Registered("decontaminate_bloom",
      benchmarkSplit((train, bench) => Curation.decontaminateBloom(train, bench, "doc_id", "text")),
      // the bloom prescreen is exact after its confirm join — same oracle
      decontaminateSql),
    Registered("corpus_stats", (s, d) =>
        Curation.corpusStats(Tables.documents(s, d), "text", "source", "lang"),
      s"""SELECT source, lang,
         |  count(*) AS n_docs,
         |  cast(sum(length(text)) AS bigint) AS n_chars,
         |  cast(sum(len($tok)) AS bigint) AS n_tokens,
         |  count(DISTINCT md5(text)) AS n_unique,
         |  1.0 - cast(count(DISTINCT md5(text)) AS double) / count(*) AS dup_rate
         |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin),
    Registered("curation_pipeline", (s, d) =>
        Curation.curationPipeline(Tables.documents(s, d), "doc_id", "text", "source"),
      s"""WITH t0 AS (SELECT doc_id, text, source, $tok AS t FROM documents),
         |good AS (SELECT doc_id, text, source FROM t0 WHERE
         |  $qualityPointsSql / 10.0 >= 0.9),
         |fp AS (SELECT md5(text) AS f, min(doc_id) AS sid FROM good GROUP BY 1),
         |kept AS (SELECT d.doc_id, d.text, d.source FROM good d JOIN fp ON d.doc_id = fp.sid),
         |toks AS (SELECT doc_id, $tok AS tokens FROM kept),
         |$minhashCandCtes,
         |pairs AS (SELECT doc_a, doc_b,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est_jaccard
         |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
         |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE est_jaccard >= 0.5),
         |surv AS (SELECT k.doc_id, k.source FROM kept k
         |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = k.doc_id))
         |SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ph("concat(source, '|', doc_id)")}, doc_id) AS rnk
         |  FROM surv) WHERE rnk <= 10""".stripMargin),
    Registered("corpus_split", (s, d) =>
        Curation.splitAssign(Tables.documents(s, d), "doc_id"),
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 10 THEN 'test'
         |       WHEN bucket < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id,
         |    ${ph("concat('split|', cast(doc_id AS varchar))")} % 1000 AS bucket
         |  FROM documents)""".stripMargin),
    // cross-split 4-gram leakage: held-out docs sharing content with
    // train — the audit the id-bucket split can't prevent (C71)
    Registered("split_leakage", (s, d) =>
        Curation.splitLeakage(Tables.documents(s, d), "doc_id", "text",
          valPermille = 100, testPermille = 100),
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |sh AS (SELECT doc_id,
         |    unnest(${TextFunctions.shinglesSql("tokens", 4)}) AS s FROM toks),
         |ex AS (SELECT DISTINCT doc_id,
         |    cast('0x' || substr(md5(s), 1, 12) as bigint) AS gk FROM sh),
         |sp AS (SELECT doc_id,
         |    CASE WHEN b < 100 THEN 'test'
         |         WHEN b < 200 THEN 'val' ELSE 'train' END AS split
         |  FROM (SELECT doc_id,
         |      ${ph("concat('split|', cast(doc_id AS varchar))")} % 1000 AS b
         |    FROM documents)),
         |tg AS (SELECT DISTINCT e.gk FROM ex e
         |  JOIN sp ON sp.doc_id = e.doc_id WHERE sp.split = 'train')
         |SELECT e.doc_id, sp.split, count(*) AS shared_grams
         |FROM ex e JOIN sp ON sp.doc_id = e.doc_id JOIN tg ON tg.gk = e.gk
         |WHERE sp.split <> 'train'
         |GROUP BY 1, 2""".stripMargin),
    // cluster-balanced sampling: semantic diversity via k-means strata
    // + the deterministic md5-order quota draw (TopKPerKey-planned) —
    // the composition that keeps a subsample from collapsing onto the
    // corpus's dominant semantic mode
    Registered("cluster_sample", (s, d) =>
        Curation.quotaSample(
          Similarity.kmeans(Tables.embeddings(s, d), "vec_id", "embedding"),
          "vec_id", "cluster_id", 25),
      s"""${Similarity.kmeansCtePrefix()},
         |ranked AS (
         |  SELECT vec_id, cid AS cluster_id,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY ${ph("concat(cid, '|', vec_id)")}, vec_id) AS rnk
         |  FROM afinal)
         |SELECT vec_id, cluster_id FROM ranked WHERE rnk <= 25""".stripMargin),
    Registered("vocab_build", (s, d) =>
        Curation.vocabBuild(Tables.documents(s, d), "text", 500),
      s"""SELECT token, cnt,
         |  cast(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS int) AS token_id
         |FROM (SELECT word AS token, count(*) AS cnt
         |  FROM (SELECT unnest($tok) AS word FROM documents)
         |  GROUP BY word ORDER BY cnt DESC, token LIMIT 500)""".stripMargin),
    Registered("heavy_hitters", (s, d) =>
        Curation.heavyHittersCms(Tables.documents(s, d), "text"),
      s"""WITH toksr AS (SELECT unnest($tok) AS token FROM documents),
         |cells AS (
         |  SELECT r, cast('0x' || substr(md5(concat(r, ':', token)), 1, 15) AS bigint) % 1024 AS cell,
         |    count(*) AS c
         |  FROM toksr, range(0, 4) t(r) GROUP BY 1, 2),
         |top AS (SELECT token, count(*) AS cnt FROM toksr
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 20),
         |probes AS (
         |  SELECT token, cnt, r,
         |    cast('0x' || substr(md5(concat(r, ':', token)), 1, 15) AS bigint) % 1024 AS cell
         |  FROM top, range(0, 4) t(r))
         |SELECT token, cnt, min(c) AS cms_est
         |FROM probes JOIN cells USING (r, cell) GROUP BY token, cnt""".stripMargin),
    Registered("corpus_shuffle", (s, d) =>
        Curation.shuffleOrder(Tables.documents(s, d), "doc_id"),
      s"""SELECT doc_id,
         |  row_number() OVER (
         |    ORDER BY ${ph("concat('shuffle|', cast(doc_id AS varchar))")}, doc_id) AS pos
         |FROM documents""".stripMargin),
    Registered("source_overlap", (s, d) =>
        Curation.sourceOverlap(Tables.documents(s, d), "text", "source"),
      s"""WITH ex AS (SELECT DISTINCT source,
         |    cast('0x' || substr(md5(s), 1, 12) as bigint) AS gk
         |  FROM (SELECT source, unnest(${TextFunctions.shinglesSql("tokens", 3)}) AS s
         |        FROM (SELECT source, $tok AS tokens FROM documents))),
         |inter AS (SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared_grams
         |  FROM ex x JOIN ex y ON x.gk = y.gk AND x.source < y.source
         |  GROUP BY 1, 2),
         |sizes AS (SELECT source, count(*) AS n_grams FROM ex GROUP BY 1)
         |SELECT src_a, src_b, shared_grams,
         |  cast(shared_grams AS double) / (sa.n_grams + sb.n_grams - shared_grams) AS gram_jaccard
         |FROM inter JOIN sizes sa ON sa.source = src_a JOIN sizes sb ON sb.source = src_b""".stripMargin),
    Registered("corpus_token_budget", (s, d) =>
        Curation.tokenBudgetSample(Tables.documents(s, d), "doc_id", "text",
          "source", 500L),
      s"""SELECT doc_id, source, n_tokens FROM (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS tokens_before
         |  FROM (SELECT doc_id, source, cast(len($tok) AS bigint) AS n_tokens,
         |          ${ph("concat(source, '|', doc_id)")} AS h
         |        FROM documents))
         |WHERE tokens_before < 500""".stripMargin),
    // sliding-window context-length chunking, 64-token windows with
    // stride 48 (16-token overlap); chunk content dumped as md5 (C79)
    Registered("doc_chunks", (s, d) =>
        Curation.docChunks(Tables.documents(s, d), "doc_id", "text")
          .select(col("doc_id"), col("chunk_id"), col("start_tok"),
            col("n_tokens"), md5(col("chunk_text")).as("chunk_fp")),
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |nch AS (SELECT doc_id, t,
         |    CASE WHEN len(t) = 0 THEN 0
         |         ELSE 1 + (greatest(len(t) - 64, 0) + 47) // 48 END AS nc
         |  FROM toks),
         |ex AS (SELECT doc_id, unnest(CASE WHEN nc > 0
         |      THEN generate_series(0, nc - 1) ELSE []::BIGINT[] END) AS i, t
         |  FROM nch)
         |SELECT doc_id, cast(i AS int) AS chunk_id, cast(i * 48 AS int) AS start_tok,
         |  cast(len(ct) AS int) AS n_tokens,
         |  md5(array_to_string(ct, ' ')) AS chunk_fp
         |FROM (SELECT doc_id, i, list_slice(t, i * 48 + 1, i * 48 + 64) AS ct
         |      FROM ex)""".stripMargin),
    // deterministic token-budgeted training-shard layout: per-shard
    // manifest (docs, tokens, xor content digest) over the md5-order
    // global assignment (C80)
    Registered("training_shards", (s, d) =>
        Curation.shardManifest(
          Curation.trainingShards(Tables.documents(s, d), "doc_id", "text", 2000L),
          "doc_id"),
      s"""WITH base AS (SELECT doc_id,
         |    cast(len($tok) AS bigint) AS n,
         |    ${ph("concat('shuffle|', cast(doc_id AS varchar))")} AS h
         |  FROM documents),
         |cum AS (SELECT doc_id, n,
         |    cast(sum(n) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS bigint) AS before
         |  FROM base)
         |SELECT shard_id,
         |  cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n) AS bigint) AS n_tokens,
         |  bit_xor(${ph("concat('doc|', cast(doc_id AS varchar))")}) AS digest
         |FROM (SELECT doc_id, n, before // 2000 AS shard_id FROM cum)
         |GROUP BY shard_id""".stripMargin),
    // shard-manifest diff across two corpus builds (full vs a
    // deterministic removal slice) — the retrain-only-changed-shards
    // audit; removal shifts every later global offset, so the diff
    // shows the boundary blast radius honestly (C84)
    Registered("shard_diff", (s, d) => {
        val docs = Tables.documents(s, d)
        def mani(df: DataFrame) = Curation.shardManifest(
          Curation.trainingShards(df, "doc_id", "text", 2000L), "doc_id")
        Curation.shardDiff(mani(docs),
          mani(docs.filter(col("doc_id") % 17 =!= 3)))
      },
      {
        def maniCtes(p: String, where: String) =
          s"""${p}b AS (SELECT doc_id, cast(len($tok) AS bigint) AS n,
             |    ${ph("concat('shuffle|', cast(doc_id AS varchar))")} AS h
             |  FROM documents$where),
             |${p}c AS (SELECT doc_id, n,
             |    cast(sum(n) OVER (ORDER BY h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS bigint) AS before
             |  FROM ${p}b),
             |${p}m AS (SELECT before // 2000 AS shard_id,
             |    cast(count(*) AS bigint) AS n_docs,
             |    cast(sum(n) AS bigint) AS n_tokens,
             |    bit_xor(${ph("concat('doc|', cast(doc_id AS varchar))")}) AS digest
             |  FROM ${p}c GROUP BY 1)""".stripMargin
        s"""WITH ${maniCtes("so", "")},
           |${maniCtes("sn", " WHERE doc_id % 17 <> 3")}
           |SELECT coalesce(som.shard_id, snm.shard_id) AS shard_id,
           |  CASE WHEN som.shard_id IS NULL THEN 'added'
           |       WHEN snm.shard_id IS NULL THEN 'removed'
           |       WHEN som.digest = snm.digest AND som.n_docs = snm.n_docs
           |            AND som.n_tokens = snm.n_tokens THEN 'unchanged'
           |       ELSE 'changed' END AS status,
           |  coalesce(som.n_docs, 0) AS old_docs,
           |  coalesce(snm.n_docs, 0) AS new_docs,
           |  coalesce(som.n_tokens, 0) AS old_tokens,
           |  coalesce(snm.n_tokens, 0) AS new_tokens
           |FROM som FULL OUTER JOIN snm ON som.shard_id = snm.shard_id""".stripMargin
      }),
    // host-keyed split (C96): all docs of one host share a split — the
    // leakage guard a per-doc id bucket cannot give (C71 measures the
    // leak; this prevents the host-local share of it)
    Registered("host_split", (s, d) => Curation.splitAssignByKey(
        Tables.documents(s, d), "doc_id",
        concat(col("source"), lit(".example.com"))),
      s"""SELECT doc_id, source || '.example.com' AS split_key, bucket,
         |  CASE WHEN bucket < 100 THEN 'test'
         |       WHEN bucket < 200 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id, source,
         |    ${ph("concat('ksplit|', source || '.example.com')")} % 1000 AS bucket
         |  FROM documents)""".stripMargin),
    // the full stage-0 composite in ONE declarative plan: HTML extract
    // → token gate → exact dedup → shard manifest. Pages wrapped under
    // a CONSTANT title so replicated texts are exact page duplicates
    // and the dedup stage is live at sf >= 0.1 (C82)
    Registered("crawl_pipeline", (s, d) =>
        Curation.crawlPipeline(wrapped(s, d, Html.wrapHtml(lit(0), col("text")), "html"),
          "doc_id", "html"),
      s"""${Html.htmlExtractCtes(idExpr = "0")},
         |gated AS (SELECT doc_id, clean_text FROM extracted
         |  WHERE len(${TextFunctions.tokensSql("clean_text")}) BETWEEN 5 AND 10000),
         |csurv AS (SELECT doc_id, clean_text FROM (
         |  SELECT doc_id, clean_text,
         |    row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS rn
         |  FROM gated) WHERE rn = 1),
         |cbase AS (SELECT doc_id,
         |    cast(len(${TextFunctions.tokensSql("clean_text")}) AS bigint) AS n,
         |    ${ph("concat('shuffle|', cast(doc_id AS varchar))")} AS h FROM csurv),
         |ccum AS (SELECT doc_id, n,
         |    cast(sum(n) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS bigint) AS before
         |  FROM cbase)
         |SELECT shard_id,
         |  cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n) AS bigint) AS n_tokens,
         |  bit_xor(${ph("concat('doc|', cast(doc_id AS varchar))")}) AS digest
         |FROM (SELECT doc_id, n, before // 2000 AS shard_id FROM ccum)
         |GROUP BY shard_id""".stripMargin),
    Registered("mixture_sample", (s, d) =>
        Curation.mixtureSample(Tables.documents(s, d), "doc_id", "lang",
            Map("en" -> 0.3, "zh" -> 1.0), defaultRate = 0.7)
          .select(col("doc_id"), col("lang")),
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${ph("concat(lang, '|', cast(doc_id AS varchar))")} % 1000000 <
         |  CASE WHEN lang = 'en' THEN 300000
         |       WHEN lang = 'zh' THEN 1000000
         |       ELSE 700000 END""".stripMargin),
    // snapshot halves stand in for two curation iterations (the same
    // synthetic-split convention as dedup_incremental)
    Registered("corpus_diff", (s, d) => {
        val docs = Tables.documents(s, d)
        Curation.corpusDiff(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
      },
      """WITH olds AS (SELECT md5(text) AS fingerprint, min(doc_id) AS old_id
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |news AS (SELECT md5(text) AS fingerprint, min(doc_id) AS new_id
        |  FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1)
        |SELECT coalesce(olds.fingerprint, news.fingerprint) AS fingerprint,
        |  CASE WHEN old_id IS NULL THEN 'added'
        |       WHEN new_id IS NULL THEN 'removed'
        |       ELSE 'kept' END AS status,
        |  old_id, new_id
        |FROM olds FULL OUTER JOIN news ON olds.fingerprint = news.fingerprint""".stripMargin),
    // the quality × diversity capstone composition: per-semantic-cluster
    // quota of the highest-quality documents — quality scorer ⋈ k-means
    // assignment (map-side codebook), per-cluster cut through the
    // custom TopKPerKey operator (shuffle O(clusters × quota))
    Registered("diverse_quality_sample", (s, d) => {
        val q = TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")
          .select(col("doc_id"), col("quality_score"))
        val clusters = Similarity.kmeans(Tables.embeddings(s, d), "vec_id", "embedding")
        val joined = q.join(clusters, col("doc_id") === col("vec_id"))
          .select(col("cluster_id"), col("doc_id"), col("quality_score"),
            (-col("quality_score")).as("__negq"))
        graft.plans.TopK.perKey(joined, Seq("cluster_id"),
            Seq("__negq", "doc_id"), 25, descending = false)
          .select(col("cluster_id"), col("doc_id"), col("quality_score"))
      },
      s"""${Similarity.kmeansCtePrefix()},
         |q AS (SELECT doc_id,
         |  $qualityPointsSql / cast(10.0 AS double) AS quality_score
         |  FROM (SELECT doc_id, $tok AS t FROM documents)),
         |j AS (SELECT a.cid AS cluster_id, q.doc_id, q.quality_score
         |  FROM q JOIN afinal a ON q.doc_id = a.vec_id)
         |SELECT cluster_id, doc_id, quality_score FROM (
         |  SELECT cluster_id, doc_id, quality_score,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_score DESC, doc_id) AS rnk
         |  FROM j) WHERE rnk <= 25""".stripMargin),
  )
}
