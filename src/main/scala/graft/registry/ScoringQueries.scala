package graft.registry

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.Tables
import Shared._

/** §2C corpus-trained scores: [[Scoring]] (n-gram LMs, DSIR, Naive
  * Bayes, entropy and divergence). Every ln is rounded to 6 decimals
  * and DECIMAL-summed on both engines.
  */
object ScoringQueries {
  val all: Seq[Registered] = Seq(
    // CCNet-style bigram-LM perplexity screen: per-doc cross-entropy
    // under a corpus-trained LM, head/middle/tail terciles (C62)
    Registered("ngram_lm_perplexity", (s, d) =>
        Scoring.ngramLmPerplexity(Tables.documents(s, d), "doc_id", "text"),
      // log-based scores: every ln is rounded to 6 decimals and cast to
      // DECIMAL before summing (the 1-ulp JVM/DuckDB ln divergence is
      // absorbed by the round; decimal sums are exact and
      // order-independent — see operators/Scoring.scala)
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |dg AS (SELECT doc_id, gram, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${TextFunctions.shinglesSql("t", 2)}) AS gram
         |        FROM toks)
         |  GROUP BY 1, 2),
         |gc AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS c2 FROM dg GROUP BY 1),
         |pc AS (SELECT split_part(gram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
         |  FROM gc GROUP BY 1),
         |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |    CAST(sum(CAST(tf AS DECIMAL(10,0)) *
         |        CAST(round(ln(CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE)), 6)
         |          AS DECIMAL(18,6))) AS DOUBLE)
         |      / CAST(sum(tf) AS BIGINT) AS cross_entropy
         |  FROM dg JOIN gc USING (gram)
         |    JOIN pc ON pc.w1 = split_part(gram, ' ', 1)
         |  GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM sc)
         |SELECT doc_id, n_bigrams, cross_entropy,
         |  CASE WHEN (rn - 1) * 3 < n_docs THEN 'head'
         |       WHEN (rn - 1) * 3 < 2 * n_docs THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM (SELECT doc_id, n_bigrams, cross_entropy,
         |    row_number() OVER (ORDER BY cross_entropy, doc_id) AS rn FROM sc)
         |CROSS JOIN n""".stripMargin),
    // Stupid Backoff trigram scoring against a half-corpus reference
    // model — real backoff on the held-out half (C67)
    Registered("ngram_lm_backoff", (s, d) =>
        Scoring.ngramLmBackoff(Tables.documents(s, d), "doc_id", "text",
          col("doc_id") % 2 === 0),
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |train AS (SELECT t FROM toks WHERE doc_id % 2 = 0),
         |uni AS (SELECT w, count(*) AS c1
         |  FROM (SELECT unnest(t) AS w FROM train) GROUP BY 1),
         |bi AS (SELECT g, count(*) AS c2
         |  FROM (SELECT unnest(${TextFunctions.shinglesSql("t", 2)}) AS g FROM train)
         |  GROUP BY 1),
         |tri AS (SELECT g, count(*) AS c3
         |  FROM (SELECT unnest(${TextFunctions.shinglesSql("t", 3)}) AS g FROM train)
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
         |dt AS (SELECT doc_id, g.tri AS tri, g.p12 AS p12, g.s23 AS s23,
         |    g.w2 AS w2, g.w3 AS w3, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
         |      i -> {'tri': t[i] || ' ' || t[i+1] || ' ' || t[i+2],
         |            'p12': t[i] || ' ' || t[i+1],
         |            's23': t[i+1] || ' ' || t[i+2],
         |            'w2': t[i+1], 'w3': t[i+2]})) AS g
         |    FROM toks WHERE len(t) >= 3)
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |j AS (SELECT dt.doc_id, dt.tf, t3.c3, bp.c2 AS c2p, bs.c2 AS c2s,
         |    u2.c1 AS c1w2, u3.c1 AS c1w3, n
         |  FROM dt LEFT JOIN tri t3 ON t3.g = dt.tri
         |    LEFT JOIN bi bp ON bp.g = dt.p12
         |    LEFT JOIN bi bs ON bs.g = dt.s23
         |    LEFT JOIN uni u2 ON u2.w = dt.w2
         |    LEFT JOIN uni u3 ON u3.w = dt.w3
         |    CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
         |  CAST(sum(CAST(tf AS DECIMAL(10,0)) * CAST(round(
         |    CASE WHEN c3 IS NOT NULL
         |           THEN ln(CAST(c3 AS DOUBLE) / CAST(c2p AS DOUBLE))
         |         WHEN c2s IS NOT NULL
         |           THEN ln(0.4 * (CAST(c2s AS DOUBLE) / CAST(c1w2 AS DOUBLE)))
         |         WHEN c1w3 IS NOT NULL
         |           THEN ln(0.4 * 0.4 * (CAST(c1w3 AS DOUBLE) / CAST(n AS DOUBLE)))
         |         ELSE ln(0.4 * 0.4 * (1.0 / CAST(n AS DOUBLE))) END, 6)
         |    AS DECIMAL(18,6))) AS DOUBLE) / CAST(sum(tf) AS BIGINT)
         |    AS mean_logscore,
         |  CAST(sum(CASE WHEN c3 IS NOT NULL THEN tf ELSE 0 END) AS BIGINT) AS n_tri,
         |  CAST(sum(CASE WHEN c3 IS NULL AND c2s IS NOT NULL THEN tf ELSE 0 END)
         |    AS BIGINT) AS n_bi,
         |  CAST(sum(CASE WHEN c3 IS NULL AND c2s IS NULL AND c1w3 IS NOT NULL
         |    THEN tf ELSE 0 END) AS BIGINT) AS n_uni,
         |  CAST(sum(CASE WHEN c3 IS NULL AND c2s IS NULL AND c1w3 IS NULL
         |    THEN tf ELSE 0 END) AS BIGINT) AS n_oov
         |FROM j GROUP BY 1""".stripMargin),
    // DSIR hashed-n-gram importance weights against the 'en' slice (C63)
    Registered("dsir_weights", (s, d) =>
        Scoring.dsirWeights(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en"),
      s"""WITH toks AS (SELECT doc_id, lang = 'en' AS tgt, $tok AS t FROM documents),
         |feats AS (SELECT doc_id, tgt,
         |    ${graft.functions.PortableHash.duckdb("'dsir|' || feat")} % 4096 AS bucket,
         |    count(*) AS cnt
         |  FROM (SELECT doc_id, tgt,
         |        unnest(list_concat(t, ${TextFunctions.shinglesSql("t", 2)})) AS feat
         |        FROM toks)
         |  GROUP BY 1, 2, 3),
         |counts AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cr,
         |    CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS ct
         |  FROM feats GROUP BY 1),
         |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
         |    CAST(sum(ct) AS BIGINT) AS nt FROM counts),
         |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
         |    round(CAST(sum(CAST(cnt AS DECIMAL(10,0)) * CAST(round(ln(
         |      (CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE)) /
         |      (CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE))), 6)
         |      AS DECIMAL(18,6))) AS DOUBLE), 6) AS log_weight
         |  FROM feats JOIN counts USING (bucket) CROSS JOIN tot
         |  GROUP BY 1),
         |m AS (SELECT count(*) AS m FROM documents WHERE lang = 'en')
         |SELECT doc_id, n_feats, log_weight,
         |  row_number() OVER (ORDER BY log_weight DESC, doc_id) <= m AS keep
         |FROM sc CROSS JOIN m""".stripMargin),
    // Naive-Bayes bag-of-tokens quality classifier — the deterministic
    // "fasttext-like classifier" analog (C64)
    Registered("quality_classifier_nb", (s, d) =>
        Scoring.nbQualityClassifier(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en"),
      s"""WITH dt AS (SELECT doc_id, pos, token, count(*) AS cnt
         |  FROM (SELECT doc_id, lang = 'en' AS pos, unnest($tok) AS token
         |        FROM documents)
         |  GROUP BY 1, 2, 3),
         |counts AS (SELECT token,
         |    CAST(sum(CASE WHEN pos THEN cnt ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE cnt END) AS BIGINT) AS cn
         |  FROM dt GROUP BY 1),
         |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
         |    CAST(sum(cn) AS BIGINT) AS nn, count(*) AS v FROM counts),
         |dprior AS (SELECT
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS dp,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS dn
         |  FROM documents),
         |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    round(CAST(max(CAST(round(ln(CAST(dp AS DOUBLE) / CAST(dn AS DOUBLE)), 6)
         |        AS DECIMAL(18,6))) AS DOUBLE)
         |      + CAST(sum(CAST(cnt AS DECIMAL(10,0)) * CAST(round(ln(
         |        (CAST(cp + 1 AS DOUBLE) / CAST(np + v AS DOUBLE)) /
         |        (CAST(cn + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE))), 6)
         |        AS DECIMAL(18,6))) AS DOUBLE), 6) AS log_odds
         |  FROM dt JOIN counts USING (token) CROSS JOIN tot CROSS JOIN dprior
         |  GROUP BY 1)
         |SELECT doc_id, n_tokens, log_odds, log_odds > 0 AS predicted
         |FROM sc""".stripMargin),
    // per-source unigram KL vs the corpus blend — the mixture-design
    // distribution-shift audit (C68)
    Registered("source_divergence", (s, d) =>
        Scoring.sourceDivergence(Tables.documents(s, d), "text", "source"),
      // same weight factorization as the Spark side: integer counts ×
      // round-6-decimal ln terms, ONE unrounded decimal→double quotient
      s"""WITH st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($tok) AS token FROM documents)
         |  GROUP BY 1, 2),
         |tt AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY 1),
         |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns,
         |    CAST(count(*) AS BIGINT) AS n_types FROM st GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st)
         |SELECT s.source, max(st2.ns) AS n_tokens, max(st2.n_types) AS n_types,
         |  CAST(sum(CAST(s.c AS DECIMAL(10,0)) * CAST(round(ln(
         |    (CAST(s.c AS DOUBLE) * CAST(tot.n AS DOUBLE)) /
         |    (CAST(st2.ns AS DOUBLE) * CAST(t.ct AS DOUBLE))), 6)
         |    AS DECIMAL(18,6))) AS DOUBLE) / CAST(max(st2.ns) AS DOUBLE) AS kl_nats
         |FROM st s JOIN tt t USING (token) JOIN stot st2 USING (source)
         |CROSS JOIN tot
         |GROUP BY 1""".stripMargin),
    // per-doc Shannon token entropy — the ln twin of token_diversity (C73)
    Registered("token_entropy", (s, d) =>
        Scoring.tokenEntropy(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH tc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($tok) AS token FROM documents)
         |  GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY 1),
         |e AS (SELECT t.doc_id, max(tot.n) AS n_tokens,
         |    CAST(sum(CAST(t.c AS DECIMAL(10,0)) * CAST(round(ln(
         |      CAST(tot.n AS DOUBLE) / CAST(t.c AS DOUBLE)), 6)
         |      AS DECIMAL(18,6))) AS DOUBLE) / CAST(max(tot.n) AS DOUBLE)
         |      AS entropy_nats
         |  FROM tc t JOIN tot ON tot.doc_id = t.doc_id GROUP BY 1)
         |SELECT d.doc_id, coalesce(e.n_tokens, 0) AS n_tokens,
         |  coalesce(e.entropy_nats, 0.0) AS entropy_nats
         |FROM documents d LEFT JOIN e USING (doc_id)""".stripMargin),
  )
}
