package graft.registry

import org.apache.spark.sql.functions._
import graft.SparkEntry.OracleStage
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.Tables
import Shared._

/** §2C near-duplicate detection: [[Dedup]] (exact, MinHash, SimHash,
  * n-gram, ExactSubstr, line, CDC and winnowing) and the near-dup graph
  * it feeds ([[Graph.pagerankDocs]]).
  */
object DedupQueries {
  /** Shared ExactSubstr CTE chain: positional 8-gram hashes → grams
    * occurring ≥ 2 times corpus-wide → per-doc gaps-and-islands merge →
    * maximal spans (`esp`). Positions are 0-based (DuckDB's
    * list_transform index is 1-based, hence the `i - 1`); islands break
    * when the next duplicated gram starts > 8 tokens after the previous
    * one — past overlap-or-abutment of its 8-token cover — mirroring
    * Dedup.exactSubstrSpans exactly.
    */
  private def exactSubstrSpansCte: String =
    s"""est AS (SELECT doc_id, $tok AS t FROM documents),
       |esh AS (SELECT doc_id, ${TextFunctions.shinglesSql("t", 8)} AS sh FROM est),
       |eg0 AS (SELECT doc_id, unnest(list_transform(sh, (x, i) -> struct_pack(
       |    pos := i - 1, gh := cast('0x' || substr(md5(x), 1, 12) AS bigint)))) AS g
       |  FROM esh),
       |eg AS (SELECT doc_id, g.pos AS pos, g.gh AS gh FROM eg0),
       |edup AS (SELECT gh FROM eg GROUP BY gh HAVING count(*) >= 2),
       |ehit AS (SELECT doc_id, pos FROM eg JOIN edup USING (gh)),
       |eisl AS (SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM (SELECT doc_id, pos,
       |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM ehit)),
       |esp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
       |  FROM eisl GROUP BY doc_id, isl)""".stripMargin

  /** Shingle-set overlap of the even-id documents (`inter` per pair,
    * `sizes` per doc), df-capped — shared by ngram_jaccard and
    * ngram_containment, which differ only in the ratio they keep.
    */
  private val ngramOverlapCtes =
    s"""toks AS (SELECT doc_id, $tok AS tokens FROM documents WHERE doc_id % 2 = 0),
       |sh AS (SELECT doc_id, unnest(${TextFunctions.shinglesSql("tokens", 3)}) AS s FROM toks),
       |ex0 AS (SELECT DISTINCT doc_id, cast('0x' || substr(md5(s), 1, 12) as bigint) AS sk FROM sh),
       |ex AS (SELECT * FROM ex0 WHERE sk IN (
       |  SELECT sk FROM ex0 GROUP BY sk HAVING count(*) <= 10000)),
       |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM ex x JOIN ex y ON x.sk = y.sk AND x.doc_id < y.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1)""".stripMargin

  /** Every non-blank trimmed line of the [[Dedup.wrapLinesSql]] page
    * fixture with its position (`occ`).
    */
  private val lineOccCtes =
    s"""fx AS (SELECT doc_id, ${Dedup.wrapLinesSql("text", "source")} AS text
       |  FROM documents),
       |la AS (SELECT doc_id,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |      l -> l <> '') AS lines
       |  FROM fx),
       |occ AS (SELECT doc_id, u.pos AS line_no, u.l AS line FROM (
       |  SELECT doc_id, unnest(list_transform(lines,
       |    (x, i) -> struct_pack(l := x, pos := i))) AS u
       |  FROM la))""".stripMargin

  /** line_dedup's output columns over `o` (lines) left-joined to `k`
    * (the surviving ones).
    */
  private val lineKeptSelect =
    s"""SELECT o.doc_id,
       |  cast(count(*) AS int) AS n_lines,
       |  cast(count(k.doc_id) AS int) AS n_kept,
       |  coalesce(string_agg(o.line, chr(10) ORDER BY o.line_no)
       |    FILTER (WHERE k.doc_id IS NOT NULL), '') AS clean_text""".stripMargin

  /** Content-defined chunks of every document (`chunks`): a token whose
    * hash is 0 mod 16 starts a new chunk — the twin of Dedup's chunking.
    */
  private val cdcChunksCtes =
    s"""toks AS (SELECT doc_id, $tok AS tokens FROM documents),
       |pt AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
       |  SELECT doc_id, unnest(list_transform(tokens,
       |    (x, i) -> struct_pack(tok := x, pos := i))) AS u
       |  FROM toks)),
       |anchored AS (SELECT doc_id, pos, tok,
       |    CASE WHEN ${ph("concat('cdc|', tok)")} % 16 = 0 THEN 1 ELSE 0 END AS is_anchor
       |  FROM pt),
       |chunked AS (SELECT doc_id, pos, tok,
       |    sum(is_anchor) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
       |  FROM anchored),
       |chunks AS (SELECT doc_id, chunk,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp,
       |    count(*) AS n_tokens
       |  FROM chunked GROUP BY doc_id, chunk)""".stripMargin

  /** Winnowing over a `wt(doc_id, t)` CTE: 4-shingle hashes and each
    * full window's minimum with the rightmost tiebreak (`wsel`).
    */
  private val winnowCtes =
    s"""wsh AS (SELECT doc_id, ${TextFunctions.shinglesSql("t", 4)} AS sh FROM wt),
       |wg0 AS (SELECT doc_id, len(sh) AS glen,
       |    unnest(list_transform(sh, (x, i) -> struct_pack(pos := i,
       |      h := cast('0x' || substr(md5(x), 1, 12) AS bigint)))) AS g
       |  FROM wsh),
       |wg AS (SELECT doc_id, glen, g.pos AS pos, g.h AS h FROM wg0),
       |wsel AS (SELECT g1.doc_id,
       |    min(struct_pack(h := g2.h, np := -g2.pos)) AS m
       |  FROM wg g1 JOIN wg g2 ON g1.doc_id = g2.doc_id
       |    AND g2.pos BETWEEN g1.pos AND g1.pos + 4
       |  WHERE g1.pos <= g1.glen - 4
       |  GROUP BY g1.doc_id, g1.pos)""".stripMargin

  val all: Seq[Registered] = Seq(
    Registered("dedup_exact", (s, d) =>
        Dedup.exact(Tables.documents(s, d), "doc_id", "text"),
      """SELECT md5(text) AS fingerprint, min(doc_id) AS survivor_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    Registered("dedup_minhash", (s, d) =>
        Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |$minhashCandCtes
         |SELECT doc_a, doc_b,
         |  list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est_jaccard
         |FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b""".stripMargin),
    Registered("dedup_simhash", (s, d) =>
        Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |hs AS (SELECT doc_id, list_transform(tokens, t -> ${ph("t")}) AS hashes FROM toks),
         |sh AS (SELECT doc_id, cast(list_sum(list_transform(range(0, 60), j ->
         |    CASE WHEN list_sum(list_transform(hashes, h -> ((h >> j) & 1) * 2 - 1)) > 0
         |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS bigint) AS simhash
         |  FROM hs),
         |chunks AS (SELECT doc_id, simhash, c, (simhash >> (15 * c)) & 32767 AS ckey
         |  FROM sh CROSS JOIN range(0, 4) t(c)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, cast(bit_count(xor(sa, sb)) AS integer) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 10""".stripMargin),
    Registered("ngram_jaccard", (s, d) =>
        Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH $ngramOverlapCtes
         |SELECT doc_a, doc_b,
         |  cast(inter AS double) / (sa.n_sh + sb.n_sh - inter) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE cast(inter AS double) / (sa.n_sh + sb.n_sh - inter) >= 0.1""".stripMargin),
    Registered("ngram_containment", (s, d) =>
        Dedup.ngramContainment(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH $ngramOverlapCtes
         |SELECT doc_a, doc_b,
         |  cast(inter AS double) / least(sa.n_sh, sb.n_sh) AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE cast(inter AS double) / least(sa.n_sh, sb.n_sh) >= 0.5""".stripMargin),
    // ExactSubstr family (Lee et al. 2022): corpus-wide duplicated
    // token spans via a positional k-gram index — linear, never pairwise
    Registered("exact_substr_spans", (s, d) =>
        Dedup.exactSubstrSpans(Tables.documents(s, d), "doc_id", "text"),
      // ExactSubstr: positional 8-gram index → grams occurring ≥2 times
      // anywhere (incl. within one doc) → gaps-and-islands span merge
      // (islands break when the next gram no longer overlaps/abuts the
      // previous gram's 8-token cover); 0-based positions on both engines
      s"""WITH $exactSubstrSpansCte
         |SELECT doc_id, span_start, span_end, span_end - span_start + 1 AS span_tokens
         |FROM esp WHERE span_end - span_start + 1 >= 12""".stripMargin),
    Registered("exact_substr_dedup", (s, d) =>
        Dedup.exactSubstrStats(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH $exactSubstrSpansCte,
         |eper AS (SELECT doc_id, sum(span_end - span_start + 1) AS dup
         |  FROM esp WHERE span_end - span_start + 1 >= 12 GROUP BY 1)
         |SELECT d.doc_id, cast(len($tok) AS bigint) AS n_tokens,
         |  cast(coalesce(dup, 0) AS bigint) AS dup_tokens,
         |  cast(coalesce(dup, 0) AS double)
         |    / cast(greatest(len($tok), 1) AS double) AS dup_fraction
         |FROM documents d LEFT JOIN eper USING (doc_id)""".stripMargin),
    Registered("corpus_dedup", (s, d) =>
        Dedup.corpusDedup(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH fp AS (SELECT md5(text) AS f, min(doc_id) AS sid FROM documents GROUP BY 1),
         |kept AS (SELECT d.doc_id, d.text FROM documents d JOIN fp ON d.doc_id = fp.sid),
         |toks AS (SELECT doc_id, $tok AS tokens FROM kept),
         |$minhashCandCtes,
         |pairs AS (SELECT doc_a, doc_b,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est_jaccard
         |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
         |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE est_jaccard >= 0.5)
         |SELECT k.doc_id FROM kept k
         |WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = k.doc_id)""".stripMargin),
    Registered("dedup_clusters", (s, d) =>
        Dedup.dedupClusters(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |$minhashCandCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
         |  WHERE list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5),
         |bidir AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM bidir
         |  UNION SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a)
         |SELECT a AS doc_id, least(min(b), a) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin),
    Registered("dedup_incremental", (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incremental(docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
      },
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |$minhashBandsCtes,
         |exact_kept AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
         |  AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 3 <> 0)),
         |near AS (SELECT DISTINCT a.doc_id
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
         |    AND a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
         |  JOIN sig sa ON sa.doc_id = a.doc_id JOIN sig sb ON sb.doc_id = b.doc_id
         |  WHERE list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 8)
         |SELECT doc_id FROM exact_kept
         |WHERE doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin),
    // CCNet-style corpus-wide line dedup (first-occurrence-wins) on
    // the deterministic multi-line page fixture — the boilerplate-line
    // removal stage between html_extract and document dedup (C78)
    Registered("line_dedup", (s, d) =>
        Dedup.lineDedup(wrapped(s, d, Dedup.wrapLines(col("text"), col("source")), "text"),
          "doc_id", "text"),
      s"""WITH $lineOccCtes,
         |keep AS (SELECT doc_id, line_no FROM (
         |  SELECT doc_id, line_no,
         |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
         |  FROM occ) WHERE rn = 1)
         |$lineKeptSelect
         |FROM occ o LEFT JOIN keep k
         |  ON o.doc_id = k.doc_id AND o.line_no = k.line_no
         |GROUP BY o.doc_id""".stripMargin),
    // incremental line dedup: the batch third of the corpus deduped
    // against the already-ingested rest — reference reduced to line
    // digests once, batch lines also first-occurrence-deduped within
    // the batch (C81)
    Registered("line_dedup_incremental", (s, d) => {
        val fx = wrapped(s, d, Dedup.wrapLines(col("text"), col("source")), "text")
        Dedup.lineDedupAgainst(fx.filter(col("doc_id") % 3 === 0),
          fx.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
      },
      s"""WITH $lineOccCtes,
         |bocc AS (SELECT * FROM occ WHERE doc_id % 3 = 0),
         |keep AS (SELECT doc_id, line_no FROM (
         |  SELECT doc_id, line_no, line,
         |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
         |  FROM bocc) b
         |  WHERE rn = 1
         |    AND line NOT IN (SELECT line FROM occ WHERE doc_id % 3 <> 0))
         |$lineKeptSelect
         |FROM bocc o LEFT JOIN keep k
         |  ON o.doc_id = k.doc_id AND o.line_no = k.line_no
         |GROUP BY o.doc_id""".stripMargin),
    Registered("dedup_pagerank", (s, d) =>
        Graph.pagerankDocs(Tables.documents(s, d), "doc_id", "text"),
      Graph.pagerankOracleSql()),
    Registered("cdc_chunks", (s, d) =>
        Dedup.cdcChunkDups(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH $cdcChunksCtes
         |SELECT chunk_fp, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS n_docs,
         |  min(doc_id) AS example_doc, min(n_tokens) AS n_tokens
         |FROM chunks GROUP BY chunk_fp HAVING count(DISTINCT doc_id) >= 2""".stripMargin),
    // chunk-level containment screen: batch docs mostly made of chunks
    // already in the reference (same synthetic split as dedup_incremental)
    Registered("cdc_containment", (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.cdcContainment(docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
      },
      s"""WITH $cdcChunksCtes,
         |ref AS (SELECT DISTINCT chunk_fp FROM chunks WHERE doc_id % 3 <> 0),
         |bat AS (SELECT * FROM chunks WHERE doc_id % 3 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_chunks,
         |    cast(sum(n_tokens) AS bigint) AS total_tokens
         |  FROM bat GROUP BY 1),
         |mat AS (SELECT doc_id, count(*) AS n_matched,
         |    cast(sum(n_tokens) AS bigint) AS matched_tokens
         |  FROM bat WHERE chunk_fp IN (SELECT chunk_fp FROM ref) GROUP BY 1)
         |SELECT t.doc_id, n_chunks,
         |  coalesce(n_matched, 0) AS n_matched,
         |  cast(coalesce(matched_tokens, 0) AS double) / total_tokens AS matched_frac
         |FROM tot t LEFT JOIN mat USING (doc_id)
         |WHERE cast(coalesce(matched_tokens, 0) AS double) / total_tokens >= 0.5""".stripMargin),
    // quality-aware near-dup dedup: each pair drops its LOWER-QUALITY
    // side (the survivor policy real curation uses), not just the
    // larger id
    Registered("corpus_dedup_best", (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.corpusDedupKeepBest(docs,
          TextAnalysis.quality(docs, "doc_id", "text")
            .select(col("doc_id"), col("quality_score")),
          "doc_id", "text", "quality_score")
      },
      s"""WITH fp AS (SELECT md5(text) AS f, min(doc_id) AS sid FROM documents GROUP BY 1),
         |kept AS (SELECT d.doc_id, d.text FROM documents d JOIN fp ON d.doc_id = fp.sid),
         |toks AS (SELECT doc_id, $tok AS tokens FROM kept),
         |$minhashCandCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
         |  WHERE list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5),
         |q AS (SELECT doc_id,
         |  $qualityPointsSql / cast(10.0 AS double) AS qs
         |  FROM (SELECT doc_id, $tok AS t FROM documents)),
         |drops AS (SELECT DISTINCT
         |    CASE WHEN coalesce(qa.qs, -1.7976931348623157e308)
         |           < coalesce(qb.qs, -1.7976931348623157e308)
         |         THEN doc_a ELSE doc_b END AS doc_id
         |  FROM pairs LEFT JOIN q qa ON qa.doc_id = doc_a
         |             LEFT JOIN q qb ON qb.doc_id = doc_b)
         |SELECT k.doc_id FROM kept k
         |WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = k.doc_id)""".stripMargin),
    // MOSS winnowing: positional fingerprint overlap with the
    // shared-run guarantee (≥ n+w−1 tokens ⇒ shared fingerprint)
    Registered("winnow_overlap", (s, d) =>
        Dedup.winnowOverlap(Tables.documents(s, d), "doc_id", "text"),
      // window min with rightmost tiebreak = min over (h, -pos) structs;
      // full windows only (pos ≤ glen − (w−1)); df-capped before pairing
      s"""WITH wt AS (SELECT doc_id, $tok AS t FROM documents),
         |$winnowCtes,
         |wf AS (SELECT DISTINCT doc_id, m.h AS h FROM wsel),
         |wr AS (SELECT h FROM (SELECT h, count(*) AS c FROM wf GROUP BY 1)
         |       WHERE c <= 1000),
         |wk AS (SELECT wf.doc_id, wf.h FROM wf JOIN wr USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS shared_fps
         |FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
      stages = Seq(
        OracleStage("wo_fps", 8,
          // fingerprint selection is per-document — shard by doc_id
          s"""WITH wt AS (SELECT doc_id, $tok AS t FROM documents
             |  WHERE doc_id % {NSHARDS} = {SHARD}),
             |$winnowCtes
             |SELECT DISTINCT doc_id, m.h AS h FROM wsel""".stripMargin),
        OracleStage("wo_keep", 0,
          """SELECT h FROM (SELECT h, count(*) AS c FROM wo_fps GROUP BY 1)
            |WHERE c <= 1000""".stripMargin),
        OracleStage("wo_pairs", 8,
          // the pair join is per-fingerprint — shard by h; counts are
          // PARTIAL per shard (a pair shares fps across many h)
          s"""WITH wk AS (SELECT f.doc_id, f.h FROM wo_fps f
             |  JOIN wo_keep USING (h) WHERE f.h % {NSHARDS} = {SHARD})
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY 1, 2""".stripMargin),
        OracleStage("winnow_overlap", 0,
          """SELECT doc_a, doc_b, cast(sum(c) AS BIGINT) AS shared_fps
            |FROM wo_pairs GROUP BY 1, 2 HAVING sum(c) >= 2""".stripMargin))),
  )
}
