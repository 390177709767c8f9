package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.Tables
import Shared._

/** §2C per-document text signals: [[TextAnalysis]] (language, quality,
  * PII, rule bundles, retrieval), plus [[Bpe]] and [[Multimodal]].
  */
object TextQueries {
  /** Fixed keyword queries for C48 bm25_search — corpus-frequent terms
    * so rankings are dense at every SF (same fixed-fixture convention
    * as decontaminate's benchmark split).
    */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("hash", "table", "scan"),
    3 -> Seq("stream", "window"),
    4 -> Seq("customer", "order"),
    5 -> Seq("vector", "data"))

  // blocklist_filter fixture params: terms present in the synthetic
  // vocabulary at a frequency that makes the 3% threshold bite both
  // ways; two blocked source domains
  private val BlockTerms = Seq("spark", "vector")

  private def bm25TermsSql: String =
    Bm25Queries.flatMap(_._2).distinct.sorted
      .map(t => s"'$t'").mkString("(", ", ", ")")
  private def bm25QueryRowsSql: String =
    Bm25Queries.flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")

  /** Mojibake fixture for C103: docs with doc_id%5==2 get two in-word
    * Windows-1252 double-decode artifacts (mangled e-acute / a-umlaut)
    * plus a trailing mangled-ellipsis triple; all other docs pass
    * through untouched. Deterministic, planted inside the query (the
    * synthetic corpus is pure ASCII, so without the plant the repair
    * path would be vacuously untested).
    */
  private def mojibakeFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 2,
        concat(
          replace(replace(col("text"),
            lit("value"), lit("valu\u00c3\u00a9")),
            lit("part"), lit("p\u00c3\u00a4rt")),
          lit(" \u00e2\u20ac\u00a6")))
        .otherwise(col("text")).as("text"))

  /** Oracle twin of [[mojibakeFixture]] — identical corruption in SQL. */
  private def mojibakeCorruptSql: String =
    "CASE WHEN doc_id % 5 = 2 THEN replace(replace(text, 'value', " +
      "'valu\u00c3\u00a9'), 'part', 'p\u00c3\u00a4rt') || ' \u00e2\u20ac\u00a6' ELSE text END"

  /** Chained-replace repair expression over [[TextAnalysis.MojibakeRepairs]]. */
  private def mojibakeRepairSql(inner: String): String =
    TextAnalysis.MojibakeRepairs.foldLeft(inner) { case (e, (bad, good)) =>
      s"replace($e, '$bad', '$good')"
    }

  /** Per-pattern exact integer artifact count, mirroring the Spark side:
    * (len − len(without)) / patlen per pattern, cast bigint, summed.
    */
  private def mojibakeCountSql(inner: String): String =
    TextAnalysis.MojibakeRepairs.map { case (bad, _) =>
      s"cast((length($inner) - length(replace($inner, '$bad', ''))) / ${bad.length} AS bigint)"
    }.mkString("(", " + ", ")")

  val all: Seq[Registered] = Seq(
    Registered("lang_id", (s, d) =>
        TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text"),
      s"""SELECT doc_id, score_en, score_es, score_fr, score_de,
         |  CASE
         |    WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
         |    WHEN score_es > 0 AND score_es >= score_fr AND score_es >= score_de THEN 'es'
         |    WHEN score_fr > 0 AND score_fr >= score_de THEN 'fr'
         |    WHEN score_de > 0 THEN 'de'
         |    ELSE 'other' END AS pred_lang
         |FROM (SELECT doc_id,
         |    cast(len(list_filter($tok, x -> x IN ('the', 'a', 'is', 'of'))) AS integer) AS score_en,
         |    cast(len(list_filter($tok, x -> x IN ('el', 'la', 'los', 'de'))) AS integer) AS score_es,
         |    cast(len(list_filter($tok, x -> x IN ('le', 'les', 'des', 'et'))) AS integer) AS score_fr,
         |    cast(len(list_filter($tok, x -> x IN ('der', 'die', 'das', 'und'))) AS integer) AS score_de
         |  FROM documents)""".stripMargin),
    Registered("text_quality", (s, d) =>
        TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text"),
      s"""SELECT doc_id,
         |  cast(length(text) AS integer) AS n_chars,
         |  cast(len(t) AS integer) AS n_tokens,
         |  cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1) AS avg_token_len,
         |  cast(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS double)
         |    / greatest(length(text), 1) AS punct_ratio,
         |  cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
         |    / greatest(len(t), 1) AS stopword_ratio,
         |  $qualityPointsSql / cast(10.0 AS double) AS quality_score
         |FROM (SELECT doc_id, text, $tok AS t FROM documents)""".stripMargin),
    Registered("token_count", (s, d) =>
        TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text"),
      s"""SELECT doc_id,
         |  cast(len($tok) AS integer) AS ws_tokens,
         |  cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS integer) AS re_tokens,
         |  cast(length(text) AS integer) AS n_chars
         |FROM documents""".stripMargin),
    // Gini–Simpson token diversity + top-token share (boilerplate /
    // keyword-stuffing signal; transcendental-free entropy twin)
    Registered("token_diversity", (s, d) =>
        TextAnalysis.tokenDiversity(Tables.documents(s, d), "doc_id", "text"),
      // integer-ratio arithmetic only (no log()): doubles are identical
      // IEEE divisions of exact longs on both engines, so no rounding
      s"""WITH pairs AS (SELECT doc_id, t AS tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest($tok) AS t FROM documents) GROUP BY 1, 2),
         |agg AS (SELECT doc_id, cast(sum(c) AS bigint) AS n,
         |    cast(count(*) AS bigint) AS dt, max(c) AS maxc,
         |    cast(sum(c * c) AS bigint) AS sumc2
         |  FROM pairs GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n, 0) AS n_tokens,
         |  coalesce(dt, 0) AS distinct_tokens,
         |  CASE WHEN n IS NULL THEN 0.0
         |       ELSE maxc::DOUBLE / n::DOUBLE END AS top_share,
         |  CASE WHEN n IS NULL THEN 0.0
         |       ELSE 1.0 - sumc2::DOUBLE / (n * n)::DOUBLE END AS simpson_diversity
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin),
    Registered("doc_fingerprint", (s, d) =>
        TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text"),
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 2) AS bucket
        |FROM documents""".stripMargin),
    Registered("multimodal_meta", (s, d) =>
        Multimodal.meta(Tables.documents(s, d), "doc_id", "text"),
      """SELECT doc_id, 'application/octet-stream' AS mime,
        |  cast(octet_length(encode(text)) AS integer) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin),
    // PII redaction (C13): email/phone/IPv4/digit-run markers over
    // the deterministic PII fixture around each document — the driver
    // corpus carries none of the classes, so the wrap is what makes
    // every pattern BITE at driver SFs (same fixture convention as
    // wrapRobotsTxt/wrapUrl)
    Registered("text_redact", (s, d) =>
        TextAnalysis.redact(wrapped(s, d, TextAnalysis.wrapPii(col("doc_id"), col("text")), "text"),
          "doc_id", "text"),
      s"""WITH t AS (SELECT doc_id,
         |    ${TextAnalysis.wrapPiiSql("doc_id", "text")} AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailRegex}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRegex}', '<PHONE>', 'g'),
         |    '${TextAnalysis.Ipv4Regex}', '<IP>', 'g'),
         |    '${TextAnalysis.LongNumberRegex}', '<NUM>', 'g') AS redacted,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.EmailRegex}')) AS integer) AS n_emails,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.PhoneRegex}')) AS integer) AS n_phones,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Regex}')) AS integer) AS n_ips,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.LongNumberRegex}')) AS integer) AS n_numbers
         |FROM t""".stripMargin),
    // unicode-script histogram + dominant script (the gate BEFORE
    // lang_id): driver corpus is ASCII, so the wrapScripts fixture
    // plants every script class on id strides (same convention as
    // wrapPii/wrapRobotsTxt); the %7==2 stride's Han block outweighs
    // the base text so dominance genuinely flips there
    Registered("script_profile", (s, d) =>
        TextAnalysis.scriptProfile(
          wrapped(s, d, TextAnalysis.wrapScripts(col("doc_id"), col("text")), "text"), "doc_id", "text"),
      {
        // generated from the SAME ScriptClasses table the Spark kernel
        // reads — ranges, names, and tie-break order cannot drift
        val classes = TextAnalysis.ScriptClasses
        val cntCols = classes.map { case (n, r) =>
          s"length(text) - length(regexp_replace(text, '[$r]', '', 'g')) AS n_$n"
        }
        val allRanges = classes.map(_._2).mkString
        val names = classes.map { case (n, _) => s"n_$n" }
        val gr = names.mkString("greatest(", ", ", ")")
        val domCases = classes.map { case (n, _) =>
          s"WHEN n_$n = $gr THEN '$n'"
        }.mkString(" ")
        val scCount = names.map(n => s"(CASE WHEN $n > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH w AS (SELECT doc_id,
           |    ${TextAnalysis.wrapScriptsSql("doc_id", "text")} AS text
           |  FROM documents),
           |c AS (SELECT doc_id,
           |    ${cntCols.mkString(",\n    ")},
           |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
           |    length(regexp_replace(text, '[${allRanges}0-9\\s]', '', 'g')) AS n_other
           |  FROM w)
           |SELECT doc_id,
           |  CASE WHEN $gr = 0 THEN 'none' $domCases END AS dominant_script,
           |  ${names.mkString(", ")}, n_digit, n_other,
           |  cast($scCount AS bigint) AS script_count
           |FROM c""".stripMargin
      }),
    // per-source PII audit over the redact kernel's counts — the
    // SPARSE fixture (classes on their own id strides) makes
    // per-source incidence rates vary, unlike text_redact's
    // every-class-every-doc wrap
    Registered("pii_stats", (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.piiStats(
          docs.select(col("doc_id"), col("source"),
            TextAnalysis.wrapPiiSparse(col("doc_id"), col("text")).as("text")),
          "doc_id", "source", "text")
      },
      s"""WITH t AS (SELECT doc_id, source,
         |    ${TextAnalysis.wrapPiiSparseSql("doc_id", "text")} AS text
         |  FROM documents),
         |c AS (SELECT source,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.EmailRegex}')) AS bigint) AS email,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.PhoneRegex}')) AS bigint) AS phone,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Regex}')) AS bigint) AS ip,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.LongNumberRegex}')) AS bigint) AS number
         |  FROM t),
         |u AS (SELECT source, 'email' AS pii_class, email AS n FROM c
         |  UNION ALL SELECT source, 'phone', phone FROM c
         |  UNION ALL SELECT source, 'ip', ip FROM c
         |  UNION ALL SELECT source, 'number', number FROM c)
         |SELECT source, pii_class, count(*) AS n_rows,
         |  cast(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS bigint) AS hits,
         |  cast(sum(n) AS bigint) AS spans,
         |  cast(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS double)
         |    / count(*) AS hit_rate
         |FROM u GROUP BY ROLLUP(source, pii_class)""".stripMargin),
    Registered("text_repetition", (s, d) =>
        TextAnalysis.repetition(Tables.documents(s, d), "doc_id", "text"),
      s"""SELECT doc_id, cast(len(g) AS integer) AS n_bigrams,
         |  CASE WHEN len(g) > 0
         |    THEN cast(1.0 AS double) - cast(len(list_distinct(g)) AS double) / len(g)
         |    ELSE cast(0.0 AS double) END AS repetition_ratio
         |FROM (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 2)} AS g
         |      FROM (SELECT doc_id, $tok AS tokens FROM documents))""".stripMargin),
    // Gopher quality rule bundle + repetition char-mass signals
    // (Rae et al. 2021, appendix A1.1)
    Registered("gopher_rules", (s, d) =>
        TextAnalysis.gopherRules(Tables.documents(s, d), "doc_id", "text"),
      // every ratio is an IEEE division of exact integers — bit-portable
      s"""WITH base AS (SELECT doc_id, text, $tok AS t,
         |    string_split(text, chr(10)) AS ls FROM documents),
         |m AS (SELECT doc_id,
         |  cast(len(t) AS integer) AS n_words,
         |  length(array_to_string(t, '')) AS wchars,
         |  length(text) - length(replace(text, '#', '')) AS n_hash,
         |  len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ell3,
         |  length(text) - length(replace(text, '…', '')) AS n_ellu,
         |  len(ls) AS n_lines,
         |  len(list_filter(ls, l -> starts_with(ltrim(l), '- ')
         |    OR starts_with(ltrim(l), '* ') OR starts_with(ltrim(l), '• '))) AS n_bullet,
         |  len(list_filter(ls, l -> ends_with(rtrim(l), '...')
         |    OR ends_with(rtrim(l), '…'))) AS n_ellline,
         |  len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         |  cast(${TextAnalysis.GopherRequiredWords.map(w =>
                s"(CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END)").mkString(" + ")}
         |    AS integer) AS stop_hits
         |  FROM base)
         |SELECT doc_id, n_words,
         |  wchars::DOUBLE / greatest(n_words, 1) AS mean_word_len,
         |  (n_hash + n_ell3 + n_ellu)::DOUBLE / greatest(n_words, 1) AS symbol_ratio,
         |  n_bullet::DOUBLE / greatest(n_lines, 1) AS bullet_frac,
         |  n_ellline::DOUBLE / greatest(n_lines, 1) AS ellipsis_frac,
         |  n_alpha::DOUBLE / greatest(n_words, 1) AS alpha_frac,
         |  stop_hits,
         |  (n_words BETWEEN 50 AND 100000)
         |    AND (wchars::DOUBLE / greatest(n_words, 1) BETWEEN 3.0 AND 10.0)
         |    AND ((n_hash + n_ell3 + n_ellu)::DOUBLE / greatest(n_words, 1) <= 0.1)
         |    AND (n_bullet::DOUBLE / greatest(n_lines, 1) <= 0.9)
         |    AND (n_ellline::DOUBLE / greatest(n_lines, 1) <= 0.3)
         |    AND (n_alpha::DOUBLE / greatest(n_words, 1) >= 0.8)
         |    AND (stop_hits >= 2) AS keep
         |FROM m""".stripMargin),
    // NFC + control-strip + whitespace-collapse canonicalization (C60)
    Registered("text_normalize", (s, d) =>
        TextAnalysis.textNormalize(Tables.documents(s, d), "doc_id", "text"),
      s"""SELECT doc_id,
         |  norm AS normalized,
         |  norm <> text AS changed,
         |  cast(length(text) AS integer) AS n_chars_before,
         |  cast(length(norm) AS integer) AS n_chars_after
         |FROM (SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
         |      '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'), '[ \\t]+', ' ', 'g')) AS norm
         |  FROM documents)""".stripMargin),
    // C4 §2.2 cleaning-rule bundle (C105, Raffel et al. 2020): line
    // punctuation/length/javascript filters + page brace/lorem/lexicon
    // gates, on the deterministic multi-line page fixture (every rule
    // class live on an id schedule)
    Registered("c4_rules", (s, d) =>
        TextAnalysis.c4Rules(
          wrapped(s, d, TextAnalysis.wrapC4Page(col("doc_id"), col("text")), "text"),
          "doc_id", "text", Seq("badterm")),
      s"""WITH c4fx AS (SELECT doc_id,
         |    ${TextAnalysis.wrapC4PageSql("doc_id", "text")} AS text
         |  FROM documents),
         |c4l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM c4fx),
         |c4k AS (SELECT doc_id, text, lines,
         |    list_filter(lines, x -> regexp_matches(x, '[.!?"]$$')
         |      AND len(regexp_split_to_array(trim(x), '\\s+')) >= 5
         |      AND NOT contains(lower(x), 'javascript')) AS kept,
         |    len(list_filter(${graft.functions.TextFunctions.tokensSql("text")},
         |      x -> x IN ('badterm'))) > 0 AS has_badword
         |  FROM c4l)
         |SELECT doc_id,
         |  cast(len(lines) AS integer) AS n_lines,
         |  cast(len(kept) AS integer) AS n_kept,
         |  contains(text, '{') AS has_brace,
         |  contains(lower(text), 'lorem ipsum') AS has_lorem,
         |  has_badword,
         |  len(kept) >= 3 AND NOT contains(text, '{')
         |    AND NOT contains(lower(text), 'lorem ipsum')
         |    AND NOT has_badword AS keep,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
         |FROM c4k""".stripMargin),
    // mojibake repair (C103, the ftfy core case): Windows-1252
    // double-decode artifacts planted deterministically on doc_id%5==2
    // (two in-word artifacts + one trailing triple), then reversed by
    // the fixed public repair table — the untouched 4/5 of the corpus
    // pins the no-op path (n_artifacts=0, changed=false)
    Registered("encoding_repair", (s, d) =>
        TextAnalysis.encodingRepair(
          mojibakeFixture(Tables.documents(s, d)), "doc_id", "text"),
      s"""WITH enc_src AS (SELECT doc_id, $mojibakeCorruptSql AS text FROM documents)
         |SELECT doc_id,
         |  ${mojibakeRepairSql("text")} AS repaired,
         |  ${mojibakeCountSql("text")} AS n_artifacts,
         |  ${mojibakeRepairSql("text")} <> text AS changed
         |FROM enc_src""".stripMargin),
    // C4/RefinedWeb-style lexicon + domain blocklist gate (C99):
    // drop on blocked domain or when blocked tokens exceed 3% per mille
    // threshold of the doc's tokens — integer comparison, float-free
    Registered("blocklist_filter", (s, d) =>
        TextAnalysis.blocklistGate(Tables.documents(s, d), "doc_id", "text",
          concat(col("source"), lit(".example.com")),
          BlockTerms, BlockDomains),
      s"""WITH t AS (SELECT doc_id, source || '.example.com' AS host,
         |    $tok AS toks FROM documents),
         |b AS (SELECT doc_id, host, toks,
         |    list_filter(toks, x -> x IN (${BlockTerms.map(t => s"'$t'").mkString(", ")})) AS bad
         |  FROM t)
         |SELECT doc_id, host,
         |  cast(len(toks) AS integer) AS n_tokens,
         |  cast(len(bad) AS integer) AS n_bad,
         |  coalesce(array_to_string(list_sort(list_distinct(bad)), ','), '') AS bad_terms,
         |  host IN (${BlockDomains.map(d => s"'$d'").mkString(", ")}) AS domain_blocked,
         |  (NOT host IN (${BlockDomains.map(d => s"'$d'").mkString(", ")}))
         |    AND len(bad) * 1000 <= len(toks) * 30 AS keep
         |FROM b""".stripMargin),
    Registered("gopher_repetition", (s, d) =>
        TextAnalysis.gopherRepetition(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |grams AS (SELECT doc_id,
         |    unnest(${TextFunctions.shinglesSql("t", 2)}
         |      || ${TextFunctions.shinglesSql("t", 3)}
         |      || ${TextFunctions.shinglesSql("t", 5)}) AS gram
         |  FROM toks),
         |counts AS (SELECT doc_id,
         |    cast(length(gram) - length(replace(gram, ' ', '')) + 1 AS integer) AS n,
         |    gram, count(*) AS c
         |  FROM grams GROUP BY 1, 2, 3),
         |top AS (SELECT doc_id, n, gram, c FROM (
         |    SELECT doc_id, n, gram, c,
         |      row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rn
         |    FROM counts WHERE n IN (2, 3)) WHERE rn = 1),
         |tops AS (SELECT doc_id,
         |    max(CASE WHEN n = 2 THEN gram END) AS top2g,
         |    max(CASE WHEN n = 2 THEN c END) AS c2,
         |    max(CASE WHEN n = 3 THEN gram END) AS top3g,
         |    max(CASE WHEN n = 3 THEN c END) AS c3
         |  FROM top GROUP BY 1),
         |dup5 AS (SELECT doc_id, sum(c * length(gram)) AS dup5
         |  FROM counts WHERE n = 5 AND c >= 2 GROUP BY 1)
         |SELECT d.doc_id, cast(length(d.text) AS integer) AS n_chars,
         |  coalesce(top2g, '') AS top2_gram,
         |  cast(coalesce(c2, 0) AS bigint) AS top2_count,
         |  (coalesce(c2, 0) * length(coalesce(top2g, '')))::DOUBLE
         |    / greatest(length(d.text), 1) AS top2_share,
         |  coalesce(top3g, '') AS top3_gram,
         |  cast(coalesce(c3, 0) AS bigint) AS top3_count,
         |  (coalesce(c3, 0) * length(coalesce(top3g, '')))::DOUBLE
         |    / greatest(length(d.text), 1) AS top3_share,
         |  coalesce(dup5, 0)::DOUBLE / greatest(length(d.text), 1) AS dup5_char_mass
         |FROM documents d
         |LEFT JOIN tops USING (doc_id) LEFT JOIN dup5 USING (doc_id)""".stripMargin),
    // Good-Turing frequency spectrum + Zipf mass audit (C65)
    Registered("token_spectrum", (s, d) =>
        TextAnalysis.tokenSpectrum(Tables.documents(s, d), "text"),
      s"""WITH counts AS (SELECT token, count(*) AS freq
         |  FROM (SELECT unnest($tok) AS token FROM documents) GROUP BY 1),
         |spec AS (SELECT freq, count(*) AS n_types, freq * count(*) AS mass
         |  FROM counts GROUP BY 1)
         |SELECT freq, n_types, mass,
         |  CAST(sum(n_types) OVER (ORDER BY freq DESC) AS BIGINT) AS cum_types,
         |  CAST(sum(mass) OVER (ORDER BY freq DESC) AS BIGINT) AS cum_mass
         |FROM spec""".stripMargin),
    // BPE round-one candidate merges from the word-count dictionary
    // (C66; the full merge LOOP is Bpe.bpeLearn — spec-driven, its
    // per-round argmax is this query's shape)
    Registered("bpe_pair_freqs", (s, d) =>
        Bpe.pairFreqs(Tables.documents(s, d), "text", 100),
      s"""WITH words AS (SELECT word, count(*) AS wcount
         |  FROM (SELECT unnest($tok) AS word FROM documents) GROUP BY 1),
         |syms AS (SELECT list_append(string_split(word, ''), '</w>') AS s, wcount
         |  FROM words),
         |pairs AS (SELECT unnest(list_transform(range(1, len(s)),
         |    i -> {'l': s[i], 'r': s[i + 1]})) AS p, wcount FROM syms),
         |agg AS (SELECT p.l AS "left", p.r AS "right",
         |    CAST(sum(wcount) AS BIGINT) AS freq
         |  FROM pairs GROUP BY 1, 2)
         |SELECT "left", "right", freq FROM agg
         |ORDER BY freq DESC, "left", "right" LIMIT 100""".stripMargin),
    Registered("tfidf_topterms", (s, d) =>
        TextAnalysis.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", 5),
      s"""WITH pairs AS (SELECT doc_id, word AS token, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($tok) AS word FROM documents) GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS df FROM pairs GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, token, tf, df,
         |    cast(tf * n_docs AS double) / df AS score
         |  FROM pairs JOIN dfreq USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, df, score FROM (
         |  SELECT doc_id, token, tf, df, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin),
    Registered("collocations", (s, d) =>
        TextAnalysis.collocations(Tables.documents(s, d), "text", 5, 50),
      s"""WITH terms AS (SELECT unnest(list_concat(t, ${TextFunctions.shinglesSql("t", 2)})) AS term
         |  FROM (SELECT $tok AS t FROM documents)),
         |counts AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
         |uni AS (SELECT term, cnt FROM counts WHERE NOT contains(term, ' ')),
         |big AS (SELECT string_split(term, ' ')[1] AS w1, string_split(term, ' ')[2] AS w2,
         |    cnt AS n_pair FROM counts WHERE contains(term, ' ')),
         |t AS (SELECT cast(sum(cnt) AS bigint) AS total FROM uni)
         |SELECT w1, w2, n_pair, u1.cnt AS n_w1, u2.cnt AS n_w2,
         |  (cast(n_pair AS double) * cast(total AS double))
         |    / (cast(u1.cnt AS double) * cast(u2.cnt AS double)) AS score
         |FROM big JOIN uni u1 ON w1 = u1.term JOIN uni u2 ON w2 = u2.term CROSS JOIN t
         |WHERE n_pair >= 5
         |ORDER BY score DESC, w1, w2 LIMIT 50""".stripMargin),
    // BM25 keyword retrieval over the corpus: the ranked-search front
    // door a curated corpus serves (query terms fixed; postings
    // restricted to the query vocabulary before any shuffle)
    Registered("bm25_search", (s, d) =>
        TextAnalysis.bm25Search(Tables.documents(s, d), "doc_id", "text",
          Bm25Queries, 10),
      // every arithmetic step in explicit DOUBLE (e0 literals — DuckDB
      // bare decimals are DECIMAL typed), same tree shape as the Spark
      // side; per-term contributions rounded to 6dp then DECIMAL-summed
      // so the score is order-independent on both engines
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |bm_pairs AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM (SELECT doc_id, cast(len(t) AS bigint) AS dl, unnest(t) AS token
         |        FROM toks)
         |  WHERE token IN ${bm25TermsSql}
         |  GROUP BY 1, 2),
         |bm_df AS (SELECT token, count(*) AS df FROM bm_pairs GROUP BY 1),
         |bm_stats AS (SELECT count(*) AS n, cast(sum(len(t)) AS bigint) AS tot
         |  FROM toks),
         |bm_q(query_id, token) AS (VALUES ${bm25QueryRowsSql}),
         |bm_contrib AS (SELECT query_id, p.doc_id,
         |    cast(round(
         |      ((n - df + 0.5e0) / (df + 0.5e0)) *
         |      ((p.tf::DOUBLE * 2.2e0) /
         |       (p.tf::DOUBLE + 1.2e0 * (0.25e0 + 0.75e0 *
         |        (p.dl::DOUBLE / (tot::DOUBLE / n))))), 6) AS DECIMAL(28,9)) AS c
         |  FROM bm_pairs p JOIN bm_q USING (token) JOIN bm_df USING (token)
         |  CROSS JOIN bm_stats),
         |bm_scores AS (SELECT query_id, doc_id, cast(sum(c) AS double) AS score
         |  FROM bm_contrib GROUP BY 1, 2)
         |SELECT query_id, doc_id, score FROM (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS rnk
         |  FROM bm_scores) WHERE rnk <= 10""".stripMargin),
    // duplicated-n-gram fraction per doc (Gopher/RefinedWeb-style
    // corpus-level boilerplate signal)
    Registered("ngram_novelty", (s, d) =>
        TextAnalysis.ngramNovelty(Tables.documents(s, d), "doc_id", "text"),
      s"""WITH nn_toks AS (SELECT doc_id, $tok AS t FROM documents),
         |nn_grams AS (SELECT DISTINCT doc_id,
         |    cast('0x' || substr(md5(s), 1, 12) AS bigint) AS gh
         |  FROM (SELECT doc_id, unnest(${TextFunctions.shinglesSql("t", 3)}) AS s
         |        FROM nn_toks)),
         |nn_df AS (SELECT gh, count(*) AS df FROM nn_grams GROUP BY 1),
         |nn_per AS (SELECT doc_id, cast(count(*) AS bigint) AS n_grams,
         |    cast(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS bigint) AS dup_grams
         |  FROM nn_grams JOIN nn_df USING (gh) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_grams, 0) AS n_grams,
         |  coalesce(dup_grams, 0) AS dup_grams,
         |  coalesce(dup_grams, 0)::DOUBLE / greatest(coalesce(n_grams, 0), 1)
         |    AS dup_fraction
         |FROM documents d LEFT JOIN nn_per USING (doc_id)""".stripMargin),
    // per-source quality z-scores: "bad for its provenance" beats any
    // absolute quality threshold across heterogeneous sources
    Registered("quality_calibration", (s, d) =>
        TextAnalysis.qualityCalibration(Tables.documents(s, d), "doc_id",
          "text", "source"),
      // same moment arithmetic as embedding_outliers (decimal-cast sums,
      // sqrt of a zero-clamped variance), per source
      s"""WITH qc AS (SELECT doc_id, source,
         |  $qualityPointsSql / cast(10.0 AS double) AS q
         |  FROM (SELECT doc_id, source, $tok AS t FROM documents)),
         |qm AS (SELECT source,
         |    cast(sum(cast(q AS DECIMAL(28,12))) AS double) / count(*) AS m,
         |    cast(sum(cast(q * q AS DECIMAL(28,12))) AS double) / count(*) AS msq
         |  FROM qc GROUP BY 1),
         |qs2 AS (SELECT source, m, sqrt(greatest(msq - m * m, 0.0e0)) AS sd FROM qm)
         |SELECT doc_id, qc.source, q AS quality_score,
         |  CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (q - m) / sd END AS z_score,
         |  (CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (q - m) / sd END) < -1.0e0 AS is_low
         |FROM qc JOIN qs2 USING (source)""".stripMargin),
  )
}
