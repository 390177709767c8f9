package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.Materialize.MaterializeOps

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All pure map-side
  * column expressions (whole-stage codegen, no shuffle), so they run
  * at scan speed on 100 TB.
  */
object TextAnalysis {

  /** Marker words per language for the n-gram/stopword heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of"),
    "es" -> Seq("el", "la", "los", "de"),
    "fr" -> Seq("le", "les", "des", "et"),
    "de" -> Seq("der", "die", "das", "und"))

  private def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))

  /** C8: heuristic language ID — argmax of marker-word counts with a
    * fixed tie order, 'other' when nothing matches.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = col("__toks")
    val scored = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(
        (Seq(col(idCol).as("doc_id")) ++
          LangMarkers.map { case (l, ws) => markerScore(toks, ws).as(s"score_$l") }): _*)
    val best = LangMarkers.map { case (l, _) => col(s"score_$l") }
      .reduce((a, b) => greatest(a, b))
    val pred = LangMarkers.foldRight(lit("other")) { case ((l, _), els) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    // foldRight gives priority to the first language in LangMarkers on ties
    scored.withColumn("pred_lang", pred)
  }

  /** C9: quality metrics + a deterministic composite score.
    *
    * One native codegen'd kernel call per row
    * (graft.plans.QualityStatsExpr → GraftText.qualityStats): tokenize,
    * token-length sum, stopword count and punct count fused into a
    * single flat loop — the interpreted `aggregate`/`filter` HOF form
    * it replaces is kept as [[qualityHof]] and pinned bit-identical by
    * TextExprSpec. The six field extractions below are GetStructField
    * over one subexpression — subexpression elimination runs the
    * kernel once per row.
    */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val q = col("__q")
    docs.select(col(idCol).as("doc_id"),
        qualityStats(col(textCol)).as("__q"))
      .select(col("doc_id"),
        q.getField("n_chars").as("n_chars"),
        q.getField("n_tokens").as("n_tokens"),
        q.getField("avg_token_len").as("avg_token_len"),
        q.getField("punct_ratio").as("punct_ratio"),
        q.getField("stopword_ratio").as("stopword_ratio"),
        q.getField("quality_score").as("quality_score"))
  }

  /** Reference implementation of [[quality]] from built-in HOFs — for
    * the parity spec only (interpreted lambdas; NOT for hot paths).
    */
  def qualityHof(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = col("__toks")
    docs.select(col(idCol), col(textCol), tokensHof(col(textCol)).as("__toks")).select(
      col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars"),
      size(toks).as("n_tokens"),
      (aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
        greatest(size(toks), lit(1))).as("avg_token_len"),
      ((length(col(textCol)) -
        length(regexp_replace(col(textCol), "[.,!?;:]", ""))).cast("double") /
        greatest(length(col(textCol)), lit(1))).as("punct_ratio"),
      (size(filter(toks, t => Stopwords.map(s => t === s).reduce(_ || _))).cast("double") /
        greatest(size(toks), lit(1))).as("stopword_ratio"))
      .withColumn("quality_score",
        (when(col("n_tokens") >= 5, lit(4)).otherwise(lit(0)) +
          when(col("stopword_ratio") > 0.05, lit(3)).otherwise(lit(0)) +
          when(col("avg_token_len") >= 3.0 && col("avg_token_len") <= 10.0, lit(3))
            .otherwise(lit(0))).cast("double") / 10.0)
  }

  /** BPE-ish token regex: letter runs, digit runs, or single symbols —
    * a portable approximation of byte-pair pretokenization.
    */
  val TokenRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** C10: token counting — whitespace tokens and regex tokens. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(tokens(col(textCol))).as("ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)), lit(TokenRegex), lit(0))).as("re_tokens"),
      length(col(textCol)).as("n_chars"))

  /** Redaction patterns (PII-shaped): email-like tokens, E.164-ish
    * separated phone numbers, dotted-quad IPv4 addresses (strict
    * 0-255 octets), and long digit runs. Kept RE2/Java-portable (no
    * lookarounds; `\b` is the ASCII word boundary in both engines).
    */
  val EmailRegex = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRegex = "\\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}"
  val Ipv4Regex =
    "\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])" +
      "(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b"
  val LongNumberRegex = "[0-9]{6,}"

  /** Redact PII-shaped spans, count what was removed. Replacement
    * order matters and is fixed (email → phone → IPv4 → digit run):
    * each class's digits must be consumed by its own marker before
    * the catch-all digit-run pass sees them; counts are taken on the
    * ORIGINAL text per class (an email's embedded 6-digit run counts
    * as both, exactly once each — same on the oracle side).
    */
  def redact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        col(textCol), EmailRegex, "<EMAIL>"),
        PhoneRegex, "<PHONE>"),
        Ipv4Regex, "<IP>"),
        LongNumberRegex, "<NUM>").as("redacted"),
      size(regexp_extract_all(col(textCol), lit(EmailRegex), lit(0))).as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRegex), lit(0))).as("n_phones"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Regex), lit(0))).as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(LongNumberRegex), lit(0))).as("n_numbers"))

  /** Deterministic PII fixture around a document: appends one email,
    * one separated E.164-ish phone, one IPv4 and one 6-digit account
    * run, all derived from the id — the driver corpus carries no PII
    * classes of its own, so the fixture is what makes [[redact]]'s
    * classes LIVE at every driver SF. [[wrapPiiSql]] is the DuckDB
    * twin (byte-identical output by construction).
    */
  def wrapPii(id: Column, text: Column): Column = concat(
    text,
    lit(" contact user"), id.cast("string"),
    lit("@mail.example.com ip 10."),
    (id % 200).cast("string"), lit("."),
    ((id * 7) % 250).cast("string"), lit("."),
    (id % 250).cast("string"),
    lit(" tel +1-415-555-"), lpad((id % 10000).cast("string"), 4, "0"),
    lit(" acct "), (lit(900000L) + id % 100000).cast("string"))

  /** DuckDB twin of [[wrapPii]]. */
  def wrapPiiSql(idExpr: String, textExpr: String): String =
    s"""$textExpr || ' contact user' || cast($idExpr AS VARCHAR)
       | || '@mail.example.com ip 10.'
       | || cast($idExpr % 200 AS VARCHAR) || '.'
       | || cast(($idExpr * 7) % 250 AS VARCHAR) || '.'
       | || cast($idExpr % 250 AS VARCHAR)
       | || ' tel +1-415-555-' || lpad(cast($idExpr % 10000 AS VARCHAR), 4, '0')
       | || ' acct ' || cast(900000 + $idExpr % 100000 AS VARCHAR)""".stripMargin
      .replace("\n", "")

  /** Sparse PII fixture for the per-source audit ([[piiStats]]):
    * unlike [[wrapPii]] (every class on every doc — right for testing
    * the REDACTOR), each class is planted on its own id stride so
    * per-source incidence RATES vary and the audit aggregation has
    * something real to report at driver SFs. [[wrapPiiSparseSql]] is
    * the DuckDB twin.
    */
  def wrapPiiSparse(id: Column, text: Column): Column = concat(
    text,
    when(id % 2 === 0, concat(lit(" contact user"), id.cast("string"),
      lit("@mail.example.com"))).otherwise(lit("")),
    when(id % 3 === 0, concat(lit(" tel +1-415-555-"),
      lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
    when(id % 5 === 0, concat(lit(" ip 10."), (id % 200).cast("string"),
      lit("."), ((id * 7) % 250).cast("string"), lit("."),
      (id % 250).cast("string"))).otherwise(lit("")),
    when(id % 7 === 0, concat(lit(" acct "),
      (lit(900000L) + id % 100000).cast("string"))).otherwise(lit("")))

  /** DuckDB twin of [[wrapPiiSparse]]. */
  def wrapPiiSparseSql(idExpr: String, textExpr: String): String =
    s"""$textExpr
       | || CASE WHEN $idExpr % 2 = 0 THEN ' contact user'
       |      || cast($idExpr AS VARCHAR) || '@mail.example.com' ELSE '' END
       | || CASE WHEN $idExpr % 3 = 0 THEN ' tel +1-415-555-'
       |      || lpad(cast($idExpr % 10000 AS VARCHAR), 4, '0') ELSE '' END
       | || CASE WHEN $idExpr % 5 = 0 THEN ' ip 10.'
       |      || cast($idExpr % 200 AS VARCHAR) || '.'
       |      || cast(($idExpr * 7) % 250 AS VARCHAR) || '.'
       |      || cast($idExpr % 250 AS VARCHAR) ELSE '' END
       | || CASE WHEN $idExpr % 7 = 0 THEN ' acct '
       |      || cast(900000 + $idExpr % 100000 AS VARCHAR) ELSE '' END""".stripMargin
      .replace("\n", "")

  /** Per-source PII audit (the report a curation run publishes next to
    * its redacted corpus): each document's per-class redact counts
    * ([[redact]]'s patterns on the ORIGINAL text), unpivoted to
    * (source, class) incidences and aggregated with ROLLUP — per
    * source×class the row count, affected-doc incidences, total spans
    * and incidence rate; the (source) and () rollup rows read as
    * "doc-class incidences", a doc affected in two classes counting
    * once per class.
    *
    * Scale shape: the four regex counts run in the scan (one pass over
    * text, no payload past the project), the explode carries four
    * small longs per doc, and the rollup is ONE partial-agg'd shuffle
    * on (source, class) — sources × 4 classes of output rows no matter
    * the corpus size.
    */
  def piiStats(docs: DataFrame, idCol: String, srcCol: String,
               textCol: String): DataFrame = {
    val perDoc = docs.select(
      col(srcCol).as("source"),
      size(regexp_extract_all(col(textCol), lit(EmailRegex), lit(0))).as("email"),
      size(regexp_extract_all(col(textCol), lit(PhoneRegex), lit(0))).as("phone"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Regex), lit(0))).as("ip"),
      size(regexp_extract_all(col(textCol), lit(LongNumberRegex), lit(0))).as("number"))
    val unpivoted = perDoc.select(col("source"),
      explode(map(
        lit("email"), col("email"), lit("phone"), col("phone"),
        lit("ip"), col("ip"), lit("number"), col("number")))
        .as(Seq("pii_class", "n")))
    unpivoted.rollup(col("source"), col("pii_class"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("n") > 0, 1L).otherwise(0L)).as("hits"),
        sum(col("n").cast("long")).as("spans"))
      .select(col("source"), col("pii_class"), col("n_rows"), col("hits"),
        col("spans"),
        (col("hits").cast("double") / col("n_rows").cast("double")).as("hit_rate"))
  }

  /** Unicode script classes as PORTABLE literal code-point ranges —
    * deliberately NOT `\p{script=...}` classes, whose member sets
    * depend on each engine's Unicode table version; explicit BMP
    * ranges are the same bytes on Java regex and RE2 (`\x{...}` is
    * the hex escape both accept). Declaration order is the dominance
    * tie-break order. Latin spans ASCII + Latin-1/Extended-A letters
    * (the two division signs excluded).
    */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}\\x{00F8}-\\x{017F}",
    "han" -> "\\x{4E00}-\\x{9FFF}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "arabic" -> "\\x{0600}-\\x{06FF}",
    "devanagari" -> "\\x{0900}-\\x{097F}",
    "kana" -> "\\x{3040}-\\x{30FF}",
    "hangul" -> "\\x{AC00}-\\x{D7AF}",
    "greek" -> "\\x{0370}-\\x{03FF}",
    "hebrew" -> "\\x{0590}-\\x{05FF}")

  /** Unicode-script histogram + dominant script per document — the
    * cheap first multilingual gate public pipelines run BEFORE an
    * n-gram language model ([[langId]] here): a doc whose chars are
    * mostly Han needs no trigram table to route, and a doc whose
    * script disagrees with its claimed language is a mojibake /
    * mislabel signal complementing the C104 encoding repair.
    *
    * Counts are codepoint counts per class (`length(text) -
    * length(regexp_replace(text, '[class]', ''))` — both engines count
    * codepoints, and every class char is BMP so the subtraction is
    * engine-identical); `dominant_script` is the first class in
    * [[ScriptClasses]] order reaching the max letter-script count
    * ('none' when no letter script appears); `script_count` is how
    * many letter scripts appear at all (≥2 with mixed content — the
    * mojibake trigger). Zero shuffle: everything runs in the scan.
    */
  def scriptProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(ranges: String): Column =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), s"[$ranges]", ""))).cast("long")
    val counts = ScriptClasses.map { case (name, r) => name -> cnt(r) }
    val maxCnt = greatest(counts.map(_._2): _*)
    val dominant = counts.foldLeft(when(maxCnt === 0, "none")) {
      case (acc, (name, c)) => acc.when(c === maxCnt, name)
    }
    val allRanges = ScriptClasses.map(_._2).mkString
    docs.select(
      (col(idCol).as("doc_id") +:
        dominant.as("dominant_script") +:
        counts.map { case (n, c) => c.cast("long").as(s"n_$n") } :+
        cnt("0-9").as("n_digit") :+
        // chars in NO class, digit, or whitespace: punctuation,
        // symbols, scripts outside the class table
        length(regexp_replace(col(textCol),
          s"[${allRanges}0-9\\s]", "")).cast("long").as("n_other") :+
        counts.map { case (_, c) => when(c > 0, 1L).otherwise(0L) }
          .reduce(_ + _).as("script_count")): _*)
  }

  /** Planted multilingual fixture for [[scriptProfile]]: the driver
    * corpus is pure ASCII (the `lang` column is a label), so six id
    * strides append snippets covering every [[ScriptClasses]] class;
    * the `%7==2` stride appends a Han block LONGER than the base text
    * so `dominant_script` genuinely flips there. [[wrapScriptsSql]] is
    * the DuckDB twin.
    */
  def wrapScripts(id: Column, text: Column): Column =
    when(id % 7 === 1, concat(text, lit(" привет мир данные поток")))
      .when(id % 7 === 2, concat(text, lit(" "),
        repeat(lit("数据处理引擎分析内核流"), 18)))
      .when(id % 7 === 3, concat(text, lit(" ελληνικά κείμενο देवनागरी लिपि")))
      .when(id % 7 === 4, concat(text, lit(" مرحبا بالعالم שלום עולם")))
      .when(id % 7 === 5, concat(text,
        lit(" こんにちは世界 カタカナ 漢字")))
      .when(id % 7 === 6, concat(text, lit(" 안녕하세요 세계 한글")))
      .otherwise(text)

  /** DuckDB twin of [[wrapScripts]]. */
  def wrapScriptsSql(idExpr: String, textExpr: String): String =
    s"""CASE
       | WHEN $idExpr % 7 = 1 THEN $textExpr || ' привет мир данные поток'
       | WHEN $idExpr % 7 = 2 THEN $textExpr || ' '
       |   || repeat('数据处理引擎分析内核流', 18)
       | WHEN $idExpr % 7 = 3 THEN $textExpr || ' ελληνικά κείμενο देवनागरी लिपि'
       | WHEN $idExpr % 7 = 4 THEN $textExpr || ' مرحبا بالعالم שלום עולם'
       | WHEN $idExpr % 7 = 5 THEN $textExpr || ' こんにちは世界 カタカナ 漢字'
       | WHEN $idExpr % 7 = 6 THEN $textExpr || ' 안녕하세요 세계 한글'
       | ELSE $textExpr END""".stripMargin.replace("\n", "")

  /** Repetition scoring: share of duplicate word bigrams — high values
    * flag degenerate/boilerplate text. `1 - distinct/total` over 2-gram
    * shingles; 0.0 for docs with <2 tokens.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), shingles(col("__toks"), 2).as("__grams"))
      .select(col("doc_id"),
        size(col("__grams")).as("n_bigrams"),
        when(size(col("__grams")) > 0,
          lit(1.0) - size(array_distinct(col("__grams"))).cast("double") / size(col("__grams")))
          .otherwise(lit(0.0)).as("repetition_ratio"))

  /** C46: token-distribution diversity — Gini–Simpson index
    * (`1 − Σ(c/n)²`) and top-token share per document: the
    * transcendental-free twin of token entropy (same curation signal —
    * boilerplate and keyword-stuffed docs score low diversity / high
    * top-share — but pure integer-ratio arithmetic, so the DuckDB twin
    * is bit-identical with no log() cross-engine ulp risk).
    *
    * ZERO shuffle: one native kernel call per row
    * (graft.plans.TokenDiversityExpr — tokenize + sorted-run walk in
    * the scan) instead of the (doc, token) explode→count→re-aggregate
    * double shuffle (`ReferenceForms.tokenDiversityShuffle`, the parity
    * reference); docs that tokenize to nothing keep a zero row for
    * free.
    */
  def tokenDiversity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = col("__s")
    docs.select(col(idCol).as("doc_id"),
        tokenDiversityStats(col(textCol)).as("__s"))
      .select(col("doc_id"),
        s.getField("n_tokens").as("n_tokens"),
        s.getField("distinct_tokens").as("distinct_tokens"),
        s.getField("top_share").as("top_share"),
        s.getField("simpson_diversity").as("simpson_diversity"))
  }

  /** C11: document fingerprint — md5 of whitespace-normalized text,
    * plus a 2-hex-char shard bucket (the partition key a 100 TB dedup
    * would shuffle on).
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val normalized = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    docs.select(
      col(idCol).as("doc_id"),
      md5(normalized.cast("binary")).as("fingerprint"))
      .withColumn("bucket", substring(col("fingerprint"), 1, 2))
  }

  /** C33: per-document characteristic terms — each doc's top `k` tokens
    * by tf·idf with a LINEAR idf ratio (`tf × N ∕ df`): ranking by
    * `tf ∕ df` is what tf-idf contributes inside one document (N is
    * constant), and staying log-free keeps the score a pure
    * multiply/divide both engines round identically (transcendental
    * `ln` is not bit-portable across libm implementations).
    *
    * Scale shape: the (doc, token, tf) table is ONE corpus scan + one
    * (doc, token) partial-agg shuffle, then MATERIALIZED — it feeds both
    * the document-frequency aggregation and the scoring join, and
    * without the cut the tokenize+explode pipeline would run twice. The
    * df side is vocabulary-sized and joins on the token key (a shuffle
    * join — vocabulary grows with the corpus, so no broadcast hint);
    * the per-doc top-k runs through the custom TopKPerKey operator, so
    * the final shuffle carries O(docs × k) rows, not every (doc, token)
    * pair.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .materialized
    val dfreq = pairs.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val scored = pairs.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs)) // one row — the N scalar
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        // UNROUNDED: an int∕int quotient is one correctly-rounded IEEE
        // division — bit-identical on both engines — while round()ing
        // it can land on non-dyadic x.5e-6 ties (df ≡ 0 mod 128 with
        // odd alignment) where the engines' rounding paths diverge
        // (the ngram_lm_backoff lesson applied before it bites here)
        ((col("tf") * col("__n")).cast("double") / col("df")).as("score"))
    // TopKPerKey sorts one direction, so descending score rides a
    // negated copy with the ascending token tie-break beside it
    graft.plans.TopK.perKey(scored.withColumn("__neg", -col("score")),
        Seq("doc_id"), Seq("__neg", "token"), k, descending = false)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"))
  }

  /** C34: corpus-level collocation mining — the top `topN` word bigrams
    * by LIFT, `P(w1 w2) ∕ (P(w1)·P(w2))` = `n_pair × T ∕ (n_w1 × n_w2)`
    * (T = total tokens). Lift is a monotone transform of PMI
    * (`PMI = log lift`), so the ranking is the PMI ranking without the
    * non-portable logarithm. `minCount` floors the pair support (rare
    * co-occurrences have unreliable lift).
    *
    * Scale shape: unigrams and bigrams are counted in ONE corpus scan —
    * `explode(tokens ++ shingles2)` (a bigram contains a space, a token
    * never does, so one term column carries both) — into a single
    * vocabulary-sized count table, MATERIALIZED because it feeds four
    * consumers (the bigram rows, both unigram joins, and the total-token
    * scalar). The global top-N plans as TakeOrderedAndProject.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5,
                   topN: Int = 50): DataFrame = {
    val counts = docs
      .select(tokens(col(textCol)).as("__t"))
      .select(explode(concat(col("__t"), shingles(col("__t"), 2))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .materialized
    val uni = counts.filter(!col("term").contains(" "))
    val big = counts.filter(col("term").contains(" "))
      .select(split(col("term"), " ").getItem(0).as("w1"),
        split(col("term"), " ").getItem(1).as("w2"),
        col("cnt").as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val total = uni.agg(sum(col("cnt")).as("__t"))
    big
      .join(uni.select(col("term").as("w1"), col("cnt").as("n_w1")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("cnt").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(total)) // one row — the T scalar
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        // UNROUNDED int∕int lift: bit-identical IEEE ops on both
        // engines; a round() could land on non-dyadic x.5e-6 ties
        // where the engines' rounding paths diverge (the
        // ngram_lm_backoff lesson)
        ((col("n_pair").cast("double") * col("__t").cast("double"))
          / (col("n_w1").cast("double") * col("n_w2").cast("double"))).as("score"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** C48: BM25 top-k retrieval — rank documents against a fixed set of
    * keyword queries with BM25 (k1 = 1.2, b = 0.75) and keep each
    * query's `k` best docs. The idf is the RATIO form
    * `(N − df + 0.5) ∕ (df + 0.5)` — BM25's idf without the log wrapper
    * (monotone per term, so each term's doc ordering is the classic
    * one, and log-free keeps the score bit-portable; the reference's
    * analog is the tf-weighted grep/index family, re-ranked).
    *
    * Scale shape: the posting shuffle is restricted to the QUERY
    * VOCABULARY before it happens (`isin` on the exploded tokens runs
    * map-side in the scan), so the (doc, term, tf) table carries
    * O(docs × |query terms|) rows, never the corpus vocabulary. The
    * df table and the query table are bounded by the query-term count
    * (compile-time broadcast is legitimate, like decontaminate's gram
    * set); corpus length stats are a one-row aggregate broadcast back.
    * Per-term contributions are rounded then summed as DECIMAL so the
    * per-(query, doc) score is order-independent and engine-exact;
    * the top-k cut runs through TopKPerKey (O(queries × k) final
    * shuffle). Two corpus scans total: postings, and the length stats
    * (count + sum partial-agg'd to one row per partition).
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 queries: Seq[(Int, Seq[String])], k: Int = 10): DataFrame = {
    val queryTerms = queries.flatMap(_._2).distinct.sorted
    val pairs = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("__dl0"),
        explode(col("__t")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("__dl0")).as("dl"))
      .materialized // feeds df agg AND the scoring join
    val dfreq = pairs.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = docs.select(size(tokens(col(textCol))).cast("long").as("__l"))
      .agg(count(lit(1)).as("__n"), sum(col("__l")).as("__tot"))
    bm25Score(pairs, dfreq, stats, queries, k)
  }

  /** The BM25 idf — shared by the batch scorer, the index probe, and
    * the streaming alerter so the arithmetic tree is identical.
    */
  private[graft] def bm25Idf(n: Column, df: Column): Column =
    (n - df + lit(0.5)) / (df + lit(0.5))

  /** The BM25 tf-saturation term (k1 = 1.2, b = 0.75, constants inlined
    * so both engines parse the same double literals).
    */
  private[graft] def bm25Sat(tf: Column, dl: Column, avgdl: Column): Column =
    (tf.cast("double") * lit(2.2)) /
      (tf.cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (dl.cast("double") / avgdl)))

  /** Scoring tail shared by [[bm25Search]] and [[bm25SearchIndexed]]:
    * join postings to the (broadcast, query-term-bounded) df and query
    * tables plus the one-row stats, DECIMAL-sum the 6dp-rounded per-term
    * contributions, cut per query through TopKPerKey.
    */
  private def bm25Score(pairs: DataFrame, dfreq: DataFrame, stats: DataFrame,
                        queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    val spark = pairs.sparkSession
    val q = spark.createDataFrame(
      queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) })
      .toDF("query_id", "token")
    val avgdl = col("__tot").cast("double") / col("__n")
    val scores = pairs
      .join(broadcast(q), Seq("token"))
      .join(broadcast(dfreq), Seq("token")) // ≤ |query terms| rows
      .crossJoin(broadcast(stats)) // one row — the N / avgdl scalars
      .select(col("query_id"), col("doc_id"),
        round(bm25Idf(col("__n"), col("df")) *
          bm25Sat(col("tf"), col("dl"), avgdl), 6)
          .cast("decimal(28,9)").as("__c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).cast("double").as("score"))
    graft.plans.TopK.perKey(scores.withColumn("__neg", -col("score")),
        Seq("query_id"), Seq("__neg", "doc_id"), k, descending = false)
      .select(col("query_id"), col("doc_id"), col("score"))
  }

  /** DEFAULT token partition count for the persisted BM25 index —
    * postings land in bucket directories keyed by a 48-bit md5 token
    * hash, so a probe's scan prunes to the query terms' buckets. The
    * count is a BUILD-TIME parameter persisted in the index's meta
    * table (probes and appends read it back — never hard-code it on
    * the read side): dir-level pruning discards `1 − |terms|/buckets`
    * of the postings, so a natural-vocabulary corpus wants buckets ≫
    * query-term count (soak runs use 1024: a 30-term probe touches
    * ≤ 3% of dirs), while tiny test corpora keep the 64 default to
    * bound file counts.
    */
  val Bm25Buckets = 64

  private def tkeyExpr(token: Column, buckets: Int): Column =
    (conv(substring(md5(token), 1, 12), 16, 10).cast("long")
      % buckets).cast("int")

  /** Scala twin of [[tkeyExpr]] for probe-time partition-filter
    * literals (same md5, same 48-bit prefix, same modulus).
    */
  private[graft] def tkeyOf(token: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes("UTF-8"))
    val hex = d.take(6).map(b => f"$b%02x").mkString // first 12 hex chars
    (java.lang.Long.parseLong(hex, 16) % buckets).toInt
  }

  /** Bucket count recorded at build time (`path/meta`); indexes from
    * before the meta table existed default to [[Bm25Buckets]].
    */
  private def bucketsOf(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    try Tables.read(spark, s"$path/meta").collect()(0).getInt(0)
    catch { case _: org.apache.spark.sql.AnalysisException => Bm25Buckets }

  /** Build the persisted BM25 index — the production form of
    * [[bm25Search]]'s per-query corpus scan (same convention as
    * Dedup.buildMinhashIndex / Similarity.buildLshIndex: scan the
    * corpus ONCE at build time, answer queries from the index at
    * O(query) cost):
    *
    *  - `path/postings` — (token, doc_id, tf, dl), FULL vocabulary,
    *    directory-partitioned by the 48-bit token-hash bucket `tkey`
    *    so a probe reads only the query terms' buckets (partition
    *    pruning — spec-pinned);
    *  - `path/df`       — (token, df), the document frequencies;
    *  - `path/stats`    — one row (n docs, total tokens).
    *
    * One tokenize scan builds the postings; the df table derives from
    * the WRITTEN postings artifact (a column-pruned token-only
    * read-back), NOT from an in-memory cut — a corpus-scale postings
    * table held in block-manager memory is exactly what kills an
    * executor pool at index-build scale (soak-measured: 2 GB corpus →
    * ~130M posting rows → UNABLE_TO_ACQUIRE_MEMORY with a
    * localCheckpoint; disk-first builds clean). The length-stats scan
    * is count+sum only.
    *
    * Layout: postings are shuffled onto their bucket and SORTED BY
    * TOKEN within each file, so a probe prunes twice — directories by
    * `tkey`, then row groups by the parquet token min/max stats (an
    * unsorted file's row groups all span the whole bucket vocabulary
    * and nothing inside a touched dir can be skipped). `buckets`
    * scales with the corpus vocabulary and is persisted in
    * `path/meta`; probes/appends read it back.
    */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     path: String, buckets: Int = Bm25Buckets): Unit = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(buckets).toDF("buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("__dl0"),
        explode(col("__t")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("__dl0")).as("dl"))
      .withColumn("tkey", tkeyExpr(col("token"), buckets))
      .repartition(col("tkey"))
      .sortWithinPartitions(col("tkey"), col("token"))
      .write.mode("overwrite").partitionBy("tkey").parquet(s"$path/postings")
    Tables.read(spark, s"$path/postings") // token column only — pruned scan
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/df")
    docs.select(size(tokens(col(textCol))).cast("long").as("__l"))
      .agg(count(lit(1)).as("__n"), sum(col("__l")).as("__tot"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Extend a persisted BM25 index with NEW documents (ids must not
    * already be indexed — same contract as Dedup.appendToMinhashIndex).
    * Pure parquet appends: the df and stats tables are stored as
    * PARTIALS (one batch's counts per row group) and the probe
    * aggregates them, so a failed append may simply be retried after
    * cleanup and no existing row is ever rewritten.
    */
  def appendToBm25Index(docs: DataFrame, idCol: String, textCol: String,
                        path: String): Unit = {
    // def, not a cached val: the batch is re-scanned per artifact
    // rather than held in block-manager memory (the build-scale OOM
    // mode; see buildBm25Index) — two extra batch scans is the
    // memory-safe trade at any batch size
    def pairs = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("__dl0"),
        explode(col("__t")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("__dl0")).as("dl"))
    val buckets = bucketsOf(docs.sparkSession, path)
    pairs.withColumn("tkey", tkeyExpr(col("token"), buckets))
      .repartition(col("tkey"))
      .sortWithinPartitions(col("tkey"), col("token"))
      .write.mode("append").partitionBy("tkey").parquet(s"$path/postings")
    pairs.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .write.mode("append").parquet(s"$path/df")
    docs.select(size(tokens(col(textCol))).cast("long").as("__l"))
      .agg(count(lit(1)).as("__n"), sum(col("__l")).as("__tot"))
      .coalesce(1).write.mode("append").parquet(s"$path/stats")
  }

  /** Probe a persisted BM25 index: reads ONLY the query terms' posting
    * buckets (directory pruning on `tkey`) plus the tiny df/stats
    * tables — per-query cost O(matching postings), never a corpus
    * scan. The df/stats reads AGGREGATE over batch partials (one per
    * build/append), so an appended index probes identically to one
    * built in a single pass. Bit-identical to [[bm25Search]] over the
    * same corpus (spec-pinned): the scoring tail is the same code.
    */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: Seq[(Int, Seq[String])],
                        k: Int = 10): DataFrame = {
    val terms = queries.flatMap(_._2).distinct.sorted
    val buckets = bucketsOf(spark, path)
    val tkeys = terms.map(tkeyOf(_, buckets)).distinct
    val pairs = Tables.read(spark, s"$path/postings")
      .filter(col("tkey").isin(tkeys: _*) && col("token").isin(terms: _*))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"))
    val dfreq = Tables.read(spark, s"$path/df")
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(sum(col("df")).as("df"))
    val stats = Tables.read(spark, s"$path/stats")
      .agg(sum(col("__n")).as("__n"), sum(col("__tot")).as("__tot"))
    bm25Score(pairs, dfreq, stats, queries, k)
  }

  /** C51: per-source quality calibration — each document's quality
    * score z-scored against ITS SOURCE's mean/std (the "is this doc bad
    * for its provenance" signal: a 0.4 is normal for a crawl source and
    * an outlier for a curated one; absolute-threshold filters miss
    * that). `is_low` flags z < −1. Constant-quality sources get z = 0
    * (the sqrt argument is clamped at zero — rounding can drive the
    * variance a few ulps negative).
    *
    * Scale shape: ONE quality-kernel scan, checkpointed (ids + source +
    * one double), feeds both the per-source moment aggregation
    * (decimal-cast sums — order-independent, engine-exact) and the
    * re-join; the moments table is source-cardinality and joins back on
    * the source key.
    */
  def qualityCalibration(docs: DataFrame, idCol: String, textCol: String,
                         sourceCol: String): DataFrame = {
    val scored = docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"),
        qualityStats(col(textCol)).getField("quality_score").as("__q"))
      .materialized // feeds moments agg AND the join
    scored.join(momentsOf(scored, col("__q")), Seq("source"))
      .select(col("doc_id"), col("source"), col("__q").as("quality_score"),
        when(col("__sd") === 0.0, lit(0.0))
          .otherwise((col("__q") - col("__m")) / col("__sd")).as("z_score"))
      .withColumn("is_low", col("z_score") < -1.0)
  }

  /** Per-source quality moments (source, __m, __sd) over a reference
    * corpus — the calibration table [[qualityCalibration]] uses
    * internally and DocStreams.qualityAdmission consumes as its static
    * side (decimal-cast sums, zero-clamped sd).
    */
  def qualityMoments(docs: DataFrame, textCol: String,
                     sourceCol: String): DataFrame =
    momentsOf(docs.select(col(sourceCol).as("source"),
      qualityStats(col(textCol)).getField("quality_score").as("__q")),
      col("__q"))

  private def momentsOf(scored: DataFrame, q: Column): DataFrame =
    scored.groupBy(col("source")).agg(
      (sum(q.cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("__m"),
      (sum((q * q).cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("__msq"))
      .select(col("source"), col("__m"),
        sqrt(greatest(col("__msq") - col("__m") * col("__m"), lit(0.0)))
          .as("__sd"))

  /** C50: per-document duplicated-n-gram fraction — the share of a
    * doc's DISTINCT n-grams that occur in at least one other document
    * (the Gopher/RefinedWeb-style "duplicated n-gram" quality signal:
    * high fractions flag boilerplate, templated, or scraped text that
    * near-dup pair mining misses because no single partner document
    * matches). Docs too short to form an n-gram keep a zero row.
    *
    * Scale shape: grams become 48-bit md5 hashes in the scan, so every
    * shuffle carries longs, never gram strings; the distinct
    * (doc, gram-hash) table is MATERIALIZED once (it feeds the
    * document-frequency aggregation and the flag join); df is
    * vocabulary-sized and partial-agg'd. No self-join anywhere — cost
    * is linear in total grams, unlike the pair miners.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), explode(shingles(col("__t"), n)).as("__s"))
      .select(col("doc_id"),
        conv(substring(md5(col("__s")), 1, 12), 16, 10).cast("long").as("gh"))
      .distinct()
      .materialized // feeds df agg AND the flag join
    val dfreq = grams.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
    val per = grams.join(dfreq, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__ng"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("__dg"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__ng"), lit(0L)).as("n_grams"),
        coalesce(col("__dg"), lit(0L)).as("dup_grams"),
        (coalesce(col("__dg"), lit(0L)).cast("double") /
          greatest(coalesce(col("__ng"), lit(0L)), lit(1L))).as("dup_fraction"))
  }

  /** C60: text normalization — the canonicalization pass that fronts
    * every fingerprint/dedup stage in a real crawl pipeline (two
    * byte-different encodings of the same text must dedup together):
    *
    *   1. Unicode NFC (native codegen'd kernel `NfcExpr` — the JDK
    *      Normalizer, byte-identical to DuckDB's `nfc_normalize`);
    *   2. strip control characters except `\n` and `\t` (CR dies here,
    *      so CRLF collapses to LF);
    *   3. collapse space/tab runs to a single space and trim.
    *
    * Emits the normalized text plus a `changed` flag and before/after
    * char counts, so a pipeline can measure how dirty a source is.
    * Pure map-side (one scan, zero shuffle); already-NFC text passes
    * through the kernel without allocation.
    */
  def textNormalize(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val nfcCol = GraftPlanFactory.column(
      graft.plans.NfcExpr(GraftPlanFactory.expression(col(textCol))))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"), nfcCol.as("__n"))
      .select(col("doc_id"), col("__t"),
        trim(regexp_replace(regexp_replace(col("__n"),
          "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""), "[ \\t]+", " ")).as("normalized"))
      .select(col("doc_id"), col("normalized"),
        (col("normalized") =!= col("__t")).as("changed"),
        length(col("__t")).as("n_chars_before"),
        length(col("normalized")).as("n_chars_after"))
  }

  /** The Gopher "must contain ≥ 2 of these" required-word list
    * (Rae et al. 2021, "Scaling Language Models: ... Gopher",
    * appendix A1.1 quality filters — public paper, list verbatim).
    */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** C57: the Gopher document-quality rule bundle (Rae et al. 2021,
    * appendix A1.1) — the rule set production web-corpus curation
    * actually applies, reported per document as the raw metrics, so a
    * pipeline can re-threshold without re-scanning:
    *
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10]
    *   - symbol-to-word ratio (`#`, `...`, `…`) ≤ 0.1
    *   - ≤ 90% of lines start with a bullet (`- `, `* `, `• `)
    *   - ≤ 30% of lines end with an ellipsis
    *   - ≥ 80% of words contain at least one alphabetic character
    *   - ≥ 2 distinct hits from [[GopherRequiredWords]]
    *
    * SCOPE: the whole rule bundle is ASCII-English, deliberately — the
    * house tokenizer ([[TokenRegex]]) segments on `[a-z]`/`[0-9]`
    * classes, so accented/non-Latin words are already split before any
    * rule sees them, and the alpha rule's `[a-z]` matches that scope
    * (a `\p{L}` class here would not make the bundle Unicode-faithful
    * while the tokenizer is ASCII; Gopher itself is an English-corpus
    * filter). Run [[langId]] first and gate non-English text through
    * language-appropriate rules instead of this bundle.
    *
    * `keep` is the conjunction. Pure map-side column arithmetic (one
    * scan, zero shuffle — scan speed at 100 TB); every ratio is an
    * IEEE division of exact integers, so the DuckDB twin is
    * bit-identical (no rounding, no transcendentals). Line rules use
    * raw newline-split lines (space-trimmed per side, like Gopher's
    * formatting rules); documents with no newlines are one line.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col("__t")
    val toks = col("__toks")
    val lines = col("__lines")
    val nWords = size(toks)
    val nLines = size(lines)
    // total token chars without an aggregate lambda: concat then length
    val wordChars = length(concat_ws("", toks))
    val nHash = length(t) - length(replace(t, lit("#"), lit("")))
    val nEll3 = size(regexp_extract_all(t, lit("\\.\\.\\."), lit(0)))
    val nEllU = length(t) - length(replace(t, lit("…"), lit("")))
    val nBullet = size(filter(lines, l =>
      startswith(ltrim(l), lit("- ")) || startswith(ltrim(l), lit("* ")) ||
        startswith(ltrim(l), lit("• "))))
    val nEllLine = size(filter(lines, l =>
      endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
    val nAlpha = size(filter(toks, tk => tk.rlike("[a-z]")))
    val stopHits = GopherRequiredWords
      .map(w => when(array_contains(toks, w), 1).otherwise(0))
      .reduce(_ + _)
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        tokens(col(textCol)).as("__toks"),
        split(col(textCol), "\n", -1).as("__lines"))
      .select(col("doc_id"),
        nWords.as("n_words"),
        (wordChars.cast("double") / greatest(nWords, lit(1))).as("mean_word_len"),
        ((nHash + nEll3 + nEllU).cast("double") / greatest(nWords, lit(1)))
          .as("symbol_ratio"),
        (nBullet.cast("double") / greatest(nLines, lit(1))).as("bullet_frac"),
        (nEllLine.cast("double") / greatest(nLines, lit(1))).as("ellipsis_frac"),
        (nAlpha.cast("double") / greatest(nWords, lit(1))).as("alpha_frac"),
        stopHits.as("stop_hits"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_frac") <= 0.9 &&
          col("ellipsis_frac") <= 0.3 &&
          col("alpha_frac") >= 0.8 &&
          col("stop_hits") >= 2)
  }

  /** C58: the Gopher repetition signals (Rae et al. 2021, appendix
    * A1.1 "repetitious documents") [[repetition]] and [[ngramNovelty]]
    * don't cover — character-mass concentration in repeated n-grams:
    *
    *   - `top2_share` / `top3_share`: fraction of the document's
    *     characters attributable to its MOST FREQUENT word 2-/3-gram
    *     (`count × gram length ∕ doc chars`) — boilerplate headers and
    *     chorus-like text concentrate mass in one gram;
    *   - `dup5_char_mass`: fraction of characters attributable to
    *     5-grams occurring ≥ 2 times WITHIN the document — long-range
    *     internal repetition single-bigram ratios miss. Overlapping
    *     occurrences attribute their chars independently (the paper's
    *     convention; a cheap upper bound, flagging is the use).
    *
    * Scale shape: ZERO shuffle — per-document gram stats need no
    * cross-document state, so one native kernel call per row
    * (graft.plans.GramStatsExpr — shingle + sort + run-walk in the
    * scan) replaces the explode → (doc, n, gram) count shuffle →
    * TopKPerKey formulation, which is kept as the spec-pinned parity
    * reference ([[gopherRepetitionShuffle]]; it was the #2 tail of the
    * sf0.1 bench at 7.6 s — the kernel form runs at scan speed). Ties
    * for the top gram break on the lexicographically smaller gram
    * (binary UTF-8 order on both engines). Every share is an IEEE
    * division of exact integers — bit-portable.
    */
  def gopherRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = col("__s")
    val share = (cnt: Column, gram: Column) =>
      (cnt * length(gram)).cast("double") / greatest(col("n_chars"), lit(1))
    docs.select(col(idCol).as("doc_id"), length(col(textCol)).as("n_chars"),
        gramStats(tokens(col(textCol))).as("__s"))
      .select(col("doc_id"), col("n_chars"),
        s.getField("top2_gram").as("top2_gram"),
        s.getField("top2_count").as("top2_count"),
        share(s.getField("top2_count"), s.getField("top2_gram")).as("top2_share"),
        s.getField("top3_gram").as("top3_gram"),
        s.getField("top3_count").as("top3_count"),
        share(s.getField("top3_count"), s.getField("top3_gram")).as("top3_share"),
        (s.getField("dup5_chars").cast("double") /
          greatest(col("n_chars"), lit(1))).as("dup5_char_mass"))
  }

  /** Shuffle formulation of [[gopherRepetition]] — parity reference
    * only (explode + count shuffle + TopKPerKey; the kernel computes
    * the same values map-side).
    */
  def gopherRepetitionShuffle(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        explode(concat(shingles(col("__toks"), 2), shingles(col("__toks"), 3),
          shingles(col("__toks"), 5))).as("gram"))
      .withColumn("n",
        (length(col("gram")) - length(replace(col("gram"), lit(" "), lit(""))) + 1)
          .cast("int"))
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .materialized // feeds the top-1 cut AND the dup-5 aggregation
    val top = graft.plans.TopK.perKey(
        counts.filter(col("n").isin(2, 3)).withColumn("__neg", -col("c")),
        Seq("doc_id", "n"), Seq("__neg", "gram"), 1, descending = false)
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 2, col("gram"))).as("top2_gram"),
        max(when(col("n") === 2, col("c"))).as("__c2"),
        max(when(col("n") === 3, col("gram"))).as("top3_gram"),
        max(when(col("n") === 3, col("c"))).as("__c3"))
    val dup5 = counts.filter(col("n") === 5 && col("c") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * length(col("gram"))).as("__dup5"))
    docs.select(col(idCol).as("doc_id"), length(col(textCol)).as("n_chars"))
      .join(top, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("top2_gram"), lit("")).as("top2_gram"),
        coalesce(col("__c2"), lit(0L)).as("top2_count"),
        ((coalesce(col("__c2"), lit(0L)) * length(coalesce(col("top2_gram"), lit(""))))
          .cast("double") / greatest(col("n_chars"), lit(1))).as("top2_share"),
        coalesce(col("top3_gram"), lit("")).as("top3_gram"),
        coalesce(col("__c3"), lit(0L)).as("top3_count"),
        ((coalesce(col("__c3"), lit(0L)) * length(coalesce(col("top3_gram"), lit(""))))
          .cast("double") / greatest(col("n_chars"), lit(1))).as("top3_share"),
        (coalesce(col("__dup5"), lit(0L)).cast("double") /
          greatest(col("n_chars"), lit(1))).as("dup5_char_mass"))
  }

  /** Corpus token-frequency spectrum — the Good-Turing "frequency of
    * frequencies" + Zipf-mass audit of corpus health: for every
    * observed token frequency `freq`, the number of distinct types at
    * that frequency, the token mass they carry, and running totals
    * from the most frequent class down (hapax ratio, head-mass share,
    * vocabulary growth all read straight off the result).
    *
    * Exact integers end to end — no logs, bit-portable by
    * construction. The corpus-scale work is the two partial-agg'd
    * groupBys; the running-total window runs on the SPECTRUM, whose
    * cardinality is the number of distinct frequencies —
    * ≤ O(√total-tokens) rows (distinct counts 1..k sum to ≥ k(k+1)/2
    * occurrences), i.e. a few thousand rows for a 100 TB corpus — so
    * the unpartitioned window is safe at any scale.
    */
  def tokenSpectrum(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val spec = counts.groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("freq") * col("n_types"))
    val w = Window.orderBy(col("freq").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spec
      .withColumn("cum_types", sum(col("n_types")).over(w))
      .withColumn("cum_mass", sum(col("mass")).over(w))
  }

  /** Blocklist gate — the C4/RefinedWeb-style lexicon-and-domain
    * filter every public crawl pipeline runs early: drop a document
    * when its host is on the domain blocklist, or when blocked-lexicon
    * tokens exceed `maxBadPerMille` of its tokens (the fraction form —
    * C4's any-hit rule collapses to maxBadPerMille = 0). The threshold
    * compares INTEGERS (n_bad * 1000 <= n_tokens * permille), so
    * keep/drop never sits on a float grid and the DuckDB twin is
    * bit-exact. Emits per doc: (id, host, n_tokens, n_bad,
    * bad_terms — distinct sorted comma-joined, domain_blocked, keep).
    *
    * Scale shape: the lexicon and domain list travel as expression
    * literals (KB-scale, the codebook-scalar convention) — pure
    * map-side column ops, zero shuffle, scan-rate at 100 TB.
    */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
                    hostCol: Column, terms: Seq[String],
                    domains: Seq[String],
                    maxBadPerMille: Int = 30): DataFrame = {
    require(terms.nonEmpty && maxBadPerMille >= 0)
    val toks = tokens(col(textCol))
    val bad = filter(toks, t => t.isin(terms: _*))
    docs.select(col(idCol), hostCol.as("host"),
        size(toks).as("n_tokens"), size(bad).as("n_bad"),
        array_join(array_sort(array_distinct(bad)), ",").as("bad_terms"),
        hostCol.isin(domains: _*).as("domain_blocked"))
      .withColumn("keep",
        // long arithmetic: size() is IntegerType, and Int overflow at
        // ~2.1M blocked tokens / ~71M tokens is a job-killing
        // ARITHMETIC_OVERFLOW under ANSI mode, not a keep/drop bit
        !col("domain_blocked") &&
          col("n_bad").cast("long") * 1000 <=
            col("n_tokens").cast("long") * maxBadPerMille)
  }

  /** C105: the C4 cleaning-rule bundle (Raffel et al. 2020, "Exploring
    * the Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2 — the heuristics behind the public C4 corpus),
    * reported per page as raw counts + gate bits so a pipeline can
    * re-threshold without re-scanning:
    *
    *   - line retained only if it ends in terminal punctuation
    *     (`[.!?"]`), has ≥ 5 words, and does not contain "javascript";
    *   - page dropped when fewer than 3 lines survive, or the page
    *     contains `{`, or "lorem ipsum", or any lexicon word
    *     (`badWords` — the paper uses the public "List of Dirty ..."
    *     lexicon; callers pass their own, same convention as
    *     [[blocklistGate]]).
    *
    * Emits (n_lines, n_kept, has_brace, has_lorem, has_badword, keep,
    * clean_text — the surviving lines rejoined). `keep` is the paper's
    * conjunction. Pure map-side line algebra over one scan: zero
    * shuffle, scan-rate at 100 TB; every decision is a string/integer
    * predicate (no floats), so the DuckDB twin is bit-identical. The
    * span-level "three-sentence dedup" half of C4 §2.2 is the
    * exact-substring family (C53/C54), not re-implemented here.
    */
  def c4Rules(docs: DataFrame, idCol: String, textCol: String,
              badWords: Seq[String]): DataFrame = {
    require(badWords.nonEmpty, "c4Rules: badWords lexicon must be non-empty")
    val lines = split(col(textCol), "\n")
    // word bar counts WHITESPACE RUNS after trim (not single spaces —
    // "a  b  c." is 3 words, not 5: empty segments are not words)
    val keptPred = (l: Column) =>
      l.rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= 5 &&
        !lower(l).contains("javascript")
    val kept = filter(lines, keptPred)
    val badHits = filter(tokens(col(textCol)), t => t.isin(badWords: _*))
    docs.select(col(idCol).as("doc_id"),
        size(lines).as("n_lines"),
        size(kept).as("n_kept"),
        col(textCol).contains("{").as("has_brace"),
        lower(col(textCol)).contains("lorem ipsum").as("has_lorem"),
        (size(badHits) > 0).as("has_badword"),
        array_join(kept, "\n").as("clean_text"))
      .withColumn("keep",
        col("n_kept") >= 3 && !col("has_brace") && !col("has_lorem") &&
          !col("has_badword"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("has_brace"), col("has_lorem"), col("has_badword"),
        col("keep"), col("clean_text"))
  }

  /** C4-page fixture: rebuild a token-soup doc as a multi-line page
    * with every C4 §2.2 rule class LIVE on a deterministic id schedule
    * — 8-token lines; line (id+i)%3==0 loses its terminal period;
    * line i%7==3 is cut to 3 words (under the 5-word bar even when
    * punctuated); line (id+i)%11==0 gains a "javascript" prefix;
    * page id%13==0 gains a `{` line, id%17==0 a "lorem ipsum" line
    * (5 words + punct — the LINE survives, the PAGE dies), id%19==0 a
    * planted lexicon-word line; id%23==0 a DOUBLE-SPACED 3-word line
    * (punctuated — it passes the word bar iff words are counted as
    * single-space segments, so the oracle catches any regression of
    * the whitespace-run word count). Same bind-tokens-once shape as
    * [[Dedup.wrapLines]] (a twice-referenced Column re-tokenizes per
    * line).
    */
  def wrapC4Page(id: Column, text: Column): Column =
    element_at(transform(array(tokens(text)), t => {
      val n = size(t)
      val body = when(n > 0,
        transform(sequence(lit(0), ((n - 1) / 8).cast("int")), i => {
          val lineToks = when(i % 7 === 3, slice(t, i * 8 + 1, lit(3)))
            .otherwise(slice(t, i * 8 + 1, lit(8)))
          val base = array_join(lineToks, " ")
          val withJs = when((id + i) % 11 === 0,
            concat(lit("javascript "), base)).otherwise(base)
          when((id + i) % 3 =!= 0, concat(withJs, lit("."))).otherwise(withJs)
        }))
        .otherwise(array(lit("empty page marker line here.")))
      val brace = when(id % 13 === 0, array(lit("function() {")))
        .otherwise(array().cast("array<string>"))
      val lorem = when(id % 17 === 0, array(lit("lorem ipsum dolor sit amet.")))
        .otherwise(array().cast("array<string>"))
      val bad = when(id % 19 === 0, array(lit("badterm appears right here today.")))
        .otherwise(array().cast("array<string>"))
      val wide = when(id % 23 === 0, array(lit("three  spaced  words.")))
        .otherwise(array().cast("array<string>"))
      concat_ws("\n", concat(body, brace, lorem, bad, wide))
    }), 1)

  /** DuckDB twin of [[wrapC4Page]] from column expressions. */
  def wrapC4PageSql(idExpr: String, textExpr: String): String = {
    val t = graft.functions.TextFunctions.tokensSql(textExpr)
    s"""array_to_string(list_concat(list_concat(list_concat(list_concat(
       |  CASE WHEN len($t) > 0 THEN
       |    list_transform(generate_series(0, (len($t) - 1) // 8), i ->
       |      CASE WHEN ($idExpr + i) % 3 <> 0 THEN
       |        (CASE WHEN ($idExpr + i) % 11 = 0 THEN 'javascript ' ELSE '' END ||
       |         CASE WHEN i % 7 = 3
       |           THEN array_to_string(list_slice($t, i * 8 + 1, i * 8 + 3), ' ')
       |           ELSE array_to_string(list_slice($t, i * 8 + 1, i * 8 + 8), ' ') END) || '.'
       |      ELSE
       |        (CASE WHEN ($idExpr + i) % 11 = 0 THEN 'javascript ' ELSE '' END ||
       |         CASE WHEN i % 7 = 3
       |           THEN array_to_string(list_slice($t, i * 8 + 1, i * 8 + 3), ' ')
       |           ELSE array_to_string(list_slice($t, i * 8 + 1, i * 8 + 8), ' ') END)
       |      END)
       |  ELSE ['empty page marker line here.'] END,
       |  CASE WHEN $idExpr % 13 = 0 THEN ['function() {'] ELSE []::VARCHAR[] END),
       |  CASE WHEN $idExpr % 17 = 0 THEN ['lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END),
       |  CASE WHEN $idExpr % 19 = 0 THEN ['badterm appears right here today.'] ELSE []::VARCHAR[] END),
       |  CASE WHEN $idExpr % 23 = 0 THEN ['three  spaced  words.'] ELSE []::VARCHAR[] END), chr(10))""".stripMargin
  }

  /** The classic Windows-1252/Latin-1 mojibake table: what a UTF-8
    * byte pair/triple for the RIGHT column looks like after a decoder
    * mistakes it for Latin-1 (the single most common encoding defect in
    * web crawl text — the core case of the public `ftfy` fixer). Each
    * LEFT key is the UTF-8 bytes of the RIGHT value re-decoded as
    * Latin-1; keys are mutually prefix-free, and the sequence is
    * ordered so no earlier replacement can complete a later key on
    * dirty text with dangling artifact prefixes (spec-pinned — see
    * the ordering note on the canonical copy). Canonical copy lives
    * next to the kernel that consumes it
    * ([[graft.functions.GraftText]]).
    */
  val MojibakeRepairs: Seq[(String, String)] =
    graft.functions.GraftText.MojibakeRepairs

  /** C104: encoding repair — reverse UTF-8-decoded-as-Latin-1 mojibake
    * (the `ftfy` core case) over a fixed public artifact table.
    * Emits per doc: the repaired text, the artifact count found
    * (`n_artifacts`, exact integer count), and a `changed` bit.
    * ONE native kernel call per row (graft.plans.MojibakeFixExpr →
    * GraftText.mojibakeFix — a single first-char-dispatched walk;
    * all-ASCII rows short-circuit on byte-vs-char length with zero
    * allocation) instead of the 16 chained replaces + 16 length-census
    * scans of the HOF form, kept as `ReferenceForms.encodingRepairChained`
    * and pinned bit-identical by EncodingRepairSpec. Zero shuffle,
    * scan-rate at 100 TB.
    */
  def encodingRepair(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val fix = GraftPlanFactory.column(
      graft.plans.MojibakeFixExpr(GraftPlanFactory.expression(col(textCol))))
    docs.select(col(idCol).as("doc_id"), fix.as("__f"))
      .select(col("doc_id"),
        col("__f").getField("repaired").as("repaired"),
        col("__f").getField("n_artifacts").as("n_artifacts"),
        (col("__f").getField("n_artifacts") > 0L).as("changed"))
  }
}
