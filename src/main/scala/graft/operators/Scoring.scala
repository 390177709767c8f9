package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.Materialize.MaterializeOps

/** Model-based corpus scoring: the three published statistical-model
  * filters a training-data pipeline runs between heuristic quality
  * rules and expensive neural scoring —
  *
  *  - an n-gram LM perplexity screen (CCNet, Wenzek et al. 2020:
  *    score every document with a language model trained on the
  *    corpus, bucket into head/middle/tail by perplexity),
  *  - DSIR importance weights (Xie et al. 2023, "Data Selection for
  *    Language Models via Importance Resampling": hashed-n-gram
  *    bag-of-words importance weights of a raw corpus against a
  *    target distribution), and
  *  - a Naive-Bayes quality classifier (the deterministic analog of
  *    the "fasttext-like linear classifier" used to select
  *    WebText-like documents in the GPT-3 / LLaMA data pipelines).
  *
  * All three share one shape, linear at any corpus size: ONE
  * tokenize+explode scan partial-aggregated to (doc, feature, count)
  * rows, a feature-keyed aggregation to a model table (vocabulary- /
  * bucket-bounded, orders of magnitude smaller than the corpus), a
  * feature-keyed join back (each (doc, feature) row crosses the
  * shuffle once — never pairwise), and a per-doc partial-agg'd sum.
  * No candidate blowup, no df-cap needed, no driver-side state: the
  * "model" is a DataFrame. The (doc, feature, count) table feeds both
  * the model aggregation and the scoring join, so it is materialized
  * once ([[graft.Materialize]]).
  *
  * Cross-engine float portability (the repo-wide contract that every
  * query hash-match a DuckDB oracle bit-for-bit): these are the
  * first log-based scores in the inventory, and `ln` is the one
  * non-portable primitive — measured on 200k integer ratios, JVM
  * `Math.log` (Spark's `log`) and DuckDB `ln` disagree by exactly
  * 1 ulp on ~0.1% of values. The established round-to-6-decimals
  * discipline absorbs it: a 1-ulp pre-round split changes the rounded
  * value only when the true value sits within 1 ulp of a 5e-7
  * boundary — probability ~1e-10 per term. Each per-feature term is
  * rounded to 6 decimals and cast to DECIMAL before summing, so
  * per-doc sums are exact integers-in-disguise (order-independent,
  * identical on both engines); the final per-doc score is one
  * correctly-rounded decimal→double cast + round. Every double
  * expression BEFORE the `ln` is written as the identical IEEE tree
  * on both engines (explicit casts, same parenthesization), where
  * both engines are bit-exact by construction.
  *
  * Reference correspondence: the reference ships word-count /
  * grep-style corpus jobs (`shared/samples/word_count.py`) — these
  * are the model-scoring members of that text-pipeline family.
  */
object Scoring {

  /** round-6 natural log of a double column, as an exact decimal term.
    * DECIMAL(18,6) keeps the count × term product within both engines'
    * 38-digit decimal ceiling (DuckDB raises on precision overflow
    * where Spark silently caps — the narrower type sidesteps both).
    */
  private def lnTerm(x: Column): Column =
    round(log(x), 6).cast("decimal(18,6)")

  /** count × term as an exact decimal (10+18+1 = 29 digits — in range). */
  private def cntTerm(cnt: Column, term: Column): Column =
    cnt.cast("decimal(10,0)") * term

  // ------------------------------------------------------------------
  // CCNet-style bigram-LM perplexity screen
  // ------------------------------------------------------------------

  /** Per-document cross-entropy under a bigram LM trained on the
    * corpus itself, with head/middle/tail terciles — CCNet's
    * perplexity bucketing (Wenzek et al. 2020 §4.3; CCNet scores with
    * a KenLM 5-gram model trained on Wikipedia and keeps the
    * low-perplexity "head"; here the LM is a bigram MLE trained on
    * the corpus being scored, so every observed bigram has positive
    * probability and no smoothing constant is needed).
    *
    * Per-token surprisal: −ln p(w2|w1) = ln(c(w1·)/c(w1w2)) with
    * c(w1·) derived from the bigram table itself (sum over
    * continuations — the prefix-count table is one small aggregation
    * over the model, not a second corpus scan). Per-doc
    * cross-entropy = Σ tf·surprisal ∕ Σ tf (nats/token); perplexity
    * is exp of it — monotone, so the buckets are computed on
    * cross-entropy directly and the non-portable `exp` is never
    * evaluated.
    *
    * Tercile positions come from [[MapReduceOps.distributedSort]]'s
    * range-partitioned sort — a global `row_number()` window would
    * funnel every scored doc into one partition at 100 TB.
    *
    * Output: (doc_id, n_bigrams, cross_entropy, bucket) for every doc
    * with ≥ 2 tokens.
    */
  /** (doc, bigram, tf) — one scan, partial-agg'd; feeds the model agg
    * AND the scoring join → materialized once. With `hashGrams` the
    * gram AND its prefix ride as xxhash64 longs from the scan on —
    * see [[ngramLmPerplexity]].
    */
  private def lmDocGrams(docs: DataFrame, idCol: String, textCol: String,
                         hashGrams: Boolean = false): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), 2))
        .as("gram"))
    val keyed =
      if (hashGrams) exploded.select(col(idCol),
        xxhash64(col("gram")).as("gram"),
        xxhash64(substring_index(col("gram"), " ", 1)).as("__w1"))
      else exploded
    keyed.groupBy(keyed.columns.filter(_ != idCol).map(col).toIndexedSeq :+
        col(idCol): _*)
      .agg(count(lit(1)).as("tf"))
      .materialized
  }

  /** Bigram model (gram, c1, c2): bigram counts + prefix counts, the
    * latter derived FROM the bigram table (vocabulary-bounded — no
    * second corpus scan).
    */
  private def lmModel(docGrams: DataFrame): DataFrame = {
    val hashed = docGrams.columns.contains("__w1")
    val gramCounts =
      (if (hashed)
        docGrams.groupBy(col("gram")).agg(sum(col("tf")).as("c2"),
          max(col("__w1")).as("w1"))
      else
        docGrams.groupBy(col("gram")).agg(sum(col("tf")).as("c2"))
          .withColumn("w1", substring_index(col("gram"), " ", 1)))
    val prefixCounts = gramCounts.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"))
    gramCounts.join(prefixCounts, "w1")
      .select(col("gram"), col("c1"), col("c2"))
  }

  /** `hashGrams = false` (default): gram strings are the join/agg keys
    * — required for the DuckDB-oracle bit-exactness contract.
    * `hashGrams = true` is the production scale knob: every shuffle
    * (doc-gram agg, model agg, scoring join) carries fixed-width
    * xxhash64 longs instead of variable-length bigram strings — the
    * string payload dominates the soak's 6× input shuffle volume. A
    * 64-bit collision merges two bigrams' counts (expected collisions
    * ≈ n²∕2⁶⁵ — ~3 in 10¹⁰ grams): statistically irrelevant to an LM
    * score, but NOT bit-identical to the string form at adversarial
    * vocabulary sizes, hence opt-in (spec pins hash ≡ string on
    * collision-free corpora).
    */
  def ngramLmPerplexity(docs: DataFrame, idCol: String, textCol: String,
                        hashGrams: Boolean = false): DataFrame = {
    val docGrams = lmDocGrams(docs, idCol, textCol, hashGrams)
    val model = lmModel(docGrams)

    // score: tf-weighted surprisal mass, exact decimal sum per doc
    // the final mean is deliberately UNROUNDED: the decimal term sum
    // is exact and identical on both engines, its double cast is one
    // correctly-rounded conversion (exact while |sum·10⁶| < 2⁵³ —
    // ~9e9 nats of total surprisal, unreachable), and the division is
    // IEEE-identical — whereas round()ing a sum∕n quotient lands on
    // exact x.5e-6 ties (sum is 1e-6-grid, n arbitrary) where the
    // engines' rounding implementations legitimately differ (hit in
    // the wild: one doc in 25k at sf0.1 for the backoff scorer)
    // surprisal term computed ONCE per distinct gram on the
    // vocabulary-sized model side (it is a pure function of the gram's
    // counts), not per (doc, gram) row — the join also carries one
    // decimal instead of two counts (guide §1.2 per-task work, §2.3)
    val modelTerms = model.select(col("gram"),
      lnTerm(col("c1").cast("double") / col("c2").cast("double")).as("__t1"))
    val scored = docGrams.join(modelTerms, "gram")
      .withColumn("term", cntTerm(col("tf"), col("__t1")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        (sum(col("term")).cast("double") / sum(col("tf")))
          .as("cross_entropy"))
      .materialized

    val nDocs = broadcast(scored.agg(count(lit(1)).as("__n")))
    MapReduceOps.distributedSort(scored,
        Seq(col("cross_entropy"), col(idCol)),
        Seq(col(idCol), col("n_bigrams"), col("cross_entropy")))
      .crossJoin(nDocs)
      .withColumn("bucket",
        when((col("pos") - 1) * 3 < col("__n"), lit("head"))
          .when((col("pos") - 1) * 3 < col("__n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("n_bigrams"), col("cross_entropy"), col("bucket"))
  }

  /** Persist the trained bigram LM — per-gram surprisal terms
    * (round-6 decimal −ln p(w2|w1), plus the gram's corpus count for
    * frequency-ordered pruning) and a one-row meta with the OOV
    * penalty: the surprisal of the probability floor 1∕N (N = total
    * bigram occurrences — an unseen bigram is "rarer than anything
    * observed"). Same train-once/score-many convention as the other
    * persisted indexes; scoring never re-reads the training corpus.
    */
  def buildLmModel(docs: DataFrame, idCol: String, textCol: String,
                   path: String): Unit = {
    // two consumers (terms write + meta agg) → cut once
    val model = lmModel(lmDocGrams(docs, idCol, textCol)).materialized
    model.select(col("gram"),
        lnTerm(col("c1").cast("double") / col("c2").cast("double")).as("term"),
        col("c2"))
      .write.mode("overwrite").parquet(s"$path/terms")
    model.agg(sum(col("c2")).as("n_total"))
      .select(lnTerm(col("n_total").cast("double")).as("oov_penalty"),
        col("n_total"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the canonical
    * MapReduce-era distributed LM, re-expressed relationally): score
    * every document against a model trained on the `trainPred` slice,
    * with the paper's backoff chain
    *
    *   S(w₃|w₁w₂) = f(w₁w₂w₃)∕f(w₁w₂)        trigram seen
    *              = 0.4·f(w₂w₃)∕f(w₂)         else, bigram seen
    *              = 0.4·0.4·f(w₃)∕N           else, unigram seen
    *              = 0.4·0.4·(1∕N)             else (OOV floor — the
    *                paper leaves unseen unigrams to the decoder; a
    *                scorer needs a finite value, 1∕N documented)
    *
    * Unlike [[ngramLmPerplexity]] (trained on the scored corpus, so
    * every n-gram is in-model), the train/score split makes the
    * backoff REAL: held-out docs fall through the levels, and the
    * per-level hit counts (n_tri/n_bi/n_uni/n_oov — exact integers)
    * are the domain-shift diagnostic.
    *
    * Shape: one tokenize scan materialized; tri/bi/uni model tables
    * are train-slice aggregations (vocabulary-bounded); the backoff
    * LEFT joins run over the DISTINCT-trigram table (also
    * vocabulary-bounded — the score is a pure function of the
    * trigram), and the doc-proportional (doc, trigram, tf) rows cross
    * exactly one scoring join — linear at any corpus size, with every
    * vocabulary-sized shuffle independent of corpus duplication.
    * Per-term round-6→DECIMAL log discipline as the rest of the
    * family.
    *
    * Output: (doc_id, n_trigrams, mean_logscore, n_tri, n_bi, n_uni,
    * n_oov) for docs with ≥ 3 tokens.
    */
  def ngramLmBackoff(docs: DataFrame, idCol: String, textCol: String,
                     trainPred: Column): DataFrame = {
    val toks = docs
      .select(col(idCol), trainPred.as("__train"),
        TextFunctions.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 1)
      .materialized

    // train-slice model tables (vocabulary-bounded)
    val train = toks.filter(col("__train"))
    val uni = train.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bi = train.select(explode(TextFunctions.shingles(col("t"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val tri = train.select(explode(TextFunctions.shingles(col("t"), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c3"))
    val totals = broadcast(uni.agg(sum(col("c1")).cast("long").as("n")))

    // (doc, trigram, tf) — the only doc-proportional table: native
    // shingle kernel (the interpreted transform() HOF built the same
    // space-joined trigrams), and the aggregation exchange carries
    // (id, tri, tf) alone — the four backoff keys are derived from the
    // trigram AFTER the shuffle, never shipped (guide §2.3).
    val docTris = toks.filter(size(col("t")) >= 3)
      .select(col(idCol),
        explode(TextFunctions.shingles(col("t"), 3)).as("tri"))
      .groupBy(col(idCol), col("tri"))
      .agg(count(lit(1)).as("tf"))

    // Backoff score per DISTINCT corpus trigram (guide §8 — decide on
    // the small table): S and its level are pure functions of the
    // trigram, so the five model joins run over the vocabulary-sized
    // distinct-tri table and the doc-proportional rows cross exactly
    // ONE join below. The backoff keys re-derive exactly: tokens are
    // \s+-split (never contain spaces), so substring_index inverts the
    // shingle kernel's single-space concat bit-for-bit.
    val triKeys = docTris.select(col("tri")).distinct()
      .select(col("tri"),
        substring_index(col("tri"), " ", 2).as("p12"),
        substring_index(col("tri"), " ", -2).as("s23"),
        substring_index(substring_index(col("tri"), " ", -2), " ", 1).as("w2"),
        substring_index(col("tri"), " ", -1).as("w3"))

    val joined = triKeys
      .join(tri.withColumnRenamed("g", "tri"), Seq("tri"), "left")
      .join(bi.select(col("g").as("p12"), col("c2").as("c2p")), Seq("p12"), "left")
      .join(bi.select(col("g").as("s23"), col("c2").as("c2s")), Seq("s23"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1").as("c1w3")), Seq("w3"), "left")
      .crossJoin(totals)

    val s =
      when(col("c3").isNotNull,
        log(col("c3").cast("double") / col("c2p").cast("double")))
        .when(col("c2s").isNotNull,
          log(lit(0.4) * (col("c2s").cast("double") / col("c1w2").cast("double"))))
        .when(col("c1w3").isNotNull,
          log(lit(0.4) * lit(0.4) * (col("c1w3").cast("double") / col("n").cast("double"))))
        .otherwise(
          log(lit(0.4) * lit(0.4) * (lit(1.0) / col("n").cast("double"))))
    val level =
      when(col("c3").isNotNull, lit("tri"))
        .when(col("c2s").isNotNull, lit("bi"))
        .when(col("c1w3").isNotNull, lit("uni"))
        .otherwise(lit("oov"))
    val scoredTri = joined.select(col("tri"),
      round(s, 6).cast("decimal(18,6)").as("__term1"), level.as("__lvl"))

    docTris.join(scoredTri, Seq("tri"))
      .withColumn("term", cntTerm(col("tf"), col("__term1")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        // unrounded — see ngramLmPerplexity's scored step: a rounded
        // sum∕n quotient hits exact half-ties where engines diverge
        (sum(col("term")).cast("double") / sum(col("tf")))
          .as("mean_logscore"),
        sum(when(col("__lvl") === "tri", col("tf")).otherwise(lit(0L))).as("n_tri"),
        sum(when(col("__lvl") === "bi", col("tf")).otherwise(lit(0L))).as("n_bi"),
        sum(when(col("__lvl") === "uni", col("tf")).otherwise(lit(0L))).as("n_uni"),
        sum(when(col("__lvl") === "oov", col("tf")).otherwise(lit(0L))).as("n_oov"))
  }

  // ------------------------------------------------------------------
  // DSIR hashed-n-gram importance weights
  // ------------------------------------------------------------------

  /** DSIR importance weights (Xie et al. 2023): represent every doc as
    * a bag of hashed unigram+bigram features (buckets of a fixed
    * `nBuckets` hash space — the paper uses 10k), fit add-one-smoothed
    * categorical distributions to the TARGET subset (`targetPred`,
    * e.g. the curated/wanted slice) and to the full RAW corpus, and
    * weight each doc by its log likelihood ratio
    * Σ_f cnt_f · ln(p_target(f)∕p_raw(f)). High-weight docs look like
    * the target; the resample step keeps the top-m (the deterministic
    * analog of the paper's Gumbel-top-k draw), m = the target-subset
    * size, tiebroken by id.
    *
    * The hash is the engine-portable md5-derived 60-bit integer
    * ([[graft.functions.PortableHash]]) mod `nBuckets`, so Spark and
    * the DuckDB oracle bucket identically. The model table is
    * `nBuckets` rows — broadcast-sized by construction at ANY corpus
    * scale, but left to AQE rather than hinted: correctness does not
    * depend on the join strategy.
    *
    * Output: (doc_id, n_feats, log_weight, keep) for every doc with
    * ≥ 1 token.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, nBuckets: Int = 4096): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val feats = docs
      .select(col(idCol), targetPred.as("__tgt"),
        explode(concat(toks, TextFunctions.shingles(toks, 2))).as("feat"))
      .select(col(idCol), col("__tgt"),
        (graft.functions.PortableHash.portableHash(
          concat(lit("dsir|"), col("feat"))) % nBuckets).as("bucket"))
      .groupBy(col(idCol), col("__tgt"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .materialized

    val counts = feats.groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("cr"),
        sum(when(col("__tgt"), col("cnt")).otherwise(lit(0L))).as("ct"))
    val totals = broadcast(counts.agg(
      sum(col("cr")).as("nr"), sum(col("ct")).as("nt")))

    val b = lit(nBuckets.toLong)
    val scored = feats.join(counts, "bucket").crossJoin(totals)
      .withColumn("term", cntTerm(col("cnt"), lnTerm(
        ((col("ct") + 1).cast("double") / (col("nt") + b).cast("double")) /
          ((col("cr") + 1).cast("double") / (col("nr") + b).cast("double")))))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_feats"),
        round(sum(col("term")).cast("double"), 6).as("log_weight"))
      .materialized

    // m = target-subset size; docs carry __tgt per row in feats — any
    // row of a doc has it, but the doc-level flag lives in `docs`
    val nTarget = broadcast(
      docs.filter(targetPred).agg(count(lit(1)).as("__m")))
    MapReduceOps.distributedSort(scored,
        Seq(col("log_weight").desc, col(idCol)),
        Seq(col(idCol), col("n_feats"), col("log_weight")))
      .crossJoin(nTarget)
      .withColumn("keep", col("pos") <= col("__m"))
      .select(col(idCol), col("n_feats"), col("log_weight"), col("keep"))
  }

  // ------------------------------------------------------------------
  // Naive-Bayes quality classifier
  // ------------------------------------------------------------------

  /** Multinomial Naive-Bayes log-odds scoring against a labeled
    * positive class — the deterministic stand-in for the linear
    * bag-of-ngrams ("fasttext-like") quality classifiers of the
    * GPT-3/LLaMA pipelines ("documents classified as similar to a
    * high-quality reference corpus are kept"). Train: per-class
    * Laplace-smoothed unigram distributions + a doc-count prior, all
    * from one aggregation of the (doc, token, count) table. Score:
    * log_odds(doc) = ln(P(pos)∕P(neg)) +
    * Σ_t cnt_t · ln(p(t|pos)∕p(t|neg)); `predicted` = log_odds > 0.
    *
    * The classifier is trained and applied on the same corpus (the
    * production pattern fits on a labeled sample and scores the lake;
    * the plan is identical — only `posPred`'s provenance changes), so
    * every scored token is in-vocabulary and smoothing only
    * regularizes the per-class zero counts.
    *
    * Output: (doc_id, n_tokens, log_odds, predicted) for every doc
    * with ≥ 1 token.
    */
  def nbQualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                          posPred: Column): DataFrame = {
    // a NULL label (e.g. lang IS NULL under lang === "en") must mean
    // NEGATIVE consistently: when(!pred) sends null to otherwise —
    // without the coalesce, null-class docs would vanish from the
    // token counts while still counting in the doc prior (and the
    // SQL oracle's CASE ELSE branch counts them negative)
    val pos = coalesce(posPred, lit(false))
    val docToks = docTokenCounts(docs, idCol, textCol, Some(pos))
    val (terms, meta) = nbModelTables(docToks, docs, pos)
    nbScore(docToks, terms, meta, idCol)
  }

  /** (doc, token, cnt) table — one tokenize+explode scan, partial-
    * agg'd, materialized (it feeds the model agg AND the scoring
    * join). `posPred` rides along as `__pos` when training.
    */
  private def docTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                             posPred: Option[Column]): DataFrame = {
    val base = posPred match {
      case Some(p) => docs.select(col(idCol), p.as("__pos"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      case None => docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
    }
    base.groupBy(base.columns.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("cnt"))
      .materialized
  }

  /** The trained model as two DataFrames: (token, term) — the per-
    * token round-6-decimal log likelihood ratio — and a one-row meta
    * (prior, np, nn, v, dp, dn).
    */
  private def nbModelTables(docToks: DataFrame, docs: DataFrame,
                            posPred: Column): (DataFrame, DataFrame) = {
    val counts = docToks.groupBy(col("token"))
      .agg(sum(when(col("__pos"), col("cnt")).otherwise(lit(0L))).as("cp"),
        sum(when(!col("__pos"), col("cnt")).otherwise(lit(0L))).as("cn"))
    // scalars: class token totals, vocabulary size, doc-count prior
    val totals = broadcast(counts
      .agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
        count(lit(1)).as("v"))
      .crossJoin(broadcast(docs.agg(
        sum(when(posPred, 1L).otherwise(0L)).as("dp"),
        sum(when(posPred, 0L).otherwise(1L)).as("dn")))))
    val terms = counts.crossJoin(totals)
      .select(col("token"), lnTerm(
        ((col("cp") + 1).cast("double") / (col("np") + col("v")).cast("double")) /
          ((col("cn") + 1).cast("double") / (col("nn") + col("v")).cast("double")))
        .as("term"))
    // one-class training (dp or dn = 0) has no defined prior — emit a
    // null prior (→ null log-odds downstream: admit-unknown, don't
    // invent) instead of letting ANSI mode kill the job with
    // DIVIDE_BY_ZERO; the guard's branch is unevaluated when matched,
    // so the oracle (which always trains on two populated classes)
    // sees identical values
    val meta = totals.select(
      when(col("dp") > 0 && col("dn") > 0,
        lnTerm(col("dp").cast("double") / col("dn").cast("double")))
        .otherwise(lit(null).cast("decimal(18,6)")).as("prior"),
      col("np"), col("nn"), col("v"), col("dp"), col("dn"))
    (terms, meta)
  }

  /** Score a (doc, token, cnt) table against a model: token-keyed join
    * + per-doc exact decimal sums. Both addends of the final log-odds
    * are exact decimals → two correctly-rounded casts + one double
    * add: identical on both engines (a decimal ADD would cross
    * DuckDB's 38-digit ceiling where Spark caps).
    *
    * Out-of-vocabulary tokens score NEUTRAL (term = 0, left join):
    * when a persisted model scores a corpus other than its training
    * sample, unseen tokens contribute no evidence but still count in
    * n_tokens, and an all-OOV doc survives with log_odds = prior —
    * the same contract as the streaming gate (DocStreams.nbAdmission),
    * so the batch and stream gates agree on OOV-heavy documents. On
    * the training corpus every token is in-vocabulary and the left
    * join degenerates to the inner one (oracle unchanged).
    */
  private def nbScore(docToks: DataFrame, terms: DataFrame, meta: DataFrame,
                      idCol: String): DataFrame =
    docToks.join(terms, Seq("token"), "left")
      .withColumn("term",
        coalesce(col("term"), lit(0).cast("decimal(18,6)")))
      .crossJoin(broadcast(meta.select(col("prior"))))
      .withColumn("__t", cntTerm(col("cnt"), col("term")))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_tokens"),
        round(max(col("prior")).cast("double") + sum(col("__t")).cast("double"),
          6).as("log_odds"))
      .withColumn("predicted", col("log_odds") > 0d)

  /** Persist the trained NB model — the train-once/score-many contract
    * (same convention as the BM25/LSH/CDC/PQ indexes): `terms` parquet
    * (token, term) + one-row `meta` (prior + training totals for
    * audit). Scoring never re-reads the training corpus.
    */
  def buildNbModel(docs: DataFrame, idCol: String, textCol: String,
                   posPred: Column, path: String): Unit = {
    val pos = coalesce(posPred, lit(false)) // null label = negative
    val docToks = docTokenCounts(docs, idCol, textCol, Some(pos))
    val (terms, meta) = nbModelTables(docToks, docs, pos)
    terms.write.mode("overwrite").parquet(s"$path/terms")
    meta.write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score a corpus against a persisted model ([[buildNbModel]]) —
    * bit-identical to [[nbQualityClassifier]] on the training corpus
    * (DECIMAL(18,6) terms round-trip parquet exactly; spec-pinned).
    */
  def nbScoreIndexed(docs: DataFrame, idCol: String, textCol: String,
                     path: String): DataFrame = {
    val spark = docs.sparkSession
    nbScore(docTokenCounts(docs, idCol, textCol, None),
      Tables.read(spark, s"$path/terms"),
      Tables.read(spark, s"$path/meta"), idCol)
  }

  /** C73: per-document Shannon token entropy (nats) — the
    * information-theoretic twin of TextAnalysis.tokenDiversity's
    * Gini–Simpson index (same curation signal: boilerplate and
    * keyword-stuffed docs score LOW entropy; natural prose sits near
    * ln of its effective vocabulary), for pipelines that calibrate on
    * entropy thresholds rather than Simpson. Uses the integer-weight
    * factorization H = (1/n)·Σ_t c_t·ln(n∕c_t): each term is
    * cnt × round-6-decimal-ln (exact order-independent sum), the
    * final score ONE unrounded decimal→double quotient — the same
    * portability discipline as every ln-based score in this file.
    *
    * Scale shape: one tokenize scan to the (doc, token, cnt) table
    * (materialized — it feeds the per-doc totals and the term sum),
    * doc-keyed joins only, linear at any corpus size. Docs that
    * tokenize to nothing keep a zero row (the tokenDiversity
    * convention).
    */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tc = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .materialized
    val tot = tc.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    val scored = tc.join(tot, "doc_id")
      .withColumn("__t", cntTerm(col("c"),
        lnTerm(col("n").cast("double") / col("c").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("__n"),
        (sum(col("__t")).cast("double") / max(col("n")).cast("double"))
          .as("__h"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_tokens"),
        coalesce(col("__h"), lit(0.0)).as("entropy_nats"))
  }

  /** C68: per-source unigram KL divergence against the whole corpus —
    * the distribution-shift audit behind mixture construction (the
    * quantity DSIR-style importance weighting and temperature-scaled
    * mixture sampling both act on; Xie et al. 2023 frame selection as
    * exactly this KL between source and target distributions):
    *
    *   KL(P_s ‖ P_corpus) = Σ_t p_s(t) · ln(p_s(t) ∕ p_c(t))
    *                      = (1/n_s) · Σ_t c_st · ln(c_st·n ∕ (n_s·c_t))
    *
    * No smoothing is needed: the corpus includes every source, so
    * p_c(t) > 0 wherever p_s(t) > 0. A high-KL source is
    * distributionally far from the blend (jargon, spam, another
    * register) — the first thing a mixture designer looks at before
    * setting weights.
    *
    * Scale shape: ONE tokenize scan to the (source, token, cnt) table
    * (materialized — it feeds the token totals, the source totals, the
    * corpus total, and the term join); token totals re-aggregate that
    * table, never the corpus. The term join is token-keyed; source
    * totals and the corpus scalar broadcast. Output is one row per
    * source. Portability: the second factorization above keeps the
    * weights INTEGER — each term is cnt × round-6-decimal-ln (exact
    * decimal, order-independent sum) and the final score is ONE
    * unrounded decimal→double quotient (the round-7 midpoint lesson:
    * never round a decimal-sum ∕ integer quotient).
    */
  def sourceDivergence(docs: DataFrame, textCol: String,
                       srcCol: String): DataFrame = {
    val st = docs
      .select(col(srcCol).as("source"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .materialized
    val tokTot = st.groupBy(col("token")).agg(sum(col("c")).as("ct"))
    val srcTot = st.groupBy(col("source"))
      .agg(sum(col("c")).as("ns"), count(lit(1)).as("n_types"))
    val tot = st.agg(sum(col("c")).as("n"))
    // identical IEEE tree on both engines: every operand cast long →
    // double explicitly, same parenthesization
    val ratio = (col("c").cast("double") * col("n").cast("double")) /
      (col("ns").cast("double") * col("ct").cast("double"))
    st.join(tokTot, "token")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .withColumn("__t", cntTerm(col("c"), lnTerm(ratio)))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"), max(col("n_types")).as("n_types"),
        (sum(col("__t")).cast("double") / max(col("ns")).cast("double"))
          .as("kl_nats"))
  }
}
