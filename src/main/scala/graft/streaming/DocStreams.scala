package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming over document feeds — the continuous-ingestion
  * twins of the batch curation operators in graft.operators.
  */
object DocStreams {

  /** Streaming incremental exact dedup — the stream twin of
    * Dedup.incremental's fingerprint stage: each arriving document is
    * dropped if its content fingerprint already exists in the static
    * `reference` corpus (stream-static anti join — Spark re-reads the
    * static side per micro-batch, so a reference that grows between
    * batches is picked up), and in-stream duplicates within the
    * watermark horizon are dropped by fingerprint (state bounded by the
    * watermark, partitioned by fingerprint across executors).
    *
    * The LSH near-dup stage intentionally stays batch: a minhash
    * signature is an aggregation over the document's shingles, and
    * chaining a streaming aggregation into a join/dedup isn't
    * expressible in append mode — run [[graft.operators.Dedup
    * .incremental]] over the sink periodically for near-dups.
    */
  def incrementalDedup(docs: DataFrame, reference: DataFrame,
                       idCol: String, textCol: String, tsCol: String,
                       watermark: String = "2 hours"): DataFrame = {
    val refFp = reference
      .select(md5(col(textCol).cast("binary")).as("__fp")).distinct()
    docs
      .withColumn("__fp", md5(col(textCol).cast("binary")))
      .join(refFp, Seq("__fp"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Windowed per-term counts over a document stream — the continuous
    * twin of mr_wordcount with event-time tumbling windows: tokenize
    * map-side (the same native kernel as batch), explode, watermarked
    * window aggregation. Emits (window_start, token, cnt) in append
    * mode once the watermark closes a window; state is bounded by the
    * watermark horizon, partitioned by (window, token).
    *
    * The per-window TOP-K cut is applied by the consumer over each
    * closed window (a streaming agg can't feed a rank window in append
    * mode) — `trendingTopK` is that batch cut, run on the sink or in a
    * `foreachBatch`; at scale it rides the custom TopKPerKey operator,
    * so even the post-cut is O(windows × k) shuffle, not O(tokens).
    */
  def windowedTermCounts(docs: DataFrame, textCol: String, tsCol: String,
                         window: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col("token"))
      .count()
      .select(col("window.start").as("w_start"), col("token"),
        col("count").as("cnt"))

  /** Continuous frequency sketching: per-window count-min cells over a
    * document stream — the streaming twin of
    * [[graft.operators.Curation.heavyHittersCms]]'s build stage. State
    * is bounded by (windows-in-watermark × d × w) counters no matter
    * how large the vocabulary grows — the property that makes a
    * frequency sketch the right streaming aggregate where a per-token
    * count would accumulate unbounded keys. Emits
    * (w_start, r, cell, c) on window close; probe estimates exactly as
    * in the batch form (min over a token's d cells).
    */
  def streamingCellCounts(docs: DataFrame, textCol: String, tsCol: String,
                          d: Int = 4, w: Int = 1024,
                          window: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .select(col(tsCol), graft.operators.Curation.cmsCellExpr(col("token"), d, w).as("rc"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col("rc.r").as("r"), col("rc.cell").as("cell"))
      .count()
      .select(col("window.start").as("w_start"), col("r"), col("cell"),
        col("count").as("c"))

  /** Continuous semantic routing: classify an embedding stream against
    * a batch-trained k-means codebook
    * ([[graft.operators.Similarity.kmeansCentroids]]). Pure stateless
    * map-side work — the codebook ships as expression literals, so this
    * runs at scan rate inside any micro-batch with no joins, no state
    * store, and per-row results identical to the batch assignment.
    */
  def classifyEmbeddings(stream: DataFrame, vecCol: String,
                         centroids: Array[Array[Double]]): DataFrame =
    stream.withColumn("cluster_id",
      graft.operators.Similarity.kmeansAssignExpr(col(vecCol), centroids))

  /** Continuous admission control under per-source token budgets — the
    * streaming twin of [[graft.operators.Curation.tokenBudgetSample]]:
    * each source's running admitted-token total lives in the state
    * store (ONE long per source — state is bounded by source
    * cardinality, never by stream length), and an arriving document is
    * admitted iff its source's total is still under budget. Same
    * greedy contract as batch (admit while tokens-before < budget, so
    * budgets overshoot by under one document); the ORDER differs by
    * design — batch draws in deterministic md5 order over the whole
    * corpus, a stream must admit in arrival order (doc-id order within
    * a micro-batch, which materializes each group's batch slice — the
    * slice is bounded by the micro-batch, not the stream).
    */
  def tokenBudgetAdmission(docs: DataFrame, idCol: String, textCol: String,
                           srcCol: String, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(srcCol).as("source"), col(idCol).cast("long").as("doc_id"),
        size(graft.functions.TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (src: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) => {
          var used = state.getOption.getOrElse(0L)
          val admitted = rows.toSeq.sortBy(_._2).flatMap { case (_, id, n) =>
            if (used < budgetTokens) { used += n; Some((src, id, n)) } else None
          }
          state.update(used)
          admitted.iterator
        })
      .toDF("source", "doc_id", "n_tokens")
  }

  /** Continuous mixture admission — the streaming twin of
    * [[graft.operators.Curation.mixtureSample]]: each arriving document
    * is admitted iff its stratum's hash threshold says so. The filter is
    * STATELESS and map-side (no state store, no watermark, no shuffle),
    * and because the hash is per-document, the streamed decision for any
    * document is identical to the batch decision — replaying the corpus
    * through the stream reproduces the batch sample exactly (spec-pinned).
    */
  def mixtureAdmission(docs: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame =
    graft.operators.Curation.mixtureSample(docs, idCol, stratumCol, rates, defaultRate)

  /** Streaming Gopher admission — the continuous twin of C57's rule
    * gate. Every Gopher rule is a pure function of the document, so
    * the batch operator IS the streaming operator (STATELESS map-side
    * select: no state store, no watermark, no shuffle) and replaying a
    * corpus through the stream reproduces the batch keep-set exactly
    * (spec-pinned, the [[mixtureAdmission]] pattern). Emits only
    * admitted documents, rule metrics attached for audit.
    */
  def gopherAdmission(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.TextAnalysis.gopherRules(docs, idCol, textCol)
      .filter(col("keep"))

  /** Top-`k` trending terms per closed window, deterministic tiebreak
    * (count desc, token asc) — planned through TopKPerKey: each input
    * partition is reduced to ≤ k rows per window BEFORE the shuffle.
    */
  def trendingTopK(termCounts: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(
        termCounts.select(col("w_start"), col("token"), col("cnt"),
          (-col("cnt")).as("__negcnt")),
        Seq("w_start"), Seq("__negcnt", "token"), k, descending = false)
      .select(col("w_start"), col("token"), col("cnt"))

  /** Streaming quality admission — the continuous twin of
    * TextAnalysis.qualityCalibration's gate: each arriving document's
    * quality score (native kernel, map-side) is z-scored against
    * STATIC per-source calibration moments
    * (TextAnalysis.qualityMoments over reference history) and docs at
    * z < `minZ` are dropped. STATELESS: the moments table is a
    * broadcast stream-static dim join (source-cardinality-sized), no
    * state store, no watermark — scoring against the reference
    * distribution is the admission contract (same shape as
    * EventStreams.valueAnomalies). Sources absent from the
    * calibration are ADMITTED with a null z (unknown provenance is a
    * routing decision, not a quality verdict).
    */
  def qualityAdmission(docs: DataFrame, calibration: DataFrame,
                       idCol: String, textCol: String, sourceCol: String,
                       minZ: Double = -1.0): DataFrame = {
    val q = graft.functions.TextFunctions.qualityStats(col(textCol))
      .getField("quality_score")
    docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        col(textCol).as("text"), q.as("__q"))
      .join(org.apache.spark.sql.functions.broadcast(calibration),
        Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("text"),
        col("__q").as("quality_score"),
        when(col("__sd").isNull, lit(null).cast("double"))
          .otherwise(when(col("__sd") === 0.0, lit(0.0))
            .otherwise((col("__q") - col("__m")) / col("__sd"))).as("z_score"))
      .filter(col("z_score").isNull || col("z_score") >= minZ)
  }

  /** Streaming Naive-Bayes admission — the continuous twin of
    * Scoring.nbQualityClassifier's gate: every arriving document is
    * scored against a PERSISTED model (Scoring.buildNbModel) and docs
    * with log-odds below `minOdds` are dropped.
    *
    * STATELESS map-side select, no state store, no watermark, no
    * per-batch join: at stream setup the driver reads the model's
    * top-`topK` terms by |log-ratio| (the pruned-classifier contract —
    * production linear classifiers cap their vocabulary the same way;
    * topK ≥ vocab keeps every term) and BROADCASTS them as a
    * fixed-point hash map probed by the codegen'd
    * [[graft.plans.NbScoreBroadcast]] kernel — O(1) plan size at any
    * vocabulary (the map never rides the plan as a literal), one hash
    * lookup per token, exact integer sums. Works identically on a
    * batch DataFrame (the batch operator IS the streaming operator);
    * replaying a corpus through the stream reproduces the batch
    * output exactly (spec-pinned). Docs with null text are dropped
    * (no tokens — nothing to admit on).
    */
  def nbAdmission(docs: DataFrame, idCol: String, textCol: String,
                  modelPath: String, topK: Int = 65536,
                  minOdds: Double = 0.0): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    val spark = docs.sparkSession
    // DECIMAL(18,6) × 10⁶ is exact → fixed-point longs
    val capped = Tables.read(spark, s"$modelPath/terms")
      .select(col("token"), (col("term") * 1000000L).cast("long").as("micros"))
      .orderBy(abs(col("micros")).desc, col("token")).limit(topK)
      .collect()
    val map = new java.util.HashMap[UTF8String, java.lang.Long](capped.length * 2)
    capped.foreach(r => map.put(UTF8String.fromString(r.getString(0)),
      java.lang.Long.valueOf(r.getLong(1))))
    val bc = spark.sparkContext.broadcast(map)
    val metaRow = Tables.read(spark, s"$modelPath/meta")
      .select((col("prior") * 1000000L).cast("long")).collect()(0)
    require(!metaRow.isNullAt(0),
      "NB model has no defined prior (trained on a single class) — refusing to gate on it")
    val priorMicros = metaRow.getLong(0)
    import org.apache.spark.sql.classic.GraftPlanFactory
    val acc = GraftPlanFactory.column(graft.plans.NbScoreBroadcast(bc,
      GraftPlanFactory.expression(
        graft.functions.TextFunctions.tokens(col(textCol)))))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        ((acc + lit(priorMicros)) / lit(1000000L)).as("log_odds"))
      .filter(col("log_odds") >= minOdds)
  }

  /** Streaming perplexity admission — the continuous twin of
    * Scoring.ngramLmPerplexity's gate and CCNet's production use
    * (score every incoming document against a REFERENCE language
    * model, keep the low-perplexity head): per-doc cross-entropy
    * against a persisted bigram LM (Scoring.buildLmModel), docs above
    * `maxCe` nats/token dropped.
    *
    * Same stateless broadcast-kernel design as [[nbAdmission]], with
    * two LM-specific twists: the vocabulary cap keeps the top-`topK`
    * grams by CORPUS FREQUENCY (standard LM pruning — the head of the
    * distribution carries the probability mass; gram asc tiebreak),
    * and grams missing from the map score the model's OOV penalty
    * (surprisal of the 1∕N probability floor) instead of 0 — an
    * unseen bigram is evidence AGAINST the document, not neutral.
    * Docs with fewer than one bigram are dropped (nothing to score).
    * Batch DF and stream replay produce identical output
    * (spec-pinned); full-vocabulary scores match the batch
    * cross-entropy to float tolerance.
    */
  def lmAdmission(docs: DataFrame, idCol: String, textCol: String,
                  modelPath: String, topK: Int = 1 << 20,
                  maxCe: Double = 10.0): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    val spark = docs.sparkSession
    val capped = Tables.read(spark, s"$modelPath/terms")
      .select(col("gram"), (col("term") * 1000000L).cast("long").as("micros"),
        col("c2"))
      .orderBy(col("c2").desc, col("gram")).limit(topK)
      .collect()
    val map = new java.util.HashMap[UTF8String, java.lang.Long](capped.length * 2)
    capped.foreach(r => map.put(UTF8String.fromString(r.getString(0)),
      java.lang.Long.valueOf(r.getLong(1))))
    val bc = spark.sparkContext.broadcast(map)
    val oovRow = Tables.read(spark, s"$modelPath/meta")
      .select((col("oov_penalty") * 1000000L).cast("long")).collect()(0)
    require(!oovRow.isNullAt(0),
      "LM model has no OOV penalty (trained on a corpus with no 2-token doc) — refusing to gate on it")
    val oovMicros = oovRow.getLong(0)
    import org.apache.spark.sql.classic.GraftPlanFactory
    val grams = graft.functions.TextFunctions.shingles(
      graft.functions.TextFunctions.tokens(col(textCol)), 2)
    val acc = GraftPlanFactory.column(graft.plans.NbScoreBroadcast(bc,
      GraftPlanFactory.expression(grams), missing = oovMicros))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        acc.as("__acc"), size(grams).cast("long").as("n_bigrams"))
      .filter(col("n_bigrams") >= 1L)
      .select(col("doc_id"), col("text"), col("n_bigrams"),
        (col("__acc").cast("double") / (col("n_bigrams") * 1000000L))
          .as("cross_entropy"))
      .filter(col("cross_entropy") <= maxCe)
  }

  /** Streaming BM25 keyword alerting — the continuous twin of
    * TextAnalysis.bm25Search: every arriving document is scored against
    * the fixed query set and (doc_id, query_id, score) is emitted for
    * scores at or above `minScore`.
    *
    * The corpus statistics come from a persisted BM25 index
    * (TextAnalysis.buildBm25Index): at STREAM SETUP the driver reads
    * the query terms' df rows (≤ |query terms|) and the one-row length
    * stats, then folds them into literal arithmetic — so the running
    * stream is a STATELESS map-side select (append mode, no state
    * store, no per-batch static join): per-term tf via one counting
    * pass over the token array, the same idf/saturation tree as batch
    * (shared bm25Idf/bm25Sat builders), the same 6dp round + DECIMAL
    * sum. Scores are therefore bit-equal to the batch scorer over the
    * same rows (spec-pinned); idf reflects the indexed corpus, which is
    * the alerting contract (score against the reference, not the
    * stream-so-far).
    */
  /** Streaming semantic-decontamination gate — the continuous twin of
    * [[graft.operators.Similarity.decontaminateSemantic]]: every
    * arriving vector is scored against the persisted eval-benchmark
    * set and ADMITTED only when its nearest-eval cosine stays below
    * `minCos`. Stateless map-side kernel
    * (graft.plans.MaxCosineBroadcast): the eval set is collected once
    * from `evalPath` (benchmark-sized — the same fixed-cardinality
    * contract the batch broadcast rides), broadcast, and each row pays
    * one fused max-cos scan — no stream aggregation, no state store,
    * so batch DF and stream replay are identical (spec-pinned against
    * the batch operator's clean slice, including the 6dp-tie lower-id
    * rule).
    *
    * `evalPath` is parquet with the SAME `idCol`/`vecCol` columns
    * (write the eval table once with `eval.write.parquet(path)`).
    * Emits (idCol, max_eval_cos, nearest_eval_id) for admitted rows —
    * the audit columns a quarantine log wants for the borderline docs.
    */
  def semanticAdmission(vecs: DataFrame, idCol: String, vecCol: String,
                        evalPath: String, minCos: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val spark = vecs.sparkSession
    val evalRows = Tables.read(spark, evalPath)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
    require(evalRows.nonEmpty,
      s"semanticAdmission: eval set at $evalPath is empty — an empty gate " +
        "admits everything silently; check the path")
    val ids = evalRows.map(_.getLong(0))
    val evs = evalRows.map(_.getSeq[Float](1).toArray)
    val bc = spark.sparkContext.broadcast((ids, evs))
    val m = GraftPlanFactory.column(graft.plans.MaxCosineBroadcast(bc,
      GraftPlanFactory.expression(col(vecCol))))
    vecs.select(col(idCol), m.as("__m"))
      .select(col(idCol),
        col("__m").getField("cos").as("max_eval_cos"),
        col("__m").getField("id").as("nearest_eval_id"))
      .filter(col("max_eval_cos") < minCos)
  }

  def bm25Alerts(docs: DataFrame, idCol: String, textCol: String,
                 indexPath: String, queries: Seq[(Int, Seq[String])],
                 minScore: Double): DataFrame = {
    import graft.operators.TextAnalysis
    val spark = docs.sparkSession
    val terms = queries.flatMap(_._2).distinct.sorted
    // df/stats are stored as per-batch PARTIALS (append-friendly) —
    // aggregate them exactly like the batch probe does
    val dfMap = Tables.read(spark, s"$indexPath/df")
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(sum(col("df")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = Tables.read(spark, s"$indexPath/stats")
      .agg(sum(col("__n")).as("__n"), sum(col("__tot")).as("__tot"))
      .collect()(0)
    val (n, tot) = (st.getLong(0), st.getLong(1))
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val dl = size(col("__t")).cast("long")
    val avgdl = lit(tot).cast("double") / lit(n)
    def tf(term: String): org.apache.spark.sql.Column =
      size(filter(col("__t"), x => x === lit(term))).cast("long")
    val perQuery = queries.map { case (qid, ts) =>
      val contribs = ts.filter(dfMap.contains).map { t =>
        val idf = TextAnalysis.bm25Idf(lit(n), lit(dfMap(t)))
        when(tf(t) > 0,
          round(idf * TextAnalysis.bm25Sat(tf(t), dl, avgdl), 6)
            .cast("decimal(28,9)"))
          .otherwise(lit(null).cast("decimal(28,9)"))
      }
      val total =
        if (contribs.isEmpty) lit(null).cast("double")
        else contribs.reduce((a, b) =>
          coalesce(a + b, a, b).cast("decimal(28,9)")).cast("double")
      struct(lit(qid).as("query_id"), total.as("score"))
    }
    docs.select(col(idCol).as("doc_id"), toks.as("__t"))
      .select(col("doc_id"), explode(array(perQuery: _*)).as("__s"))
      .select(col("doc_id"), col("__s.query_id").as("query_id"),
        col("__s.score").as("score"))
      .filter(col("score") >= minScore)
  }

  /** Streaming ANN alerting against a persisted residual-IVFADC index
    * ([[graft.operators.Similarity.buildAnnIndex]]) — the continuous
    * twin of the batch [[graft.operators.Similarity.knnProbe]],
    * completing the build/append/probe loop the way [[bm25Alerts]]
    * does for the BM25 index: each arriving vector probes its
    * `nProbes` nearest stored cells and emits every indexed neighbor
    * with ADC distance ≤ `maxDist` (the alerting cut — a top-k rank
    * window isn't expressible in append mode; threshold on the SAME
    * adist the batch probe ranks on, so replay parity is exact on the
    * thresholded set).
    *
    * Shape per micro-batch, all stateless and shared with the batch
    * probe: cell assignment is the map-side
    * [[graft.plans.ProbeCellsBroadcast]] kernel (stored centroids
    * collected once at setup — codebook-scalar convention, same as
    * bm25Alerts' df map), residual distance tables are per-row
    * expressions, and candidate scoring is a stream-static join on
    * `centroid_id` against the code table. Spark re-reads the static
    * side each micro-batch — the PQ-compressed (vec_id, centroid_id,
    * codes) columns only. A NON-streaming `vecs` (a registered, fixed
    * query set) knows its probed cells before any code is read: they
    * are collected driver-side and the code scan carries a LITERAL cell
    * filter, so partition pruning reads only those cells' files
    * (spec-pinned ≡ the thresholded batch probe, pruned scan asserted).
    */
  def annAlerts(vecs: DataFrame, idCol: String, vecCol: String,
                indexPath: String, maxDist: Double,
                nProbes: Int = 4): DataFrame =
    graft.operators.Similarity.probeScored(vecs.sparkSession, indexPath, vecs,
        idCol, vecCol, nProbes, prune = !vecs.isStreaming)
      .select(col("query_id"), col("neighbor_id"), col("adist").cast("double").as("adist"))
      .filter(col("adist") <= maxDist)

  /** Streaming line-clean admission — the continuous twin of
    * [[graft.operators.Dedup.lineDedupIndexed]] against a persisted
    * line-digest index ([[graft.operators.Dedup.buildLineIndex]]):
    * each arriving document keeps a line iff (a) it is the doc's own
    * first occurrence (map-side array filter, no state) and (b) its
    * digest is absent from the index (stream-static anti join; the
    * static side's FILE LISTING is pinned when the query starts, so
    * index appends become visible on the next stream (re)start — run
    * admission as periodically restarted jobs, the standard pattern
    * for a growing static side). Lines are regrouped per (doc,
    * event-time window) under the
    * watermark, so output is append-mode and state is
    * watermark-bounded; emits (id, n_lines, n_kept, clean_text).
    *
    * Admission semantics, two deliberate deltas from the batch op:
    * a doc whose EVERY line is already indexed emits nothing (not
    * admitted — the batch form emits an (id, n, 0, "") row), and
    * CROSS-doc duplicates inside one micro-batch both survive until
    * the admitted batch is appended to the index (cross-doc
    * first-occurrence needs a corpus-wide aggregation — that is the
    * batch operator's job; the index append closes the gap one batch
    * later, the same contract as [[incrementalDedup]]'s LSH note).
    */
  /** Streaming crawl-frontier admission — the discovery-side gate a
    * crawler runs continuously on its stream of outlinks: canonicalize
    * each discovered URL ([[graft.operators.Html.urlNormalize]]),
    * evaluate it against this agent's robots.txt rules (stream-static
    * BROADCAST join of the per-host rule arrays — KB per host, the
    * frontier stream never shuffles for the decision), drop URLs whose
    * canonical form is already in a persisted frontier index
    * ([[graft.operators.Html.buildFrontierIndex]]; left-anti
    * stream-static join — the file listing pins at query start, so
    * appends become visible on restart, the same contract as
    * [[lineCleanAdmission]]), and drop re-discoveries within the
    * stream itself via `dropDuplicatesWithinWatermark` on the
    * canonical URL (state bounded by the watermark; a URL re-emitted
    * later than the horizon re-admits — the periodic index append is
    * what makes the suppression durable).
    *
    * Emits one row per admitted URL: (id, ts, canonical_url, host,
    * path, matched_path, matched_type).
    */
  def frontierAdmission(urls: DataFrame, rules: DataFrame, agent: String,
                        indexPath: String, idCol: String, urlCol: String,
                        tsCol: String, watermark: String = "2 hours"): DataFrame = {
    import graft.operators.Html
    val seen = Tables.read(urls.sparkSession, s"$indexPath/urls")
      .select(col("canonical_url").as("__seen"))
    val canon = urls
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        Html.urlNormalize(col(urlCol)).as("canonical_url"))
      .withColumn("host", regexp_extract(col("canonical_url"), Html.HostOfUrlPat, 1))
      .withColumn("path", regexp_extract(col("canonical_url"), Html.PathOfUrlPat, 1))
    val decided = canon
      .join(broadcast(Html.robotsRuleArrays(rules, agent)),
        col("host") === col("__rhost"), "left")
      .withColumn("__w", Html.robotsWinner(col("path"), col("__rules")))
      .filter(col("__w").isNull || col("__w").getField("rtype") === "allow")
    decided
      .join(seen, col("canonical_url") === col("__seen"), "left_anti")
      .dropDuplicatesWithinWatermark("canonical_url")
      .select(col(idCol), col(tsCol), col("canonical_url"),
        col("host"), col("path"),
        coalesce(col("__w").getField("rpath"), lit("")).as("matched_path"),
        coalesce(col("__w").getField("rtype"), lit("")).as("matched_type"))
  }

  /** Continuous politeness scheduling — the stream twin of
    * [[graft.operators.Html.politenessSchedule]]: every admitted URL
    * gets the NEXT serial slot in its host's fetch queue, with the
    * per-host counter carried ACROSS micro-batches in keyed state
    * (`flatMapGroupsWithState`, one Long per host — state is
    * hosts × 8 bytes, never frontier-sized). Within a batch, rows
    * order by id for determinism; across batches, arrival order
    * governs (the streaming contract — a replay from the same
    * checkpoint reproduces the same slots). Input must already carry
    * the host's crawl delay (join [[graft.operators.Html
    * .robotsDirectives]] upstream — a static broadcast, as in
    * [[frontierAdmission]]); emits (id, host, slot, fetch_offset_sec).
    */
  def politenessStream(urls: DataFrame, idCol: String, hostCol: String,
                       delayCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = urls.sparkSession
    import spark.implicits._
    urls
      .select(col(idCol).cast("long"), col(hostCol),
        col(delayCol).cast("double"))
      .as[(Long, String, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (host, rows, state) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, _, d) =>
            val slot = n
            n += 1
            (id, host, slot, slot * d)
          }
          state.update(n)
          out.iterator
      }
      .toDF(idCol, hostCol, "slot", "fetch_offset_sec")
  }

  /** Continuous fetch-layer dedup — the stream twin of
    * [[graft.sources.Formats.revisitClassify]], probing the persisted
    * previous-snapshot digest index
    * ([[graft.sources.Formats.buildRevisitIndex]]) as each fetch
    * arrives: `new` (URI not in the index), `unchanged` (digest equal —
    * write a revisit pointer, skip the payload downstream), `changed`.
    * `gone` has no stream analog (absence is not an event). Stateless
    * per batch — a stream-static left join against the broadcast-able
    * index; payload bytes never shuffle (the digest is computed
    * map-side and the block column is dropped before the join).
    */
  def fetchDedupStream(fetches: DataFrame, uriCol: String,
                       blockCol: String, indexPath: String): DataFrame = {
    val idx = Tables.read(fetches.sparkSession, indexPath)
      .select(col("target_uri").as("__iu"), col("digest").as("prev_digest"))
    val carry = fetches.columns.filter(c => c != blockCol && c != uriCol).map(col)
    fetches
      .select(Seq(col(uriCol), md5(col(blockCol)).as("cur_digest")) ++ carry: _*)
      .join(idx, col(uriCol) === col("__iu"), "left")
      .select(Seq(col(uriCol),
        when(col("prev_digest").isNull, lit("new"))
          .when(col("prev_digest") === col("cur_digest"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("prev_digest"), lit("")).as("prev_digest"),
        col("cur_digest")) ++ carry: _*)
  }

  /** Continuous per-host frontier budget — the stream complement of
    * the batch frontier_budget cut: TopKPerKey picks the top-K by
    * (priority, lastmod) when the whole frontier is visible, but a
    * stream must decide on ARRIVAL, so the budget admits the first `k`
    * URLs per host and suppresses the rest — the per-host admitted
    * count carried across micro-batches in keyed state (one Long per
    * host, never frontier-sized). Within a batch, rows order by id for
    * determinism; across batches, arrival order governs (the streaming
    * contract, same as [[politenessStream]]). Emits admitted rows only:
    * (id, host, host_seq — the 0-based admission index, < k).
    */
  def hostBudgetStream(urls: DataFrame, idCol: String, hostCol: String,
                       k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(k > 0, "budget must be positive")
    val spark = urls.sparkSession
    import spark.implicits._
    urls
      .select(col(idCol).cast("long"), col(hostCol))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (host, rows, state) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).flatMap { case (id, _) =>
            if (n < k) { val seq = n; n += 1; Some((id, host, seq)) }
            else None
          }
          state.update(n)
          out.iterator
      }
      .toDF(idCol, hostCol, "host_seq")
  }

  def lineCleanAdmission(docs: DataFrame, indexPath: String,
                         idCol: String, textCol: String, tsCol: String,
                         watermark: String = "2 hours",
                         window: String = "1 minute"): DataFrame = {
    import graft.operators.Dedup
    val refH = Tables.read(docs.sparkSession, s"$indexPath/linehashes")
      .select(col("h").as("__h"))
    val arr = Dedup.lineArr(textCol)
    // (line_no, line) pairs surviving the within-doc first-occurrence
    // cut: an element is kept iff no EARLIER element equals it
    val firstOcc = filter(
      transform(arr, (l, i) => struct(i.as("line_no"), l.as("__l"))),
      p => !array_contains(slice(arr, lit(1), p.getField("line_no")),
        p.getField("__l")))
    val lines = docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), size(arr).as("n_lines"),
        explode(firstOcc).as("__p"))
      .select(col(idCol), col(tsCol), col("n_lines"),
        col("__p.line_no").as("line_no"), col("__p.__l").as("__l"))
      .withColumn("__h", md5(col("__l")))
      .join(refH, Seq("__h"), "left_anti")
    lines
      .groupBy(col(idCol),
        org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(first(col("n_lines")).as("n_lines"),
        count(lit(1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("__l")))),
          s => s.getField("__l")), "\n").as("clean_text"))
      .select(col(idCol), col("n_lines"), col("n_kept"), col("clean_text"))
  }
}
