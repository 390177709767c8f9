package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.Materialize.MaterializeOps

/** Corpus-curation operators a training-data pipeline runs after
  * dedup/quality filtering: deterministic quota sampling per stratum
  * and token-stream packing into fixed-budget examples.
  *
  * Both are pure window/aggregate plans — partitioned by the stratum
  * key, no driver-side loops, no randomness (md5-derived order makes
  * every run and every engine agree bit-for-bit).
  */
object Curation {
  private def phash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Deterministic quota sample: keep at most `quota` docs per stratum,
    * chosen by md5-hash order (a stable uniform draw — no RNG, so
    * resampling a grown corpus keeps previously-kept docs only if they
    * still win their hash rank).
    *
    * Runs on the custom TopKPerKey operator, not a row_number window:
    * the window form shuffles and sorts EVERY row per stratum, while
    * TopKPerKey reduces each input partition to ≤ quota rows per
    * stratum before the shuffle — at 100 TB the shuffle carries the
    * sample, not the corpus. [[quotaSampleWindow]] is the reference
    * formulation the spec checks equality against.
    */
  def quotaSample(docs: DataFrame, idCol: String, strataCol: String,
                  quota: Int): DataFrame = {
    val hashed = docs.select(col(idCol), col(strataCol),
      phash(concat(col(strataCol), lit("|"), col(idCol).cast("string"))).as("__h"))
    graft.plans.TopK.perKey(hashed, Seq(strataCol), Seq("__h", idCol),
        quota, descending = false)
      .select(col(idCol), col(strataCol))
  }

  /** Built-in-window reference formulation of [[quotaSample]]. */
  def quotaSampleWindow(docs: DataFrame, idCol: String, strataCol: String,
                        quota: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("__h"), col(idCol))
    docs
      .select(col(idCol), col(strataCol),
        phash(concat(col(strataCol), lit("|"), col(idCol).cast("string"))).as("__h"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= quota)
      .select(col(idCol), col(strataCol))
  }

  /** C70: temperature-scaled mixture sampling (Lample & Conneau 2019,
    * XLM §3.1 — multilingual LM training samples language ℓ with
    * probability q_ℓ ∝ p_ℓ^α; α = 0.5 flattens the mixture toward
    * low-resource sources without drowning the head). Per-source mass
    * (Σ `sizeCol` — pass a precomputed char/token count so no text is
    * read) → q_s ∝ √p_s → per-source doc quota ⌊budget·q_s⌋ → the
    * deterministic md5-order draw [[quotaSample]] uses.
    *
    * α is FIXED at 0.5: `sqrt` is IEEE-correctly-rounded on both
    * engines where a general `pow(x, α)` is not (1-ulp divergence →
    * a quota flipping at a floor boundary). The √mass weights are
    * round-6 decimals so their total is an exact order-independent
    * sum; quota arithmetic is then identical double trees both sides.
    *
    * Scale shape: the mass agg is a partial-agg'd sources-row table;
    * quotas come back to the driver as ONE sources-row collect (the
    * codebook-scalar convention — k-means/PQ do the same); the draw is
    * TopKPerKey at the max quota (shuffle O(sources × maxQuota), never
    * the corpus) + a broadcast quota join to trim per-source ranks.
    */
  def temperatureSample(docs: DataFrame, idCol: String, strataCol: String,
                        sizeCol: String, budget: Int): DataFrame = {
    val quotas = docs.groupBy(col(strataCol))
      .agg(sum(col(sizeCol)).as("__s"))
      .select(col(strataCol),
        round(sqrt(col("__s").cast("double")), 6).cast("decimal(18,6)").as("__w"))
      .select(col(strataCol), col("__w"),
        sum(col("__w").cast("decimal(28,6)"))
          .over(Window.partitionBy()).cast("decimal(28,6)").as("__tw"))
      .select(col(strataCol),
        // __tw = 0 (every source at zero mass) would make the ratio
        // NaN and the ANSI int cast of floor(NaN) kill the job —
        // a degenerate corpus draws nothing instead
        when(col("__tw") > 0,
          floor(lit(budget).cast("double") *
            (col("__w").cast("double") / col("__tw").cast("double")))
            .cast("int"))
          .otherwise(lit(0)).as("quota"))
    // sources-row scalar collect (quota codebook), like kmeans/PQ params
    val qmax = Option(quotas.agg(max(col("quota"))).head.get(0))
      .fold(0)(_.asInstanceOf[Int])
    val hashed = docs.select(col(idCol), col(strataCol),
      phash(concat(col(strataCol), lit("|"), col(idCol).cast("string"))).as("__h"))
    val w = Window.partitionBy(col(strataCol)).orderBy(col("__h"), col(idCol))
    graft.plans.TopK.perKey(hashed, Seq(strataCol), Seq("__h", idCol),
        math.max(qmax, 1), descending = false)
      .withColumn("__rank", row_number().over(w))
      .join(broadcast(quotas), strataCol)
      .filter(col("__rank") <= col("quota"))
      .select(col(idCol), col(strataCol))
  }

  /** Deterministic global corpus shuffle: every doc gets a stable
    * position in a reproducible pseudo-random order (md5 of the id) —
    * the "shuffle the training data once, identically on every rerun"
    * step before sequence packing, with no RNG state to manage.
    * Positions come from [[MapReduceOps.distributedSort]]'s
    * range-partitioned sort + zipWithIndex — never a global
    * single-partition row_number window.
    */
  def shuffleOrder(docs: DataFrame, idCol: String): DataFrame =
    MapReduceOps.distributedSort(
      docs.select(col(idCol),
        phash(concat(lit("shuffle|"), col(idCol).cast("string"))).as("__k")),
      Seq(col("__k"), col(idCol)), Seq(col(idCol), col("__k")))
      .drop("__k")

  /** Per-stratum token-budget sampling — the mixture-weighting step of
    * corpus assembly ("cap source X at N tokens"): keep each stratum's
    * docs in deterministic md5-hash order until the stratum's token
    * budget is spent. A doc is kept iff the tokens BEFORE it in the
    * order are under budget, so a non-empty stratum always contributes
    * at least one doc and budgets overshoot by less than one document —
    * the standard greedy contract. One key-partitioned window; the
    * shuffle carries (id, stratum, count) rows, never text.
    */
  def tokenBudgetSample(docs: DataFrame, idCol: String, textCol: String,
                        strataCol: String, budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy(col(strataCol)).orderBy(col("__h"), col(idCol))
    docs.select(col(idCol), col(strataCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"),
        phash(concat(col(strataCol), lit("|"), col(idCol).cast("string"))).as("__h"))
      .withColumn("__before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("__before") < budgetTokens)
      .select(col(idCol), col(strataCol), col("n_tokens"))
  }

  /** Cross-source overlap matrix: for every pair of sources, the count
    * of distinct word `n`-grams they share and the gram-set Jaccard —
    * the inter-source duplication audit run before mixing corpora
    * (e.g. how much of a web crawl already lives in a curated set).
    *
    * Scale shape: one scan to distinct (source, gram-hash) pairs
    * (materialized — it feeds the pair self-join AND the per-source
    * size aggregation), then [[PairMiner.overlap]] with the gram hash
    * as the block key: a gram-keyed equi-join whose fan-out is bounded
    * by sources² per gram (sources are a fixed handful, so never a pair
    * explosion), grouped down to one row per source pair.
    */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
                    n: Int = 3): DataFrame = {
    val ex = docs
      .select(col(srcCol).as("source"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("source"), explode(TextFunctions.shingles(col("toks"), n)).as("s"))
      .select(col("source"),
        conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("gk"))
      .distinct()
      .materialized
    PairMiner.overlap(ex, "source", "gk", "src_a", "src_b", "shared_grams")
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        PairMiner.jaccard("shared_grams").as("gram_jaccard"))
  }

  /** Benchmark decontamination: for each training document, count the
    * distinct word `n`-grams it shares with any document of the
    * `benchmark` (evaluation) set — the overlap check run before
    * training so eval data is provably absent from the corpus. Returns
    * only contaminated docs: (doc_id, n_hits), n_hits ≥ 1.
    *
    * Scale shape: an eval benchmark is small and FIXED-cardinality by
    * nature (MBs against a 100 TB corpus), so by default its
    * distinct-gram set carries a compile-time broadcast hint like a
    * dimension table — the corpus is scanned once, grams hashed to
    * 48-bit longs map-side, and the membership probe never shuffles the
    * corpus. That hint is ONLY valid under the small-eval-set contract:
    * pass `broadcastBench = false` when the "benchmark" side grows with
    * the data (e.g. corpus-vs-corpus overlap audits) and let AQE pick
    * the join strategy from runtime sizes instead.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 4,
                    broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = docGrams(benchmark, idCol, textCol, n).select(col("gk")).distinct()
    docGrams(train, idCol, textCol, n)
      .join(if (broadcastBench) broadcast(benchGrams) else benchGrams, Seq("gk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  private def docGrams(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = df
    .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
    .select(col("doc_id"), explode(TextFunctions.shingles(col("toks"), n)).as("s"))
    .select(col("doc_id"),
      conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("gk"))
    .distinct()

  /** [[decontaminate]] for benchmark sets too big to broadcast
    * EXACTLY: a Bloom filter of the bench gram set still fits
    * (~1.2 bytes/item at 1% fpp, vs 8+ per exact long), so the screen
    * runs in two phases — (1) a MAP-SIDE bloom prescreen of corpus
    * grams against the filter (built with Spark's own
    * BloomFilterAggregate, probed through
    * [[graft.plans.BloomMightContainBroadcast]]), then (2) an exact
    * shuffle-join confirm of the survivors. False positives die in
    * phase 2, so the RESULT is identical to the exact form
    * (spec-pinned; same oracle) — what the bloom buys is the shuffle:
    * the corpus side carries hits + fp-rate instead of every distinct
    * gram, and the bench side never needs a compile-time broadcast
    * hint.
    *
    * The filter bytes ride a BROADCAST VARIABLE, never a plan literal:
    * this operator exists precisely for gram sets that outgrow an
    * exact broadcast (10⁸–10⁹ grams → 120 MB–1.2 GB of filter), and a
    * literal that size would be serialized into every task binary and
    * every plan copy. The plan holds a broadcast handle; executors
    * fetch the filter once. Plan size is O(1) in `expectedItems` —
    * spec-pinned at 5×10⁷ items (RetrievalSpec).
    *
    * The filter is built with the sketch library directly (one filter
    * per partition of the bench gram set, tree-merged) rather than
    * `BloomFilterAggregate`, which silently CLAMPS its size to the
    * runtime-filter confs (`…runtime.bloomFilter.maxNumItems`,
    * default 4×10⁶) — exactly the regime this operator exists for
    * would get an undersized filter and a quietly useless prescreen.
    */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 4,
                         expectedItems: Long = 4000000L,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    // materialized: feeds the bloom build AND the exact confirm join
    val benchGrams = docGrams(benchmark, idCol, textCol, n)
      .select(col("gk")).distinct().materialized
    if (benchGrams.isEmpty) // empty benchmark → nothing can be contaminated
      return train.select(col(idCol).as("doc_id"), lit(0L).as("n_hits")).limit(0)
    val bf = benchGrams.select(col("gk")).rdd
      .mapPartitions { it =>
        // created executor-side: no multi-MB zero value ships per task
        val f = BloomFilter.create(expectedItems, fpp)
        it.foreach(r => f.putLong(r.getLong(0)))
        Iterator.single(f)
      }
      .treeReduce((a, b) => { a.mergeInPlace(b); a }, depth = 2)
    val bcast = train.sparkSession.sparkContext.broadcast(bf)
    val might = org.apache.spark.sql.classic.GraftPlanFactory.column(
      graft.plans.BloomMightContainBroadcast(bcast,
        org.apache.spark.sql.classic.GraftPlanFactory.expression(col("gk"))))
    docGrams(train, idCol, textCol, n)
      .filter(might) // map-side prescreen, no shuffle
      .join(benchGrams, Seq("gk")) // exact confirm — fp's die here
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Corpus composition report: docs / chars / tokens / distinct
    * contents and the implied duplicate rate per (stratum, substratum)
    * with ROLLUP subtotals — the per-source × per-language table every
    * curation run publishes. One scan, partial-agg'd grouping sets;
    * the distinct-content count rides Spark's two-phase
    * count-distinct expansion, never a per-group set collection.
    * On empty input the result is empty — Spark's grouping-sets
    * aggregate emits no grand-total row for zero rows (engines differ
    * here; the oracle only compares on non-empty corpora).
    */
  def corpusStats(docs: DataFrame, textCol: String,
                  strata: String, substrata: String): DataFrame =
    docs.rollup(col(strata), col(substrata))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum(size(TextFunctions.tokens(col(textCol))).cast("long")).as("n_tokens"),
        countDistinct(md5(col(textCol).cast("binary"))).as("n_unique"))
      .select(col(strata), col(substrata),
        col("n_docs"), col("n_chars"), col("n_tokens"), col("n_unique"),
        (lit(1.0) - col("n_unique").cast("double") / col("n_docs")).as("dup_rate"))

  /** The full curation flow as ONE declarative plan — quality filter →
    * exact dedup → minhash-LSH near-dup drop → per-stratum quota
    * sample. This is the composition a 100 TB pretraining run executes
    * end-to-end; expressing it as a single DataFrame lets Catalyst
    * share scans and pipeline the map-side stages instead of
    * materializing between jobs. Returns the sampled (doc_id, stratum)
    * survivors, bit-deterministic on every engine.
    */
  def curationPipeline(docs: DataFrame, idCol: String, textCol: String,
                       strataCol: String, minQuality: Double = 0.9,
                       minEst: Double = 0.5, quota: Int = 10,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    // Materialized (ids only): gdocs is consumed three times inside
    // corpusDedup (fingerprints, signatures, final ids) — without the
    // cut the quality-scoring pipeline (a full tokenize per doc) would
    // re-run on every consumption. With it, each re-use is a pruned
    // parquet scan + a semi-join against the persisted id set.
    val good = TextAnalysis.quality(docs, idCol, textCol)
      .filter(col("quality_score") >= minQuality)
      .select(col("doc_id").as("__gid"))
      .materialized
    val gdocs = docs.join(good, col(idCol) === col("__gid"), "left_semi")
    // maxBucket: the near-dup flood cap for uncurated crawls, default
    // unbounded (the oracle contract) — rationale at Dedup.corpusDedup
    val survivors = Dedup.corpusDedup(gdocs, idCol, textCol, minEst, maxBucket)
      .select(col("doc_id").as("__sid"))
    val sampledInput = docs.select(col(idCol), col(strataCol))
      .join(survivors, col(idCol) === col("__sid"), "left_semi")
    quotaSample(sampledInput, idCol, strataCol, quota)
  }

  /** End-to-end crawl-to-training pipeline as ONE declarative plan —
    * the stage-0 composite a real crawl corpus runs: HTML → clean text
    * (link-density boilerplate filtering, [[Html.htmlExtract]]) →
    * token-count gate (the Gopher word-count rule's shape: too-short
    * and absurdly-long pages drop) → exact content dedup (min-id
    * survivor per fingerprint, [[Dedup.exact]]) → token-budgeted shard
    * manifest ([[trainingShards]] + [[shardManifest]]). Returns the
    * manifest of the corpus a training job would read.
    *
    * Scale shape: every stage keeps its own audited shape (extract
    * map-side; gate a filter; dedup one fingerprint aggregation whose
    * shuffle is a digest + id; shards the two-pass prefix sum) — and
    * the HTML parse runs ONCE. Every stage past the extract needs only
    * (id, content fingerprint, token count): three narrow values per
    * page, materialized as `meta`, so the dedup aggregation, the
    * survivor semi-join and both prefix-sum passes read persisted
    * ~50-byte rows instead of re-parsing HTML (guide §8 — decide with
    * lightweight proxies; §1.2 — don't recompute what you kept). The
    * previous shape re-ran the extract on the semi-joined side — two
    * parses of every page at any scale (the prefix sum's second pass
    * already rode the sort's shuffle files).
    */
  def crawlPipeline(pages: DataFrame, idCol: String, htmlCol: String,
                    minTok: Int = 5, maxTok: Int = 10000,
                    budgetTokens: Long = 2000L): DataFrame = {
    val meta = Html.htmlExtract(pages, idCol, htmlCol)
      .select(col(idCol),
        // [[Dedup.exact]]'s fingerprint, precomputed on the one parse
        md5(col("clean_text").cast("binary")).as("__fp"),
        size(TextFunctions.tokens(col("clean_text"))).as("n_tokens"))
      .filter(col("n_tokens").between(minTok, maxTok))
      .materialized
    val survivors = meta.groupBy(col("__fp"))
      .agg(min(col(idCol)).as("__sid")).select(col("__sid"))
    val surv = meta.join(survivors, col(idCol) === col("__sid"), "left_semi")
    shardManifest(trainingShardsCounted(
      surv.select(col(idCol), col("n_tokens")), idCol, budgetTokens), idCol)
  }

  /** Document-ALIGNED sequence packing (next-fit): unlike
    * [[packSequences]], a document never straddles two examples — a doc
    * goes into the current bin if it fits the remaining budget,
    * otherwise opens the next bin (an oversized doc gets a bin of its
    * own). The assignment is a sequential recurrence, NOT a prefix sum,
    * so it can't be a window; the Spark-first shape is the secondary
    * sort pattern: hash-partition by stratum, spill-safe
    * sortWithinPartitions on (stratum, id), then ONE streaming
    * `mapPartitions` pass holding O(1) state (current stratum, bin,
    * fill). One shuffle total; a single stratum's docs must share a
    * partition (inherent to sequential packing — same locality the
    * window form needs).
    */
  def packSequencesAligned(docs: DataFrame, idCol: String, textCol: String,
                           strataCol: String, budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs.select(col(idCol).cast("long").as("doc_id"),
        col(strataCol).cast("string").as("stratum"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .repartition(col("stratum"))
      .sortWithinPartitions(col("stratum"), col("doc_id"))
      .as[(Long, String, Long)]
    sized.mapPartitions { rows =>
      var cur: String = null
      var bin = 0L
      var used = 0L
      rows.map { case (id, stratum, n) =>
        if (stratum != cur) { cur = stratum; bin = 0L; used = n }
        else if (used + n <= budget) { used += n }
        else { bin += 1L; used = n }
        (id, stratum, n, bin)
      }
    }.toDF("doc_id", "stratum", "n_tokens", "bin")
  }

  /** Deterministic train/val/test assignment: a doc's split is a pure
    * function of its id (md5 bucket in [0, 1000)), so the same document
    * lands in the same split on every run, every engine, and every
    * corpus size — re-crawling or growing the corpus can never leak a
    * training doc into eval. Pure map-side column math: no shuffle, no
    * RNG, scan-rate at 100 TB. `test` takes buckets [0, testPermille),
    * `val` the next `valPermille`, `train` the rest.
    */
  def splitAssign(docs: DataFrame, idCol: String,
                  valPermille: Int = 10, testPermille: Int = 10): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille <= 1000)
    val b = phash(concat(lit("split|"), col(idCol).cast("string"))) % 1000
    docs.select(col(idCol).as("doc_id"), b.as("bucket"),
      when(b < testPermille, lit("test"))
        .when(b < testPermille + valPermille, lit("val"))
        .otherwise(lit("train")).as("split"))
  }

  /** GROUP-keyed split assignment: every row sharing `keyCol` (a host,
    * a domain, a source feed) lands in the SAME split — the standard
    * leakage guard [[splitAssign]]'s per-doc bucket cannot give: two
    * near-identical pages from one site hash to different id buckets
    * and straddle the train/eval boundary, but they never straddle a
    * HOST bucket. The cost is coarser proportions (split sizes track
    * the key distribution, not the row count — a mega-host moves its
    * whole mass into one split), which is exactly the trade every
    * production crawl split makes. Same pure map-side md5 math, no
    * shuffle, no RNG.
    */
  def splitAssignByKey(df: DataFrame, idCol: String, keyCol: Column,
                       valPermille: Int = 100,
                       testPermille: Int = 100): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille <= 1000)
    val b = phash(concat(lit("ksplit|"), keyCol.cast("string"))) % 1000
    df.select(col(idCol).as("doc_id"), keyCol.as("split_key"),
      b.as("bucket"),
      when(b < testPermille, lit("test"))
        .when(b < testPermille + valPermille, lit("val"))
        .otherwise(lit("train")).as("split"))
  }

  /** C71: split-hygiene audit — [[splitAssign]] composed with the
    * [[decontaminate]] gram screen, run ACROSS the split boundary: a
    * held-out (val/test) document sharing any distinct word `n`-gram
    * with any TRAIN document means the eval split is compromised (the
    * leak the deterministic id-bucket split can't prevent: near-dup
    * CONTENT with different ids lands on both sides). Returns the
    * leaked held-out docs with their split and shared-gram count —
    * run it after every re-crawl, before any eval number is trusted.
    *
    * Scale shape: unlike the benchmark screen, BOTH sides grow with
    * the corpus, so there is no broadcast contract — the probe is the
    * gram-keyed shuffle join ([[decontaminate]]'s
    * `broadcastBench = false` regime), each side reduced to distinct
    * (doc, 48-bit gram-hash) rows map-side first. The split label is
    * a pure function of the id, so it is RECOMPUTED in the output
    * projection — no assignment join anywhere.
    */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 4, valPermille: Int = 10,
                   testPermille: Int = 10): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille <= 1000)
    def splitOf(id: Column): Column = {
      val b = phash(concat(lit("split|"), id.cast("string"))) % 1000
      when(b < testPermille, lit("test"))
        .when(b < testPermille + valPermille, lit("val"))
        .otherwise(lit("train"))
    }
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      splitOf(col(idCol)).as("__split"))
    val trainGrams = docGrams(base.filter(col("__split") === "train"),
      "doc_id", "__text", n).select(col("gk")).distinct()
    docGrams(base.filter(col("__split") =!= "train"), "doc_id", "__text", n)
      .join(trainGrams, Seq("gk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_grams"))
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"),
        col("shared_grams"))
  }

  /** Tokenizer vocabulary build: the `vocabSize` most frequent tokens
    * with dense ids in (count desc, token asc) order. The global top-V
    * compiles to TakeOrderedAndProject (per-partition top-V, merge —
    * never a full sort of the token space); id assignment is a window
    * over the V surviving rows only, so the single-partition window is
    * bounded by the vocab size, not the corpus.
    */
  def vocabBuild(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    val counts = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(vocabSize)
    counts.withColumn("token_id",
      row_number().over(Window.orderBy(col("cnt").desc, col("token"))) - 1)
  }

  /** Portable count-min sketch heavy hitters: a d×w cell table (here
    * 4×1024 counters — FIXED memory regardless of vocabulary size)
    * summarizes token frequencies; a token's estimate is the min of its
    * d cells, always ≥ the true count (collisions only inflate). The
    * query reports the top `topN` true tokens next to their CMS
    * estimates — the 100 TB shape is the cell table: one partial-agg'd
    * shuffle of ≤ d×w rows per partition, mergeable across any split
    * of the data, vs a full-vocabulary groupBy whose key space grows
    * with the corpus. Hashes are the seeded portable md5 family, so
    * the DuckDB oracle rebuilds the identical sketch.
    */
  /** One (r, cell) struct per CMS row for a token column — the shared
    * kernel of [[heavyHittersCms]] and the streaming cell builder
    * (graft.streaming.DocStreams.streamingCellCounts).
    */
  def cmsCellExpr(tok: Column, d: Int, w: Int): Column = {
    import graft.functions.PortableHash
    explode(array((0 until d).map(r =>
      struct(lit(r).as("r"), (PortableHash.portableHash(tok, r) % w).as("cell"))): _*))
  }

  def heavyHittersCms(docs: DataFrame, textCol: String, d: Int = 4,
                      w: Int = 1024, topN: Int = 20): DataFrame = {
    val toks = docs.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
    def cellsOf(tok: Column): Column = cmsCellExpr(tok, d, w)
    val cells = toks.select(cellsOf(col("token")).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("c"))
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
    top.select(col("token"), col("cnt"), cellsOf(col("token")).as("rc"))
      .select(col("token"), col("cnt"), col("rc.r").as("r"), col("rc.cell").as("cell"))
      .join(cells, Seq("r", "cell"))
      .groupBy(col("token"), col("cnt"))
      .agg(min(col("c")).as("cms_est"))
  }

  /** Token-stream packing: docs are concatenated in (stratum, id) order
    * and cut into fixed `budget`-token examples — document boundaries
    * may straddle examples, the standard LM-pretraining packing. Each
    * doc's example/bin id is floor(start_offset / budget) where
    * start_offset counts all preceding tokens in its stratum. A running
    * window sum partitioned by stratum — one shuffle, scales linearly.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    strataCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol), col(strataCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", floor(col("start_offset") / budget))
      .select(col(idCol), col(strataCol), col("n_tokens"),
        col("start_offset"), col("bin"))
  }

  /** Fixed-window document chunking with stride overlap — the
    * context-length stage that turns over-long documents into
    * trainable `win`-token pieces: chunk i covers tokens
    * [i·stride, i·stride + win), so consecutive chunks share
    * win − stride tokens of context (the standard sliding-window
    * split used when a document exceeds the model's context).
    * Empty-token docs emit no chunks; a doc of ≤ win tokens emits
    * exactly one.
    *
    * Output: (id, chunk_id, start_tok, n_tokens, chunk_text).
    *
    * Scale shape: tokenize + per-row explode of a chunk-index
    * sequence + slice — one map pass, zero shuffle; output volume is
    * input × (win / stride) at worst. The chunk-count guard keeps
    * `sequence` ascending (Spark's default step is −1 when start >
    * stop — an empty doc would otherwise yield a descending range,
    * not an empty one).
    */
  def docChunks(docs: DataFrame, idCol: String, textCol: String,
                win: Int = 64, stride: Int = 48): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    val t = TextFunctions.tokens(col(textCol))
    val nChunks = when(size(t) === 0, lit(0))
      .otherwise(lit(1) + floor((greatest(size(t) - win, lit(0))
        + lit(stride) - 1) / stride).cast("int"))
    docs
      .select(col(idCol), t.as("__t"), nChunks.as("__nc"))
      .select(col(idCol), col("__t"),
        posexplode(when(col("__nc") > 0, sequence(lit(0), col("__nc") - 1))
          .otherwise(array().cast("array<int>"))).as(Seq("chunk_id", "__i")))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        slice(col("__t"), col("chunk_id") * stride + 1, lit(win)).as("__c"))
      .select(col(idCol), col("chunk_id"), col("start_tok"),
        size(col("__c")).as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Deterministic training-shard assignment: docs are laid out in the
    * reproducible md5-hash order of [[shuffleOrder]] and cut into
    * shards of `budgetTokens` tokens — the "write the final corpus as
    * N fixed-size training shards" step. A doc lands in shard
    * floor(tokens_before / budget) of the global order, so shard
    * boundaries are content-independent and every rerun (and every
    * engine) produces the identical layout.
    *
    * Output: one row per doc — (id, shard_id, n_tokens, start_offset)
    * with start_offset the doc's global token offset.
    *
    * Scale shape: the global running sum is NOT a single-partition
    * window — it's the classic two-pass distributed prefix sum: one
    * range-partitioned sort on (hash, id), one bounded collect of
    * per-partition token subtotals (numPartitions longs — the
    * codebook-scalar convention), then a map-side pass adding each
    * partition's base offset. The sort's shuffle files are reused by
    * the second pass, so the data moves once.
    */
  def trainingShards(docs: DataFrame, idCol: String, textCol: String,
                     budgetTokens: Long): DataFrame =
    trainingShardsCounted(docs.select(
      col(idCol),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens")),
      idCol, budgetTokens)

  /** [[trainingShards]] over PRECOMPUTED token counts — `docs` is
    * (idCol, n_tokens). Composites that already paid a tokenize pass
    * ([[crawlPipeline]]'s one-parse meta table) feed their counts
    * straight in, so document text never flows into the shard sort.
    */
  def trainingShardsCounted(docs: DataFrame, idCol: String,
                            budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = docs.select(
        col(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        phash(concat(lit("shuffle|"), col(idCol).cast("string"))).as("__h"))
      .orderBy(col("__h"), col(idCol))
    val nIdx = 1 // n_tokens position in the sorted row
    val rdd = sorted.rdd
    val partSums = rdd
      .mapPartitionsWithIndex { (p, it) =>
        Iterator.single(p -> it.foldLeft(0L)(_ + _.getLong(nIdx)))
      }
      .collect().sortBy(_._1).map(_._2)
    val bases = partSums.scanLeft(0L)(_ + _) // bases(p) = tokens before partition p
    val schema = StructType(sorted.schema.fields.take(2) ++ Seq(
      StructField("start_offset", LongType, nullable = false),
      StructField("shard_id", LongType, nullable = false)))
    val out = rdd.mapPartitionsWithIndex { (p, it) =>
      var run = bases(p)
      it.map { r =>
        val n = r.getLong(nIdx)
        val before = run
        run += n
        org.apache.spark.sql.Row(r.get(0), n, before, before / budgetTokens)
      }
    }
    docs.sparkSession.createDataFrame(out, schema)
  }

  /** Per-shard manifest over a [[trainingShards]] assignment: doc and
    * token counts plus an order-independent content digest (bit-xor of
    * each member id's md5-derived hash) — what a training job checks
    * before trusting a shard directory. One small aggregation;
    * `n_shards = ceil(total_tokens / budget)` rows.
    */
  def shardManifest(assign: DataFrame, idCol: String): DataFrame =
    assign.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr(s"bit_xor(${phashSql(s"concat('doc|', cast($idCol AS string))")})")
          .as("digest"))

  /** Shard-manifest diff across two corpus builds — the audit an
    * incremental re-training run reads to touch ONLY changed shards:
    * full-outer join of two [[shardManifest]] outputs on shard_id,
    * each shard classified added / removed / changed / unchanged by
    * the (digest, n_docs, n_tokens) triple. Counts are coalesced to 0
    * on the missing side (no NULL-widening across engines). One join
    * of two manifest-sized tables — O(shards), never O(corpus).
    *
    * Note the honest caveat a user must know: shard boundaries are
    * GLOBAL-ORDER-defined (floor(tokens_before ∕ budget)), so
    * removing one doc shifts every later offset and cascades
    * `changed` from that point in the hash order on — the diff makes
    * that blast radius visible rather than hiding it.
    */
  def shardDiff(oldMani: DataFrame, newMani: DataFrame): DataFrame = {
    val o = oldMani.select(col("shard_id"),
      col("n_docs").as("__od"), col("n_tokens").as("__ot"),
      col("digest").as("__og"))
    val n = newMani.select(col("shard_id"),
      col("n_docs").as("__nd"), col("n_tokens").as("__nt"),
      col("digest").as("__ng"))
    o.join(n, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        when(col("__og").isNull, lit("added"))
          .when(col("__ng").isNull, lit("removed"))
          .when(col("__og") === col("__ng") && col("__od") === col("__nd")
            && col("__ot") === col("__nt"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("__od"), lit(0L)).as("old_docs"),
        coalesce(col("__nd"), lit(0L)).as("new_docs"),
        coalesce(col("__ot"), lit(0L)).as("old_tokens"),
        coalesce(col("__nt"), lit(0L)).as("new_tokens"))
  }

  /** Spark-SQL spelling of [[phash]] for use inside `expr(...)`. */
  private def phashSql(e: String): String =
    s"cast(conv(substring(md5($e), 1, 15), 16, 10) AS long)"

  /** C42: corpus snapshot diff — what changed between two curation
    * iterations, by CONTENT (fingerprint), not by id: a re-crawled page
    * with identical text is `kept` even under a new doc id, and an
    * edited page shows up as one `removed` + one `added` fingerprint.
    * Returns one row per distinct fingerprint with its status and the
    * min doc id on each side.
    *
    * Scale shape: one scan per snapshot, fingerprint partial-agg per
    * side, one digest-keyed full-outer join — text never shuffles, the
    * join carries 16-byte digests + two longs. The status rollup a
    * report wants is a follow-up groupBy over this output.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    def fps(df: DataFrame, side: String) = df
      .groupBy(md5(col(textCol).cast("binary")).as("fingerprint"))
      .agg(min(col(idCol)).as(s"${side}_id"))
    fps(oldDocs, "old").join(fps(newDocs, "new"), Seq("fingerprint"), "full_outer")
      .select(col("fingerprint"),
        when(col("old_id").isNull, lit("added"))
          .when(col("new_id").isNull, lit("removed"))
          .otherwise(lit("kept")).as("status"),
        col("old_id"), col("new_id"))
  }

  /** C39: deterministic mixture re-weighting — each stratum (source,
    * language, quality tier) is down-sampled at its own rate, the knob
    * a training-mixture recipe turns ("30% of the English crawl, all of
    * the low-resource languages"). A document is kept iff
    * `md5(stratum|id) mod 1e6 < rate·1e6`: pure map-side filter — no
    * shuffle, no state, no RNG (reproducible across runs AND stable
    * under corpus growth: adding documents never flips an existing
    * document's fate, unlike any sort- or window-based sampler).
    * `rates` is a fixed-cardinality recipe (one entry per stratum —
    * compiled to a literal CASE chain); strata not listed fall back to
    * `defaultRate`.
    */
  def mixtureSample(docs: DataFrame, idCol: String, stratumCol: String,
                    rates: Map[String, Double],
                    defaultRate: Double = 1.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1))
    val M = 1000000L
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(
      lit(math.round(defaultRate * M))) { case (acc, (k, r)) =>
      when(col(stratumCol) === k, lit(math.round(r * M))).otherwise(acc)
    }
    docs.filter(
      phash(concat(col(stratumCol), lit("|"), col(idCol).cast("string"))) % M
        < threshold)
  }
}
