package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.Materialize.MaterializeOps

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB): exact dedup and minhash-LSH are the scale
  * paths — one scan to build keys/signatures (pure map-side codegen'd
  * compute), then a key-partitioned shuffle whose volume is one row per
  * document, never O(n²). The quadratic verifiers (ngram Jaccard,
  * embedding cosine) run only on LSH candidates or explicit samples.
  *
  * All hashes are md5-derived (graft.functions.PortableHash) so the
  * DuckDB oracle reproduces them bit-for-bit.
  */
object Dedup {
  private def phash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Materialize a small derived table that is about to be self-joined.
    *
    * Without this cut Spark plans BOTH join sides from the parquet scan
    * and recomputes the whole upstream pipeline twice (identical
    * subtrees only reuse when they are exchange roots, which these
    * aren't) — for the signature/shingle tables below that pipeline is
    * the single most expensive compute of the query (tokenize → shingle
    * → md5 per shingle), so the cut halves (or better) total work. The
    * materialized rows are a few longs per document — negligible next
    * to re-running the text scan at any corpus size, and exactly what a
    * production dedup index persists anyway.
    *
    * Lazy so merely explaining/auditing a plan runs no job; the first
    * real action computes the rows once and both join sides read the
    * persisted form. Rides [[graft.Materialize]]: `localCheckpoint`
    * blocks by default (fastest, but they die with their executor —
    * fine at local/interactive scale), or a reliable checkpoint under
    * the `graft.materialize.reliable` directory for cluster runs where
    * executor churn must not fail a multi-hour job.
    */
  private def materialize(df: DataFrame): DataFrame =
    df.materialized

  /** C1: exact dedup — content fingerprint → survivor (min id) + count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("fingerprint"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Per-shingle double-hash pair: two disjoint 48-bit windows of ONE
    * md5 digest. The k-hash family is then `h1 + i*h2` (classic double
    * hashing) — 48-bit magnitudes keep `h1 + 15*h2` far from Long
    * overflow, and one digest per shingle instead of k is the scan-rate
    * path at 100 TB.
    */
  /** C2: MinHash + LSH banding candidate pairs with signature-estimated
    * Jaccard. k=16 hashes, 8 bands × 2 rows.
    *
    * Signature construction is explode → one md5 per shingle → k
    * `min(h1 + i*h2)` aggregates: everything whole-stage-codegen'd with
    * map-side partial aggregation (the MapReduce combiner), and the
    * shuffle carries k longs per doc. No higher-order functions — HOF
    * lambdas evaluate interpreted and Catalyst's CollapseProject can
    * inline expression chains into them, both of which wreck scan-rate
    * throughput at scale.
    */
  /** MinHash signature stage alone (the scan-rate path): one native
    * tokenize+shingle kernel per doc, one md5 per shingle, k codegen'd
    * `min(h1 + i·h2)` partial aggregates — the shuffle carries k longs
    * per document.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 16): DataFrame = {
    val ex = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"), 3)).as("s"))
    val hashed = ex.select(col("doc_id"),
      conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("h1"),
      conv(substring(md5(col("s")), 17, 12), 16, 10).cast("long").as("h2"))
    val minCols = (0 until k).map(i => min(col("h1") + col("h2") * i).as(s"m$i"))
    hashed.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding rows for a signature table: one (doc_id, band, bkey)
    * row per band — three longs; bkey a 60-bit hash of the band's
    * signature slice, the bucket key every LSH consumer equi-joins on.
    * Signatures deliberately do NOT ride along: every consumer joins
    * candidates on ids and fetches signatures once per unique pair, so
    * the band table (and any bucket exchange over it) stays k× narrower
    * than a sig-carrying layout.
    */
  private def bandRows(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          phash(concat(b.cast("string"), lit("|"),
            concat_ws(",", transform(sequence(lit(0), lit(rows - 1)),
              r => element_at(col("sig"), b * rows + r + 1).cast("string"))))).as("bkey"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))

  /** Band rows are the [[PairMiner]] blocks. `maxBucket` (default unbounded, keeps the oracle contract) is the
    * skew guardrail for pathological corpora: a band bucket holding m
    * docs emits m² candidate pairs, so a flood of identical documents
    * (which share EVERY band bucket) can dominate the join. The right
    * fix is exact-dedup first — [[corpusDedup]] composes that — but
    * when running LSH standalone over an uncurated crawl,
    * [[PairMiner.cap]] drops buckets above the threshold (bounding
    * worst-case work) at the cost of recall only inside those flooded
    * buckets.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 16, bands: Int = 8,
                 maxBucket: Int = Int.MaxValue): DataFrame = {
    val rows = k / bands
    require(rows * bands == k)
    // Signatures materialized once: the band build and the per-pair
    // agreement fetch both read the same persisted (doc_id, sig) rows,
    // so the text scan → shingle → md5 pipeline runs exactly once.
    val sigs = materialize(minhashSignatures(docs, idCol, textCol, k))
    // The band table is IDS ONLY (doc_id, band, bkey — three longs), so
    // the candidate exchange never carries the k-long signatures.
    // Materialized because it feeds both self-join sides (and, under
    // maxBucket, the bucket census too).
    val banded = PairMiner.cap(materialize(bandRows(sigs, bands, rows)), BandKey, maxBucket)
    val cand = PairMiner.selfPairs(banded, BandKey, "doc_id", "doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"))
    withSigs(cand, "doc_a", sigs, "doc_b", sigs)
      .select(col("doc_a"), col("doc_b"),
        // codegen'd agreement kernel — once per unique candidate pair
        // (the interpreted HOF form is the parity spec twin)
        (sigAgree(col("sig_a"), col("sig_b"))
          / lit(k.toDouble)).as("est_jaccard"))
  }

  /** The band block key of every minhash consumer. */
  private val BandKey = Seq("band", "bkey")

  /** Signature fetch per side: `aSigs`' sig on `a` as sig_a, `bSigs`'
    * on `b` as sig_b (both tables are (doc_id, sig)).
    */
  private def withSigs(pairs: DataFrame, a: String, aSigs: DataFrame,
                       b: String, bSigs: DataFrame): DataFrame =
    PairMiner.fetch(PairMiner.fetch(pairs, a, aSigs, "doc_id", "sig", "sig_a"),
      b, bSigs, "doc_id", "sig", "sig_b")

  /** 60-bit SimHash over (frequency-weighted) tokens. Built as a SQL
    * expression string because the Scala DSL's shift functions only
    * take literal shift amounts.
    */
  def simhash(textCol: Column): Column = {
    val hashes = transform(tokens(textCol),
      t => phash(t))
    // sum_j [ (popcount-vote of bit j) > 0 ] << j
    val votes = transform(sequence(lit(0), lit(59)),
      j => when(aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright_dyn(h, j).bitwiseAND(lit(1L)) * 2 - 1)) > 0,
        shiftleft_dyn(lit(1L), j)).otherwise(lit(0L)))
    aggregate(votes, lit(0L), (acc, v) => acc + v)
  }
  // Column-shift helpers (the functions._ variants require Int literals).
  private def shiftright_dyn(e: Column, n: Column): Column =
    call_function("shiftright", e, n)
  private def shiftleft_dyn(e: Column, n: Column): Column =
    call_function("shiftleft", e, n)

  /** Per-document 60-bit SimHash via explode + 60 codegen'd bit-vote
    * aggregates — same value as [[simhash]] (integer vote sums are
    * association-free) but it runs as a HashAggregate at scan rate
    * instead of interpreted nested lambdas.
    */
  def simhashByDoc(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = docs.select(col(idCol).as("doc_id"),
      explode_outer(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), col("tok"), phash(col("tok")).as("h"))
    val bitVotes = (0 until 60).map(j =>
      sum(when(col("tok").isNull, lit(0L))
        .otherwise(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1)).as(s"b$j"))
    val sh = (0 until 60).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    ex.groupBy(col("doc_id"))
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"), sh.as("sh"))
  }

  /** C3: SimHash near-dup pairs. Pigeonhole blocking: 60 bits split
    * into 4 chunks of 15 — pairs within `maxHamming` ≤ 3 of each other
    * must share a chunk; wider thresholds still use chunks as a
    * candidate filter (recall documented, exact verify after). The
    * [[PairMiner]] chunk blocks carry `sh` (one long: cheaper to carry
    * than to fetch per side).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 10): DataFrame = {
    val sigs = simhashByDoc(docs, idCol, textCol)
    // Materialized: both sides of the chunk-bucket self-join — else the
    // 60-bit-vote aggregation over every token runs twice.
    val chunked = materialize(sigs.select(col("doc_id"), col("sh"),
      explode(transform(sequence(lit(0), lit(3)),
        c => struct(c.as("chunk"),
          shiftright_dyn(col("sh"), c * 15).bitwiseAND(lit(32767L)).as("ckey")))).as("cc"))
      .select(col("doc_id"), col("sh"), col("cc.chunk"), col("cc.ckey")))
    PairMiner.selfPairs(chunked, Seq("chunk", "ckey"), "doc_id", "doc_a", "doc_b",
        carry = Seq("sh"),
        extra = Seq(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming")))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over the near-duplicate graph: docs joined by
    * minhash-LSH pairs (est ≥ `minEst`) collapse into clusters labeled
    * by their minimum doc id — the transitive-closure step real
    * dedup pipelines need (A~B, B~C ⇒ one cluster even if A≁C).
    * The iterative engine (min-label propagation + pointer jumping,
    * pre-partitioned checkpointed edges) lives in
    * [[Graph.connectedComponents]] so any similarity graph can reuse it.
    */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String,
                    minEst: Double = 0.5, maxIters: Int = 20): DataFrame =
    Graph.connectedComponents(
      minhashLsh(docs, idCol, textCol)
        .filter(col("est_jaccard") >= minEst)
        .select(col("doc_a"), col("doc_b")),
      maxIters)

  /** End-to-end corpus dedup: exact duplicates collapse to their min-id
    * survivor, then minhash-LSH near-dup pairs above `minEst` drop the
    * larger id (greedy, deterministic). Returns surviving doc ids.
    * This is the composition a 100 TB curation run executes: one scan
    * for fingerprints, one for signatures, candidate-only verification.
    */
  def corpusDedup(docs: DataFrame, idCol: String, textCol: String,
                  minEst: Double = 0.5,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    // Materialize the survivor ID set (a long per unique doc): `kept`
    // is consumed twice (signature build + final id projection), and
    // without the cut the fingerprint groupBy pipeline would run twice.
    // Ids — not text — are what we persist: the second `kept` use below
    // column-prunes its scan to idCol, so no text is ever read twice.
    val exactSurvivors = materialize(exact(docs, idCol, textCol)
      .select(col("survivor_id").as("__sid")))
    val kept = docs.join(exactSurvivors, col(idCol) === col("__sid"), "left_semi")
    // no distinct before the anti-join: anti-join semantics ignore
    // right-side duplicates, and the distinct would be one extra
    // shuffle of the drop set
    // maxBucket (default unbounded — the oracle contract) rides
    // through to the LSH band join: exact dedup removes IDENTICAL-text
    // floods before LSH, but an uncurated crawl also carries
    // NEAR-identical families (boilerplate with per-page noise) that
    // survive the fingerprint collapse and still share every band
    // bucket — a b-member family emits ~b² candidate pairs. The 10 GB
    // fullchain soak measured that flood directly: ~3300-member
    // near-dup cliques drove the candidate distinct's external sort
    // past 70 GB of scratch for a 10 GB corpus. Cap guidance is the
    // minhashLsh scaladoc's; recall is lost only inside capped buckets.
    val drops = minhashLsh(kept, idCol, textCol, maxBucket = maxBucket)
      .filter(col("est_jaccard") >= minEst)
      .select(col("doc_b").as("__drop"))
    kept.select(col(idCol).as("doc_id"))
      .join(drops, col("doc_id") === col("__drop"), "left_anti")
  }

  /** Quality-aware corpus dedup — [[corpusDedup]] with the survivor
    * policy real curation wants: within each near-duplicate pair the
    * LOWER-QUALITY document is dropped (quality ties break to the
    * larger id, matching corpusDedup). Exact duplicates still collapse
    * to the min id first — identical text has identical quality, so
    * nothing is lost there. Greedy and pair-local like corpusDedup: in
    * a chain a~b~c every pairwise loser is dropped independently
    * (conservative — may drop both b and c), deterministic either way.
    *
    * `scores` is (id, score) — any quality signal; the score join adds
    * two digest-keyed hash joins on the pair table (ids + doubles, no
    * text). The score projection is materialized ONCE before the
    * `sa`/`sb` split: both sides of the pair join consume the same
    * persisted (id, score) blocks, so an expensive score pipeline
    * (e.g. a full-corpus quality scan) never runs twice. Docs with no
    * score row default to -∞ — the unscored side of a pair loses
    * deterministically instead of the pair silently surviving.
    * Everything else inherits corpusDedup's scale shape.
    *
    * `maxBucket` (default unbounded — the oracle contract) rides
    * through to the LSH band join exactly as in [[corpusDedup]]:
    * quality-aware dedup is precisely what runs on UNCURATED crawls,
    * where the 16.6 GB fullchain soak measured ~3300-member near-dup
    * families flooding the candidate join (~b² pairs per bucket).
    */
  def corpusDedupKeepBest(docs: DataFrame, scores: DataFrame, idCol: String,
                          textCol: String, scoreCol: String,
                          minEst: Double = 0.5,
                          maxBucket: Int = Int.MaxValue): DataFrame = {
    val exactSurvivors = materialize(exact(docs, idCol, textCol)
      .select(col("survivor_id").as("__sid")))
    val kept = docs.join(exactSurvivors, col(idCol) === col("__sid"), "left_semi")
    val s = materialize(scores.select(col(idCol).as("__qid"),
      col(scoreCol).cast("double").as("__q")))
    val sa = s.select(col("__qid").as("doc_a"), col("__q").as("__qa"))
    val sb = s.select(col("__qid").as("doc_b"), col("__q").as("__qb"))
    val noScore = lit(Double.MinValue)
    val drops = minhashLsh(kept, idCol, textCol, maxBucket = maxBucket)
      .filter(col("est_jaccard") >= minEst)
      .join(sa, Seq("doc_a"), "left").join(sb, Seq("doc_b"), "left")
      .select(when(coalesce(col("__qa"), noScore) < coalesce(col("__qb"), noScore),
        col("doc_a"))
        .otherwise(col("doc_b")).as("__drop")) // tie → doc_b (larger id)
    kept.select(col(idCol).as("doc_id"))
      .join(drops, col("doc_id") === col("__drop"), "left_anti")
  }

  /** Incremental dedup — the continuous-ingestion form of
    * [[corpusDedup]]: drop from `batch` every document that exactly
    * duplicates (same content fingerprint) or near-duplicates (minhash
    * LSH estimate ≥ `minEst`) a document already in `reference`.
    * Returns surviving batch doc ids. Batch-internal duplicates are out
    * of scope (run [[corpusDedup]] on the batch first).
    *
    * Scale shape: the reference is scanned once for fingerprints (the
    * anti-join ships 16-byte digests, never text) and once for
    * signatures; near-dup candidates come from the same LSH band-bucket
    * equi-join as [[minhashLsh]] — batch docs only ever meet same-bucket
    * reference docs, never the whole corpus.
    *
    * `maxBucket` (default unbounded — the oracle contract) caps the
    * REFERENCE side's band buckets: the probe's per-batch-doc cost is
    * its bucket's reference membership, and the reference is the
    * corpus-proportional side where the measured flood families live
    * (a b-member reference family costs every colliding batch doc b
    * candidate evaluations per band). Recall is lost only inside
    * capped buckets, same contract as [[minhashLsh]].
    */
  def incremental(batch: DataFrame, reference: DataFrame, idCol: String,
                  textCol: String, minEst: Double = 0.5,
                  k: Int = 16, bands: Int = 8,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    require((k / bands) * bands == k)
    // no distinct on the digest set: the anti-join tolerates
    // duplicates, and a distinct would add a full shuffle of the
    // reference digests before the join's own shuffle
    val refFp = reference
      .select(md5(col(textCol).cast("binary")).as("__fp"))
    // signatures feed the band build AND the agreement fetch: sign once
    val rSigs = materialize(minhashSignatures(reference, idCol, textCol, k))
    val rBands = bandRows(rSigs, bands, k / bands)
    // cap enabled: materialize first — the bucket census + semi-join
    // would otherwise run the reference band pass twice
    nearDupSurvivors(batch, idCol, textCol, minEst, k, bands, refFp,
      PairMiner.cap(if (maxBucket == Int.MaxValue) rBands else materialize(rBands),
        BandKey, maxBucket),
      rSigs)
  }

  /** The shared tail of [[incremental]] and [[incrementalIndexed]]:
    * `batch` minus its exact duplicates (content digest in `refFp`'s
    * `__fp`) and near duplicates (minhash estimate ≥ `minEst` against a
    * reference doc sharing a band bucket in `rBands`; reference
    * signatures in `rSigs`, (doc_id, sig)). Returns surviving doc ids.
    */
  private def nearDupSurvivors(batch: DataFrame, idCol: String, textCol: String,
                               minEst: Double, k: Int, bands: Int,
                               refFp: DataFrame, rBands: DataFrame,
                               rSigs: DataFrame): DataFrame = {
    // Materialized: the exact-kept batch feeds both the signature build
    // and the final survivor anti-join — without the cut the batch scan
    // + digest anti-join runs twice. Persisting batch text is fine
    // here: in incremental ingestion the batch is the small new
    // increment (the reference corpus is the big side, scanned once).
    val exactKept = materialize(batch
      .withColumn("__fp", md5(col(textCol).cast("binary")))
      .join(refFp, Seq("__fp"), "left_anti")
      .select(col(idCol), col(textCol)))
    // est_jaccard ≥ minEst ⇔ signature agreements ≥ ceil(minEst·k):
    // integer threshold, no floating-point compare on the hot join.
    val minAgree = math.ceil(minEst * k).toInt
    // batch signatures feed the band build AND the agreement filter
    val bSigs = materialize(minhashSignatures(exactKept, idCol, textCol, k))
    // candidate pairs deduped across bands BEFORE the signature fetch,
    // so each (batch doc, reference doc) agreement is evaluated once
    val candIds = PairMiner.candidates(
        PairMiner.side(bandRows(bSigs, bands, k / bands), BandKey, "doc_id", "doc_id"),
        PairMiner.side(rBands, BandKey, "doc_id", "ref_id"),
        BandKey, "doc_id", "ref_id")
      .select(col("doc_id"), col("ref_id"))
    val nearDrops = withSigs(candIds, "doc_id", bSigs, "ref_id", rSigs)
      .filter(sigAgree(col("sig_a"), col("sig_b")) >= lit(minAgree))
      .select(col("doc_id")) // anti-join below tolerates duplicates
    exactKept.select(col(idCol).as("doc_id"))
      .join(nearDrops, Seq("doc_id"), "left_anti")
  }

  // ---- Persisted dedup index -----------------------------------------------

  /** Build and persist the dedup index of a reference corpus at `path`
    * — the continuous-ingestion form of [[incremental]]'s reference
    * side: content fingerprints under `path/fingerprints`, LSH band
    * rows (with signatures, for the agreement filter) under
    * `path/bands`, and (k, bands) under `path/params` so a batch can
    * never probe with a mismatched hash family. The reference corpus
    * is scanned and signed ONCE at build time; every later batch signs
    * only itself — at a 100 TB reference that converts the per-batch
    * cost from O(reference) to O(batch).
    */
  /** Index layout is NORMALIZED: the k-long signature is stored once
    * per doc under `signatures`, and `bands` carries only (doc_id,
    * band, bkey) — storing the signature inside every band row would
    * multiply the index by the band count (≈1 KB/doc at k=16×8: an
    * index rivaling the corpus at 100 TB). Probes join candidates on
    * ids and fetch signatures once, the same ids-only-shuffle shape
    * the ANN side uses for vectors.
    */
  def buildMinhashIndex(reference: DataFrame, idCol: String, textCol: String,
                        path: String, k: Int = 16, bands: Int = 8): Unit = {
    val rows = k / bands
    require(rows * bands == k)
    reference.select(md5(col(textCol).cast("binary")).as("fp")).distinct()
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    val sigs = minhashSignatures(reference, idCol, textCol, k)
      .materialized // feeds both writes: sign once
    sigs.write.mode("overwrite").parquet(s"$path/signatures")
    bandRows(sigs, bands, rows).select(col("doc_id"), col("band"), col("bkey"))
      .write.mode("overwrite").parquet(s"$path/bands")
    import reference.sparkSession.implicits._
    Seq((k, bands)).toDF("k", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Extend a persisted dedup index with new documents (e.g. the
    * survivors of the batch just admitted) using the INDEX's stored
    * parameters. Appends only — no existing row is touched.
    *
    * Crash semantics: the three appends are separate jobs. Any partial
    * or replayed state here is BENIGN for dedup correctness — extra
    * fingerprints only strengthen exact dedup, duplicate
    * band/signature rows collapse in the probe's candidate dedup, and
    * the probe's `maxBucket` cap counts a bucket's distinct docs, not
    * its rows — so a failed append may simply be retried.
    */
  def appendToMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                           path: String): Unit = {
    val spark = docs.sparkSession
    val p = Tables.read(spark, s"$path/params").collect()(0)
    val (k, bands) = (p.getInt(0), p.getInt(1))
    docs.select(md5(col(textCol).cast("binary")).as("fp")).distinct()
      .write.mode("append").parquet(s"$path/fingerprints")
    val sigs = minhashSignatures(docs, idCol, textCol, k)
      .materialized
    sigs.write.mode("append").parquet(s"$path/signatures")
    bandRows(sigs, bands, k / bands).select(col("doc_id"), col("band"), col("bkey"))
      .write.mode("append").parquet(s"$path/bands")
  }

  /** [[incremental]] against a persisted index: same survivors, but the
    * reference side comes from the prebuilt fingerprint and band tables
    * — only the BATCH is fingerprinted and signed. Equality with the
    * two-corpus form is spec-pinned.
    *
    * `maxBucket` (default unbounded) caps the INDEX's band buckets as
    * [[incremental]] does the reference's; enabling it costs one
    * (band, bkey) census over the persisted band table — longs only,
    * no signatures or text — before the probe join.
    */
  def incrementalIndexed(batch: DataFrame, path: String, idCol: String,
                         textCol: String, minEst: Double = 0.5,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    val spark = batch.sparkSession
    val p = Tables.read(spark, s"$path/params").collect()(0)
    val (k, bands) = (p.getInt(0), p.getInt(1))
    // a bucket's members are its distinct docs: a replayed append
    // repeats band rows, which must not push a bucket over the cap
    nearDupSurvivors(batch, idCol, textCol, minEst, k, bands,
      Tables.read(spark, s"$path/fingerprints").select(col("fp").as("__fp")),
      PairMiner.cap(Tables.read(spark, s"$path/bands"), BandKey, maxBucket,
        member = Some("doc_id")),
      Tables.read(spark, s"$path/signatures"))
  }

  /** C41: content-defined chunking (CDC) + chunk-level dedup — the
    * partial-overlap detector whole-document fingerprints can't see:
    * a paragraph shared between two otherwise-different pages yields
    * identical CHUNKS even though the documents differ.
    *
    * A token is an anchor iff `md5("cdc|"+token) mod anchorMod == 0`;
    * chunks run from one anchor to the next. Boundaries are functions
    * of CONTENT, not position — an insertion near the head moves no
    * later boundary (the fixed-width chunking failure mode), which is
    * what makes chunk fingerprints stable across near-duplicate edits.
    *
    * Scale shape: tokenize+posexplode map-side; one doc-keyed window
    * (running anchor count) on the per-doc shuffle; chunk reassembly
    * buffers ONE CHUNK per aggregation state (expected `anchorMod`
    * tokens, geometric tail) — never a whole document, except the
    * pathological all-anchor-free doc, which degrades to one whole-doc
    * chunk (equivalent to the exact-dedup fingerprint, still bounded by
    * doc length). The final chunk-fingerprint groupBy shuffles digests
    * only. Returns chunks appearing in ≥ 2 distinct documents.
    */
  /** The per-document CDC chunk table: (doc_id, chunk_fp, n_tokens) —
    * the shared build stage of [[cdcChunkDups]], [[cdcContainment]]
    * and [[buildCdcIndex]]. ONE map-side pass through the native
    * codegen'd chunk kernel (graft.plans.CdcChunksExpr): no explode of
    * tokens to rows, no doc-keyed window — i.e. the corpus' TOKENS
    * never shuffle; only chunk digests leave the scan stage. (The
    * windowed formulation this replaces shuffled one row per token to
    * run the running-anchor-count window; [[cdcChunkTableWindowed]]
    * keeps it as the parity-spec reference.)
    */
  def cdcChunkTable(docs: DataFrame, idCol: String, textCol: String,
                    anchorMod: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.cdcChunks(
          tokens(col(textCol)), anchorMod)).as("c"))
      .select(col("doc_id"), col("c.fp").as("chunk_fp"),
        col("c.n").cast("long").as("n_tokens"))

  /** Reference formulation of [[cdcChunkTable]] from built-in
    * functions (posexplode → running-anchor window → ordered
    * reassembly) — for the parity spec only; it shuffles every token.
    */
  def cdcChunkTableWindowed(docs: DataFrame, idCol: String, textCol: String,
                            anchorMod: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val anchored = toks.withColumn("is_anchor",
      (phash(concat(lit("cdc|"), col("tok"))) % anchorMod === 0).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    anchored.withColumn("chunk", sum(col("is_anchor")).over(w))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok"))).cast("binary")).as("chunk_fp"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("chunk_fp"), col("n_tokens"))
  }

  def cdcChunkDups(docs: DataFrame, idCol: String, textCol: String,
                   anchorMod: Int = 16): DataFrame =
    cdcChunkTable(docs, idCol, textCol, anchorMod)
      .groupBy(col("chunk_fp"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("example_doc"),
        min(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") >= 2)

  /** C43: chunk-level containment screen — the fraction of a batch
    * document's TOKENS living in chunks already present in a reference
    * corpus. Catches "mostly quoted / scraped" documents that exact
    * dedup misses (ids differ, some glue text added) and that
    * whole-doc near-dup estimators under-score when the container
    * grows. Returns per-batch-doc (n_chunks, n_matched, matched_frac)
    * for docs above `minFrac`.
    *
    * Scale shape: each side is chunked in one scan + one doc-keyed
    * window; the overlap test is a digest-only left_semi join (16-byte
    * keys, no text); the per-doc rollup is a partial agg on the
    * already-partitioned doc key. Never all-pairs — containment here
    * is against the chunk SET, not per document pair.
    */
  def cdcContainment(batch: DataFrame, reference: DataFrame, idCol: String,
                     textCol: String, anchorMod: Int = 16,
                     minFrac: Double = 0.5): DataFrame = {
    val refChunks = cdcChunkTable(reference, idCol, textCol, anchorMod)
      .select(col("chunk_fp"))
    cdcContainmentAgainst(
      cdcChunkTable(batch, idCol, textCol, anchorMod), refChunks, minFrac)
  }

  private def cdcContainmentAgainst(batchChunks: DataFrame,
                                    refChunkFps: DataFrame,
                                    minFrac: Double): DataFrame = {
    val matched = batchChunks
      .join(refChunkFps.select(col("chunk_fp")), Seq("chunk_fp"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("n_tokens")).as("matched_tokens"))
    batchChunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("total_tokens"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("matched_tokens"), lit(0L)).cast("double") /
          col("total_tokens")).as("matched_frac"))
      .filter(col("matched_frac") >= minFrac)
  }

  /** Persist a reference corpus's CDC chunk fingerprints at `path`
    * (distinct digests only — the smallest index in the family) plus
    * the anchor parameter, so a batch can never chunk with a
    * mismatched boundary function. Chunk the reference once; screen
    * every later batch at O(batch).
    */
  def buildCdcIndex(reference: DataFrame, idCol: String, textCol: String,
                    path: String, anchorMod: Int = 16): Unit = {
    cdcChunkTable(reference, idCol, textCol, anchorMod)
      .select(col("chunk_fp")).distinct()
      .write.mode("overwrite").parquet(s"$path/chunks")
    import reference.sparkSession.implicits._
    Seq(anchorMod).toDF("anchor_mod")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** [[cdcContainment]] against a persisted index — only the batch is
    * chunked (equality with the two-corpus form is spec-pinned).
    * Append new chunk digests with a plain parquet append to
    * `path/chunks`; duplicate digests are harmless (left_semi).
    */
  def cdcContainmentIndexed(batch: DataFrame, path: String, idCol: String,
                            textCol: String,
                            minFrac: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    val anchorMod = Tables.read(spark, s"$path/params").collect()(0).getInt(0)
    cdcContainmentAgainst(
      cdcChunkTable(batch, idCol, textCol, anchorMod),
      Tables.read(spark, s"$path/chunks"), minFrac)
  }

  /** C4: exact n-gram Jaccard on a deterministic sample (quadratic
    * verifier — the LSH above is the scale path; this one is for
    * candidate verification / evaluation).
    *
    * Shingle hashes are the [[PairMiner]] blocks, scored by
    * [[PairMiner.overlap]]. `maxShingleDf` is the [[PairMiner.cap]] on
    * a shingle's document frequency: a 3-gram shared by m docs emits m² pairs, so one
    * stop-word shingle ("one of the") in millions of documents would
    * dominate the join at corpus scale while contributing almost
    * nothing to any pair's Jaccard. Shingles above the cap are dropped
    * from BOTH the intersection and the set sizes (the estimate is over
    * the capped shingle space, consistently on both engines — the
    * oracle applies the same cap). The default never triggers at the
    * driver SFs, so results there equal the uncapped form.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, sampleMod: Int = 2, minJaccard: Double = 0.1,
                   maxShingleDf: Int = 10000): DataFrame =
    ngramOverlap(docs, idCol, textCol, n, sampleMod, minJaccard,
      maxShingleDf, containment = false)

  /** Near-CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ threshold — catches
    * a document quoted or scraped INSIDE a larger one, which symmetric
    * Jaccard dilutes toward zero as the container grows. Same sampled,
    * hash-keyed, df-capped plumbing as [[ngramJaccard]].
    */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, sampleMod: Int = 2,
                       minContainment: Double = 0.5,
                       maxShingleDf: Int = 10000): DataFrame =
    ngramOverlap(docs, idCol, textCol, n, sampleMod, minContainment,
      maxShingleDf, containment = true)

  private def ngramOverlap(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, sampleMod: Int, minScore: Double,
                           maxShingleDf: Int, containment: Boolean): DataFrame = {
    // Distinct 48-bit shingle hashes as join keys: long compares and a
    // long-keyed shuffle instead of full shingle strings.
    // Materialized twice: `ex0` (the tokenize→shingle→md5→distinct
    // pipeline) feeds both the df-cap aggregation and the semi-join;
    // `ex` then feeds the x/y self-join AND the two size joins — without
    // the cuts the shingle pipeline appears FOUR times in the plan.
    val ex0 = materialize(docs
      .filter(col(idCol) % sampleMod === 0)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"), n)).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("sk"))
      .distinct())
    val ex = materialize(PairMiner.cap(ex0, Seq("sk"), maxShingleDf))
    val score =
      if (containment) (col("inter").cast("double") / least(col("na"), col("nb"))).as("containment")
      else PairMiner.jaccard("inter").as("jaccard")
    PairMiner.overlap(ex, "doc_id", "sk", "doc_a", "doc_b", "inter")
      .select(col("doc_a"), col("doc_b"), score)
      .filter(col(if (containment) "containment" else "jaccard") >= minScore)
  }

  /** C52: winnowing-fingerprint overlap (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS scheme): in every window of `w` consecutive
    * n-gram hashes select the MINIMUM (tie → rightmost occurrence);
    * the distinct selected hashes are the document's fingerprints.
    * Winnowing guarantees any shared run of ≥ n + w − 1 tokens yields
    * a shared fingerprint, at a ~2∕(w+1) expected sampling rate — a
    * POSITIONAL guarantee neither minhash (whole-document signature)
    * nor CDC chunks (anchor-boundary digests) provide. Pairs sharing
    * ≥ `minShared` fingerprints are emitted with the shared count.
    *
    * Scale shape: fingerprint selection runs ENTIRELY in the scan —
    * the native WinnowFpsExpr kernel hashes grams and selects window
    * minima in one flat pass per row (no explode, no sort, no window
    * exchange; the window-function formulation it replaced is kept as
    * `ReferenceForms.winnowOverlapWindow`, spec-pinned bit-identical). The
    * (doc, hash) long pairs are MATERIALIZED once for the df-cap
    * aggregation and the pair join, then mined by [[PairMiner]] with
    * the fingerprint hash as the block key; `maxDf` is the
    * [[PairMiner.cap]] that drops boilerplate fingerprints before the
    * self-join fan-out. Never all-pairs.
    */
  def winnowOverlap(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 4, w: Int = 5, minShared: Long = 2,
                    maxDf: Int = 1000): DataFrame = {
    val fps = materialize(docs
      .select(col(idCol).as("doc_id"),
        explode(winnowFps(tokens(col(textCol)), n, w)).as("h")))
    // no distinct: the kernel already dedups fingerprints per document
    PairMiner.selfPairs(materialize(PairMiner.cap(fps, Seq("h"), maxDf)), Seq("h"),
        "doc_id", "doc_a", "doc_b", n = "shared_fps")
      .filter(col("shared_fps") >= minShared)
  }

  /** C13: corpus-wide duplicated-substring spans — the ExactSubstr
    * family ("Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022) re-expressed Spark-first. The paper
    * builds one monolithic suffix array and scans it for repeated
    * substrings ≥ L tokens; a suffix array is a single-node data
    * structure, so instead the same duplicated-span set falls out of a
    * positional k-gram index: a token span is duplicated iff every
    * k-gram inside it occurs ≥ 2 times corpus-wide, so
    *   (1) hash every k-gram occurrence WITH its position (one
    *       codegen'd scan: tokenize → shingle → md5),
    *   (2) keep gram hashes occurring ≥ 2 times anywhere — including
    *       twice in the SAME document, matching suffix-array semantics
    *       for internal repetition (partial-agg'd groupBy, tiny rows),
    *   (3) left-semi the occurrences back against the duplicated set,
    *   (4) merge surviving positions into maximal spans per document
    *       (gaps-and-islands window keyed on the document: a new island
    *       starts when the next duplicated gram no longer overlaps or
    *       abuts the previous gram's k-token cover).
    * Every stage is LINEAR in corpus size: unlike pair mining there is
    * no candidate blowup to df-cap — each gram occurrence crosses the
    * shuffle once, never pairwise, so a gram shared by a million
    * documents costs a million rows, not 10^12. The windows partition
    * by document (bounded by document length), so the 100 TB plan is
    * two key shuffles + one per-doc sort, all spill-safe.
    *
    * Positions are 0-based token offsets; a span [span_start, span_end]
    * covers span_tokens = span_end − span_start + 1 tokens, and only
    * spans ≥ `minSpan` tokens are reported (the paper's L; default 12
    * against k = 8 — any reported span is witnessed by ≥ 5 overlapping
    * duplicated grams).
    */
  def exactSubstrSpans(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, minSpan: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupGramHits(docs, idCol, textCol, k)
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("__s"), (max(col("pos")) + lit(k - 1)).as("__e"))
      .select(col("doc_id"),
        col("__s").cast("long").as("span_start"),
        col("__e").cast("long").as("span_end"),
        (col("__e") - col("__s") + lit(1)).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
  }

  /** C14: per-document ExactSubstr summary — total tokens, tokens
    * covered by duplicated spans (≥ `minSpan`, merged so nothing is
    * double-counted), and the duplicated fraction; every input document
    * appears (zero-span docs report 0). This is the removal ledger of
    * the ExactSubstr pass: `dup_tokens` is exactly what the paper's
    * dedup would cut from each document.
    */
  def exactSubstrStats(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, minSpan: Int = 12): DataFrame = {
    val per = exactSubstrSpans(docs, idCol, textCol, k, minSpan)
      .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("__dup"))
    docs.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("__dup"), lit(0L)).as("dup_tokens"),
        (coalesce(col("__dup"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double")).as("dup_fraction"))
  }

  /** Positions of k-gram occurrences whose hash repeats corpus-wide —
    * the shared front half of the ExactSubstr family. Materialized
    * because the gram table feeds both the duplicate census and the
    * semi-join probe (the standard self-join cut, a few longs per
    * gram occurrence).
    */
  private def dupGramHits(docs: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    val grams = materialize(docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), posexplode(shingles(col("__t"), k)).as(Seq("pos", "__g")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("__g")), 1, 12), 16, 10).cast("long").as("gh")))
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2).select(col("gh"))
    grams.join(dup, Seq("gh"), "left_semi").select(col("doc_id"), col("pos"))
  }

  /** Corpus-wide line-level deduplication — the CCNet/RefinedWeb
    * "remove duplicated lines" pass (Wenzek et al. 2020 §3.1) that runs
    * BETWEEN html extraction and document-level dedup: boilerplate
    * lines (cookie banners, share buttons, footers) repeat across
    * millions of pages, and removing them both shrinks the corpus and
    * un-masks real document-level near-duplicates. Contract:
    * first-occurrence-wins — for every distinct line the minimal
    * (doc_id, line_no) occurrence is kept, all later occurrences are
    * dropped (deterministic, engine-independent; no "seen" state).
    *
    * Output: one row per doc — (id, n_lines, n_kept, clean_text) with
    * clean_text the kept lines re-joined by newline in original order
    * (empty string when every line lost its race).
    *
    * Scale shape: lines shuffle as (md5, doc_id, line_no) — 32-char
    * digest + two longs, never line text; one groupBy picks winners,
    * one int-list groupBy folds kept line numbers per doc, one 1:1 id
    * join back to the docs table, and the text itself is re-split
    * map-side on the joined row. The per-doc kept-line-number array is
    * bounded by the doc's own line count — the same O(doc) class as
    * holding the text column. Grouping on the full 128-bit digest (not
    * the 60-bit phash) keeps hash-collision line merges out of reach
    * at corpus scale.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = lineOccurrences(docs, idCol, textCol)
    val winners = occ.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("line_no"))).as("__w"))
      .select(col(s"__w.$idCol").as(idCol), col("__w.line_no").as("line_no"))
    rebuildKept(docs, idCol, textCol, winners)
  }

  // line_no indexes the TRIMMED-NONEMPTY line array (the same array
  // [[rebuildKept]] filters) — numbering raw split positions instead
  // would skew indices on any blank line. Shared with the streaming
  // admission twin (graft.streaming.DocStreams.lineCleanAdmission).
  private[graft] def lineArr(textCol: String): Column =
    filter(transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)

  /** One row per nonempty line: (id, line_no, __h = md5(line)). */
  private def lineOccurrences(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(lineArr(textCol)).as(Seq("line_no", "__l")))
      .select(col(idCol), col("line_no"), md5(col("__l")).as("__h"))

  /** Rebuild per-doc output from a kept (id, line_no) set: fold the
    * kept line numbers per doc (bounded by the doc's own line count),
    * join the docs table 1:1, and re-split the text map-side.
    */
  private def rebuildKept(docs: DataFrame, idCol: String, textCol: String,
                          kept: DataFrame): DataFrame = {
    val keptNos = kept.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("line_no"))).as("__keep"))
    docs.join(keptNos, Seq(idCol), "left")
      .select(col(idCol), lineArr(textCol).as("__lines"),
        coalesce(col("__keep"), array().cast("array<int>")).as("__keep"))
      .select(col(idCol),
        size(col("__lines")).as("n_lines"),
        size(col("__keep")).as("n_kept"),
        array_join(
          filter(col("__lines"), (_, i) => array_contains(col("__keep"), i)),
          "\n").as("clean_text"))
  }

  /** Incremental [[lineDedup]]: dedup a new BATCH against an already-
    * ingested reference corpus — a batch line survives iff its digest
    * appears nowhere in the reference AND it is the batch's own first
    * occurrence. With reference ids below batch ids this equals
    * running [[lineDedup]] over reference ∪ batch and keeping the
    * batch rows (spec-pinned); unlike that form, the reference text is
    * reduced to digests once and never rescanned per batch.
    *
    * Scale shape: [[lineDedup]]'s digest-only shuffles plus one
    * digest anti-join; no distinct on the reference digests — the
    * anti-join tolerates duplicates and a distinct would add a full
    * shuffle before the join's own ([[incremental]]'s convention).
    */
  def lineDedupAgainst(batch: DataFrame, reference: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val refH = lineOccurrences(reference, idCol, textCol).select(col("__h"))
    val occ = lineOccurrences(batch, idCol, textCol)
    val winners = occ.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("line_no"))).as("__w"))
      .join(refH, Seq("__h"), "left_anti")
      .select(col(s"__w.$idCol").as(idCol), col("__w.line_no").as("line_no"))
    rebuildKept(batch, idCol, textCol, winners)
  }

  /** Persist the line-digest index of a reference corpus at `path` —
    * the continuous-ingestion form of [[lineDedupAgainst]]'s reference
    * side: the corpus is line-split and hashed ONCE; each later batch
    * hashes only itself. Digests are stored distinct (the index is
    * probed forever — paying one build-time shuffle to halve its size
    * is the right trade, unlike the per-batch anti-join input).
    */
  def buildLineIndex(reference: DataFrame, idCol: String, textCol: String,
                     path: String): Unit =
    lineOccurrences(reference, idCol, textCol)
      .select(col("__h").as("h")).distinct()
      .write.mode("overwrite").parquet(s"$path/linehashes")

  /** Extend a persisted line index with a batch's lines (call after
    * admitting the batch). Append-only; duplicate digests from a
    * replayed append are benign — the probe is an anti-join.
    */
  def appendToLineIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String): Unit =
    lineOccurrences(docs, idCol, textCol)
      .select(col("__h").as("h")).distinct()
      .write.mode("append").parquet(s"$path/linehashes")

  /** [[lineDedupAgainst]] a persisted index: only the batch is split
    * and hashed. Equality with the two-corpus form is spec-pinned.
    */
  def lineDedupIndexed(batch: DataFrame, path: String,
                       idCol: String, textCol: String): DataFrame = {
    val refH = Tables.read(batch.sparkSession, s"$path/linehashes")
      .select(col("h").as("__h"))
    val occ = lineOccurrences(batch, idCol, textCol)
    val winners = occ.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("line_no"))).as("__w"))
      .join(refH, Seq("__h"), "left_anti")
      .select(col(s"__w.$idCol").as(idCol), col("__w.line_no").as("line_no"))
    rebuildKept(batch, idCol, textCol, winners)
  }

  /** Deterministic multi-line page fixture for [[lineDedup]]'s driver
    * query (the documents table is single-line text): a corpus-wide
    * header line, the doc's tokens re-wrapped into 6-token lines, and
    * a per-source footer — the repeated-chrome shape a crawl corpus
    * has after HTML extraction. [[wrapLinesSql]] is the DuckDB twin.
    */
  def wrapLines(textCol: Column, srcCol: Column): Column = {
    // tokens() is bound ONCE as a lambda variable: Column trees are
    // trees, not DAGs, so referencing a val twice duplicates the
    // subtree — and inside the body transform that re-tokenized the
    // doc once PER LINE (interpreted, ~50× the work; a 2 GB fixture
    // generation measurably never finished)
    element_at(transform(array(tokens(textCol)), t => {
      val n = size(t)
      val body = when(n > 0,
        transform(sequence(lit(0), ((n - 1) / 6).cast("int")),
          i => array_join(slice(t, i * 6 + 1, lit(6)), " ")))
        .otherwise(array().cast("array<string>"))
      concat_ws("\n",
        concat(array(lit("share this article")), body,
          array(concat(lit("all rights reserved "), srcCol))))
    }), 1)
  }

  /** DuckDB expression building the identical fixture from column
    * expressions `textExpr`/`srcExpr` (tokens via
    * [[graft.functions.TextFunctions.tokensSql]]).
    */
  def wrapLinesSql(textExpr: String, srcExpr: String): String = {
    val t = graft.functions.TextFunctions.tokensSql(textExpr)
    s"""array_to_string(list_concat(list_concat(
       |    ['share this article'],
       |    CASE WHEN len($t) > 0 THEN
       |      list_transform(generate_series(0, (len($t) - 1) // 6),
       |        i -> array_to_string(list_slice($t, i * 6 + 1, i * 6 + 6), ' '))
       |    ELSE []::VARCHAR[] END),
       |    ['all rights reserved ' || $srcExpr]), chr(10))""".stripMargin
  }
}

/** MinHash-LSH parameter advisor — the deployment-tuning math for
  * [[Dedup.minhashLsh]] and the persisted minhash index: given a
  * signature budget `k`, enumerate every (bands b, rows r) split
  * (b·r = k) with its S-curve characteristics, and pick the split
  * whose detection threshold best matches the target Jaccard.
  *
  * Pure driver-side arithmetic (Leskovec/Rajaraman/Ullman, "Mining of
  * Massive Datasets" ch. 3): a pair with Jaccard s collides in ≥ 1 of
  * b bands with probability `1 − (1 − sʳ)ᵇ`; the curve's inflection
  * sits near `(1∕b)^(1∕r)`. `falsePositiveMass`/`falseNegativeAt`
  * integrate the curve below/above the target so the operator's
  * candidate-volume/recall trade-off is a printed number, not
  * folklore. No DataFrames involved — this is the knob-setting step
  * BEFORE the corpus-scale job runs.
  */
object LshPlan {
  /** One candidate parameterization of a k-hash signature. */
  final case class Plan(bands: Int, rows: Int, threshold: Double,
                        pAtTarget: Double, fnAtTarget: Double,
                        fpMassBelow: Double)

  /** Collision probability of a pair with Jaccard `s` under (b, r). */
  def collisionP(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** All (b, r) factorizations of `k`, with the S-curve numbers at
    * `targetJaccard`: detection probability, false-negative rate at
    * the target, and the mean collision probability over s <
    * target (the candidate-volume proxy — what the df-cap and
    * verify stage must absorb), integrated by midpoint rule.
    */
  def plans(k: Int, targetJaccard: Double): Seq[Plan] = {
    require(k >= 1 && targetJaccard > 0 && targetJaccard < 1)
    (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      val p = collisionP(targetJaccard, b, r)
      val steps = 1000
      val fp = (0 until steps).map { i =>
        val s = targetJaccard * (i + 0.5) / steps
        collisionP(s, b, r)
      }.sum / steps
      Plan(b, r, math.pow(1.0 / b, 1.0 / r), p, 1.0 - p, fp)
    }
  }

  /** The split whose inflection threshold is nearest the target with
    * detection probability ≥ `minRecall` — ties to fewer bands (fewer
    * buckets ⇒ less shuffle).
    */
  def recommend(k: Int, targetJaccard: Double,
                minRecall: Double = 0.9): Plan = {
    val all = plans(k, targetJaccard)
    val viable = all.filter(_.pAtTarget >= minRecall)
    val pool = if (viable.nonEmpty) viable else all
    pool.minBy(p => (math.abs(p.threshold - targetJaccard), p.bands))
  }
}
