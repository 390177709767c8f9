package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The stage-committed crawl → curation → shards chain — the
  * production architecture the ≥10 GB fullchain soak measures (the
  * test tree's `graft.soak.Soak`) and the resume proof pins
  * (ChainResumeSpec).
  *
  * Each stage durably commits its output as parquet and the next
  * stage reads ONLY the committed files: a lineage cut at every
  * boundary. That is what (a) bounds the live shuffle footprint —
  * Spark retains every shuffle file a live plan references, and the
  * fully-composed single-lineage form ENOSPC'd a 90 GB disk at a
  * 10 GB corpus (SURVEY §6) — and (b) makes the chain RESTARTABLE:
  * every stage is a deterministic function of its committed input, so
  * a run killed after any stage's commit resumes from that parquet
  * and reproduces the uninterrupted run's downstream artifacts
  * exactly, manifest included. ChainResumeSpec pins that equality at
  * small scale; the soak validates the same stages at GB scale.
  */
object FullChain {

  /** Stage A (crawl): HTML → boilerplate-stripped text → token-count
    * gate → exact dedup; commits survivors (doc_id, clean_text,
    * stratum) at `crawlPath`. The survivor-id semi-join cut is
    * broadcast only while the measured survivor count fits
    * (`broadcastIdCap`) — the id set is CORPUS-PROPORTIONAL (~11.2M
    * ids ≈ hundreds of MB as a broadcast hash relation at the 16.6 GB
    * soak), so above the cap it heads toward driver/executor limits
    * and Spark's 8 GB relation cap; the shuffle join is the honest
    * fallback there.
    */
  def stageCrawl(pages: DataFrame, crawlPath: String,
                 broadcastIdCap: Long = 20000000L): Unit = {
    val gated = graft.operators.Html.htmlExtract(pages, "doc_id", "html")
      .select(col("doc_id"), col("clean_text"))
      .filter(size(graft.functions.TextFunctions.tokens(col("clean_text")))
        .between(5, 10000))
    // Materialized (ids only, the Dedup convention): the survivor set
    // feeds the size gate AND the semi-join — without the cut the
    // htmlExtract pipeline would run once more per use.
    val crawlSurvivors = graft.Materialize.MaterializeOps(
      graft.operators.Dedup
        .exact(gated, "doc_id", "clean_text")
        .select(col("survivor_id").as("__cid"))).materialized
    val survCut =
      if (crawlSurvivors.count() <= broadcastIdCap) broadcast(crawlSurvivors)
      else crawlSurvivors
    gated
      .join(survCut, col("doc_id") === col("__cid"), "left_semi")
      .join(pages.select(col("doc_id"), col("stratum")), Seq("doc_id"))
      .write.mode("overwrite").parquet(crawlPath)
  }

  /** Stage B (curation): quality gate → corpus near-dup (bucket-capped
    * per `maxBucket` — the uncurated-crawl flood guard) → per-stratum
    * quota; commits kept (doc_id, clean_text) at `cutPath`. Reads ONLY
    * the stage-A parquet. The kept-id set is quota-bounded
    * (strata × quota), genuinely small — broadcast unconditionally.
    */
  def stageCurate(spark: SparkSession, crawlPath: String, cutPath: String,
                  minQuality: Double, quota: Int, maxBucket: Int): Unit = {
    val crawled = spark.read.parquet(crawlPath)
    val curated = graft.operators.Curation.curationPipeline(
      crawled, "doc_id", "clean_text", "stratum",
      minQuality = minQuality, quota = quota, maxBucket = maxBucket)
    crawled
      .join(broadcast(curated.select(col("doc_id").as("__kid"))),
        col("doc_id") === col("__kid"), "left_semi")
      .select(col("doc_id"), col("clean_text"))
      .write.mode("overwrite").parquet(cutPath)
  }

  /** Stage C (sink): token-budgeted training shards + committed
    * manifest (the commit marker — data first, manifest last) from the
    * stage-B parquet. Returns (nShards, totalTokens).
    */
  def stageSink(spark: SparkSession, cutPath: String, shardPath: String,
                budgetTokens: Long): (Long, Long) =
    graft.sources.Layouts.writeTrainingShards(
      spark.read.parquet(cutPath), "doc_id", "clean_text",
      budgetTokens, shardPath)
}
