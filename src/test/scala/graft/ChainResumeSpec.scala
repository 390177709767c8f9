package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Html
import graft.sources.{Layouts, Tables}
import graft.tools.FullChain

/** Restart proof for the stage-committed crawl → curation → shards
  * chain (graft.tools.FullChain — the same stage bodies the soak's
  * ≥10 GB fullchain axis times): a run killed after the crawl stage's
  * commit, resumed from the committed parquet alone, must reproduce
  * the uninterrupted run's artifacts exactly — shard manifest
  * included. That determinism is the stage-committed architecture's
  * selling point (restart, audit, downstream consumers), pinned here
  * at spec scale.
  */
class ChainResumeSpec extends AnyFunSuite {
  import TestSpark._

  test("resume after the crawl commit reproduces the uninterrupted run's manifest") {
    // fullchain-shaped corpus: 3 copies per doc — even copies exact
    // duplicates (crawl-stage dedup has real work), odd copies unique
    val docs = Tables.documents(spark, sf)
    val cid = col("doc_id") * 3 + col("copy")
    val pages = docs
      .select(explode(sequence(lit(1), lit(3))).as("copy"),
        col("doc_id"), col("text"), col("source"))
      .select(cid.as("doc_id"),
        Html.wrapHtml(lit(0),
          when(col("copy") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" uniq"), cid))).as("html"),
        col("source").as("stratum"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_chain").toString

    // uninterrupted run: A → B → C in one composition
    FullChain.stageCrawl(pages, s"$tmp/u/crawl")
    FullChain.stageCurate(spark, s"$tmp/u/crawl", s"$tmp/u/cut",
      minQuality = 0.3, quota = 50, maxBucket = 300)
    val (uShards, uTokens) =
      FullChain.stageSink(spark, s"$tmp/u/cut", s"$tmp/u/shards", 5000L)
    assert(uShards > 0 && uTokens > 0)

    // interrupted run: stage A commits its parquet, then the driver
    // "dies" — stages B/C never run in this composition...
    FullChain.stageCrawl(pages, s"$tmp/r/crawl")
    // ...and the RESUME is a fresh composition whose only input is the
    // committed crawl parquet (never the original fixture)
    FullChain.stageCurate(spark, s"$tmp/r/crawl", s"$tmp/r/cut",
      minQuality = 0.3, quota = 50, maxBucket = 300)
    val (rShards, rTokens) =
      FullChain.stageSink(spark, s"$tmp/r/cut", s"$tmp/r/shards", 5000L)

    // identical headline numbers, identical manifests, identical docs
    assert((rShards, rTokens) == ((uShards, uTokens)))
    val mu = spark.read.parquet(s"$tmp/u/shards/manifest")
    val mr = spark.read.parquet(s"$tmp/r/shards/manifest")
    assert(mu.exceptAll(mr).isEmpty && mr.exceptAll(mu).isEmpty,
      "resumed run's shard manifest diverged from the uninterrupted run")
    val du = spark.read.parquet(s"$tmp/u/cut")
    val dr = spark.read.parquet(s"$tmp/r/cut")
    assert(du.exceptAll(dr).isEmpty && dr.exceptAll(du).isEmpty)
    // and both manifests verify against their own written data
    assert(Layouts.verifyTrainingShards(
      spark, s"$tmp/u/shards", "doc_id", "clean_text") == ((uShards, 0L)))
    assert(Layouts.verifyTrainingShards(
      spark, s"$tmp/r/shards", "doc_id", "clean_text") == ((rShards, 0L)))
  }
}
