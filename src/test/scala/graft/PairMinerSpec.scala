package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions.{shingles, tokens, winnowFps}
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** The key-size caps of the pair miners, on one flood fixture: the
  * sf0.001 corpus plus 60 documents sharing a boilerplate run and 60
  * copies of one embedding. Each test recomputes the operator's block
  * table (id, key) on the driver and pins the capped call to the
  * uncapped one: a capped call emits exactly the uncapped pairs that
  * share at least one key of at most `cap` members — no pair comes from
  * a capped key alone, and every pair with an uncapped key survives.
  */
class PairMinerSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val FloodN = 60
  private val Boilerplate =
    "share this article with your friends on every social network you use today"

  private lazy val docs: DataFrame = {
    // even ids: ngram's default sampleMod = 2 keeps them
    val flood = (0 until FloodN).map(i =>
      (1000000L + 2 * i, s"$Boilerplate unique$i alpha$i beta$i gamma$i delta$i"))
      .toDF("doc_id", "text")
    Tables.documents(spark, sf).select(col("doc_id"), col("text")).unionByName(flood)
  }

  private lazy val emb: DataFrame = {
    graft.plans.GraftFunctions.register(spark) // the test's own lshBucket blocks
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val v0 = base.filter(col("vec_id") === 0).select(col("embedding"))
    base.unionByName(v0.crossJoin(spark.range(FloodN).toDF("i"))
      .select((col("i") + 1000000L).as("vec_id"), col("embedding")))
  }

  /** pair (a < b) → shared keys with at most `cap` members, over the
    * (id, key) rows of `blocks`.
    */
  private def sharedKeys(blocks: DataFrame, cap: Int): Map[(Long, Long), Long] = {
    val byKey: Seq[Seq[Long]] = blocks.distinct().collect().groupBy(_.get(1)).values
      .map(_.map(_.getLong(0)).toSeq.sorted).toSeq
    byKey.filter(_.length <= cap)
      .flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b))
      .groupBy(identity).map { case (p, ps) => p -> ps.length.toLong }
  }

  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a), col(b)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The capped pairs are the uncapped ones sharing an uncapped key,
    * and the flood key really is capped.
    */
  private def assertCapped(capped: Set[(Long, Long)], uncapped: Set[(Long, Long)],
                           blocks: DataFrame, cap: Int): Unit = {
    val keep = sharedKeys(blocks, cap).keySet
    assert(capped == uncapped.filter(keep), (capped -- uncapped, uncapped.filter(keep) -- capped))
    assert(capped.nonEmpty && capped.size < uncapped.size,
      s"cap $cap should drop some pairs and keep others: ${capped.size} of ${uncapped.size}")
    assert(!capped.contains((1000000L, 1000002L)), "a flood pair shares only capped keys")
  }

  test("embeddingPairs(maxBucket): no pair from a capped bucket, the rest as uncapped") {
    val (nPlanes, nTables, cap) = (5, 16, 40)
    val blocks = (0 until nTables).map(t => emb.select(col("vec_id"),
        struct(lit(t), Similarity.lshBucket(col("embedding"), nPlanes, 64, t * nPlanes))
          .as("key")))
      .reduce(_ unionByName _)
    def run(maxBucket: Int) = pairSet(Similarity.embeddingPairs(emb, "vec_id", "embedding",
      0.0, nPlanes, nTables, maxBucket = maxBucket), "vec_a", "vec_b")
    val uncapped = run(Int.MaxValue)
    assert(uncapped.contains((1000000L, 1000001L)))
    assertCapped(run(cap), uncapped, blocks, cap)
  }

  test("embeddingPairsIvf(maxCell): no pair from a capped cell, the rest as uncapped") {
    val (k, iters, nProbes, cap) = (32, 2, 2, 60)
    val centroids = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k, iters)
    val blocks = emb.select(col("vec_id"),
      explode(Similarity.kmeansProbeCellsExpr(col("embedding"), centroids, nProbes)))
    def run(maxCell: Int) = pairSet(Similarity.embeddingPairsIvf(emb, "vec_id", "embedding",
      0.0, k, iters, nProbes, maxCell = maxCell), "vec_a", "vec_b")
    assertCapped(run(cap), run(Int.MaxValue), blocks, cap)
  }

  test("ngramJaccard(maxShingleDf): no pair from a capped shingle, the rest as uncapped") {
    val cap = 30
    val blocks = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("s"))
      .select(col("doc_id"), conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long"))
    def run(maxShingleDf: Int) = pairSet(Dedup.ngramJaccard(docs, "doc_id", "text",
      minJaccard = 0.0, maxShingleDf = maxShingleDf), "doc_a", "doc_b")
    assertCapped(run(cap), run(Int.MaxValue), blocks, cap)
  }

  test("winnowOverlap(maxDf): no pair from a capped fingerprint; shared counts over uncapped ones") {
    val cap = 30
    val blocks = docs.select(col("doc_id"), explode(winnowFps(tokens(col("text")), 4, 5)))
    def run(maxDf: Int) = Dedup.winnowOverlap(docs, "doc_id", "text", minShared = 1,
      maxDf = maxDf).collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (capped, uncapped) = (run(cap), run(Int.MaxValue))
    assert(capped == sharedKeys(blocks, cap))
    assert(uncapped == sharedKeys(blocks, Int.MaxValue))
    assertCapped(capped.keySet, uncapped.keySet, blocks, cap)
  }
}
