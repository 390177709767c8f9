package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.Tables

/** The Lloyd loops of [[Similarity.kmeansCentroids]] and
  * [[Similarity.pqCodebooksTrained]] run each round as one map-only job
  * over a scan planned once. They must return, bit for bit, what the
  * per-round `posexplode` + `groupBy` forms in [[ReferenceForms]]
  * return, and fail where those fail.
  */
class LloydSpec extends AnyFunSuite {
  import TestSpark._

  private val dims = 8
  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def vec(i: Long, len: Int): Seq[Any] =
    (0 until len).map(d => ((i * 37 + d * 11) % 101) / 101.0f - 0.5f)

  private def plain(n: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until n).map(i => Row(i, vec(i, dims))), 3), schema)

  // the 16 seed ids stay plain: a null seed vector fails seeding in
  // both forms, and a short seed is a ragged centroid that its longer
  // members overflow (both forms fail then too)
  private lazy val seedIds: Set[Long] = plain(300)
    .select(col("vec_id"), graft.functions.PortableHash.portableHash(col("vec_id")).as("h"))
    .orderBy(col("h"), col("vec_id")).limit(16)
    .collect().map(_.getLong(0)).toSet

  private def fixture(row: Long => Row): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 300L).map(i => if (seedIds(i)) Row(i, vec(i, dims)) else row(i)), 3), schema)

  private lazy val synthetic: Seq[(String, DataFrame)] = Seq(
    "null vectors" -> fixture(i => Row(i, if (i % 11 == 5) null else vec(i, dims))),
    // each null-element row has a twin with 0.0 there, which the
    // argmin kernel cannot tell apart (it reads a null element as 0.0):
    // a cell whose elements are ALL null makes the reference throw
    // (EdgeCaseSpec pins what the rounds do then)
    "null elements" -> fixture { i =>
      def nulled(j: Long) = j % 13 == 3 && !seedIds(j + 1)
      Row(i,
        if (nulled(i)) vec(i, dims).updated((i % dims).toInt, null)
        else if (nulled(i - 1)) vec(i - 1, dims).updated(((i - 1) % dims).toInt, 0.0f)
        else vec(i, dims))
    },
    "short vectors" -> fixture(i => Row(i,
      if (i % 5 == 2) vec(i, dims - 1 - (i % 3).toInt) else vec(i, dims))))

  private def sfEmb = Tables.embeddings(spark, sf)

  private def bits(a: Array[Array[Double]]): Seq[Seq[Long]] =
    a.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  test("kmeans rounds == the per-round explode form, bit for bit") {
    val inputs = Seq(
      "sf fixture" -> sfEmb,
      "trainMod-strided" -> sfEmb.filter(col("vec_id") % 3 === 0),
      "exchange" -> sfEmb.repartition(3)) ++ synthetic
    for ((name, emb) <- inputs; k <- Seq(1, 8, 16); iters <- 0 to 3) {
      withClue(s"$name k=$k iters=$iters: ") {
        val want = ReferenceForms.kmeansCentroidsExplode(emb, "vec_id", "embedding", k, iters)
        val got = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k, iters)
        assert(bits(got) == bits(want))
      }
    }
  }

  test("trained PQ rounds == the per-round explode form, bit for bit") {
    val inputs = Seq(
      ("sf fixture", sfEmb, 16, 1),
      ("trainMod-strided", sfEmb, 16, 3),
      ("exchange", sfEmb.repartition(3), 16, 1)) ++
      synthetic.map { case (name, emb) => (name, emb, 4, 1) }
    for ((name, emb, m, trainMod) <- inputs; ksub <- Seq(1, 8, 16); iters <- 0 to 3) {
      withClue(s"$name ksub=$ksub iters=$iters: ") {
        val want = ReferenceForms.pqCodebooksTrainedExplode(
          emb, "vec_id", "embedding", m, ksub, iters, trainMod)
        val got = Similarity.pqCodebooksTrained(emb, "vec_id", "embedding", m, ksub, iters, trainMod)
        assert(got.map(bits).toSeq == want.map(bits).toSeq)
      }
    }
  }

  test("a vector longer than its centroid still fails the call") {
    val long = fixture(i => Row(i, vec(i, if (i == 150L) dims + 1 else dims)))
    for (k <- Seq(1, 8)) {
      intercept[Exception](ReferenceForms.kmeansCentroidsExplode(long, "vec_id", "embedding", k, 1))
      intercept[Exception](Similarity.kmeansCentroids(long, "vec_id", "embedding", k, 1))
    }
  }

  test("each Lloyd round is one job and no shuffle") {
    val emb = sfEmb // a first read's schema inference job runs outside the count
    assert(JobCount.jobsAndShuffleStages(spark)(
      Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)) == ((3, 0)),
      "1 seed job + 2 rounds, no shuffle stage")
    assert(JobCount.jobsAndShuffleStages(spark)(
      Similarity.pqCodebooksTrained(emb, "vec_id", "embedding", iters = 2)) == ((3, 0)),
      "1 seed job + 2 rounds, no shuffle stage")
  }
}
