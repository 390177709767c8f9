package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Bit-parity of the round-15 native k-means assignment kernels
  * against the composed `least()`-struct forms they replaced on the
  * query path. The composed forms embed centroid constants as codegen
  * source literals (one janino recompile per Lloyd iteration); the
  * kernels carry the codebook as a reference object — these pins are
  * what licenses the swap.
  */
class KmeansExprSpec extends AnyFunSuite {
  import TestSpark._
  graft.plans.GraftFunctions.register(spark) // composed forms use graft_dot

  private val dims = 8
  private def vecsDf(n: Int) = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // deterministic pseudo-random floats, plus exact-tie rows: id 0 and
    // 1 share one vector, and centroid 3 duplicates centroid 1 so two
    // scores tie EXACTLY and the lower index must win
    val rows = (0 until n).map { i =>
      val base = if (i == 1) 0 else i
      Row(i.toLong, Array.tabulate(dims)(d =>
        (((base * 31 + d * 17) % 97) / 97.0f - 0.5f)).toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def centroids(k: Int): Array[Array[Double]] = {
    val cs = Array.tabulate(k)(j =>
      Array.tabulate(dims)(d => (((j * 13 + d * 7) % 89) / 89.0 - 0.5)))
    if (k > 3) cs(3) = cs(1).clone() // exact duplicate → score ties
    cs
  }

  test("native argmin == composed least() struct fold (ties to lower index)") {
    val df = vecsDf(64)
    val cs = centroids(6)
    val got = df.select(col("vec_id"),
        Similarity.kmeansAssignExpr(col("embedding"), cs).as("a"),
        ReferenceForms.kmeansAssignExprComposed(col("embedding"), cs).as("b"))
      .filter(col("a") =!= col("b"))
    assert(got.count() == 0, got.collect().mkString(", "))
  }

  test("native probeCells == composed array_sort/slice form, all probe widths") {
    val df = vecsDf(48)
    val cs = centroids(6)
    Seq(1, 2, 4, 6, 9).foreach { p => // 9 > k exercises the clamp
      val got = df.select(col("vec_id"),
          Similarity.kmeansProbeCellsExpr(col("embedding"), cs, p).as("a"),
          ReferenceForms.kmeansProbeCellsExprComposed(col("embedding"), cs, p).as("b"))
        .filter(not(col("a") === col("b")))
      assert(got.count() == 0, s"probes=$p: " + got.collect().mkString(", "))
    }
  }

  test("prototypeScores kernel: cluster and cosine match the composed struct") {
    val df = vecsDf(48)
    val cs = centroids(6)
    import org.apache.spark.sql.classic.GraftPlanFactory
    val native = df.select(col("vec_id"),
      GraftPlanFactory.column(graft.plans.KmeansArgminCosExpr(
        GraftPlanFactory.expression(col("embedding")), cs)).as("__m"))
      .select(col("vec_id"), col("__m").getField("c").as("c"),
        round(col("__m").getField("cos"), 6).as("cos"))
    val structs = cs.zipWithIndex.map { case (c, j) =>
      val ccv = c.foldLeft(0.0)((acc, x) => acc + x * x)
      struct(
        (lit(ccv) - lit(2.0) * call_function("graft_dot", col("embedding"),
          typedLit(c.toSeq))).as("s"),
        lit(j).as("c"),
        round(call_function("graft_dot", col("embedding"), typedLit(c.toSeq)) /
          (sqrt(call_function("graft_dot", col("embedding"),
            col("embedding").cast("array<double>"))) * lit(math.sqrt(ccv))), 6)
          .as("cos"))
    }
    graft.plans.GraftFunctions.register(spark)
    val composed = df.select(col("vec_id"),
        least(structs.toIndexedSeq: _*).as("__m"))
      .select(col("vec_id"), col("__m").getField("c").as("c"),
        col("__m").getField("cos").as("cos"))
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("kernel interpreted eval agrees with codegen path") {
    val cs = centroids(6)
    val cc = cs.map(_.foldLeft(0.0)((acc, x) => acc + x * x))
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill(dims)(rnd.nextFloat() - 0.5f))
      val a = graft.functions.GraftKmeans.argmin(v, cs, cc)
      // brute reference: (s, j) lexicographic min
      val scores = cs.indices.map { j =>
        var dot = 0.0
        (0 until dims).foreach(i => dot += v.getFloat(i).toDouble * cs(j)(i))
        (cc(j) - 2.0 * dot, j)
      }
      val want = scores.minBy(identity)._2
      assert(a == want)
      val probes = graft.functions.GraftKmeans.probeCells(v, cs, cc, 3)
        .toIntArray().toSeq
      assert(probes == scores.sorted.take(3).map(_._2))
    }
  }
}
