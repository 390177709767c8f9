package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.plans.GraftFunctions
import graft.Materialize.MaterializeOps

/** Parity-only reference forms of the similarity kernels: the composed
  * expression or join formulations each native kernel / scan shape
  * replaced. Specs pin the shipped operators against them; nothing on
  * a query path uses them.
  */
object ReferenceForms {

  /** Brute-force all-pairs verifier (quadratic, small tables / specs
    * only — C5 ships [[Similarity.embeddingPairs]]).
    */
  def embeddingPairsBrute(emb: DataFrame, idCol: String, vecCol: String,
                          minCosine: Double): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val a = emb.select(col(idCol).as("vec_a"), col(vecCol).as("va")).repartition(par)
    val b = emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorFunctions.cosineNative(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Pre-round-15 composed form of [[Similarity.kmeansProbeCellsExpr]]:
    * array_sort over (‖c‖²−2·v·c, j) structs, first `nProbes` ids.
    */
  def kmeansProbeCellsExprComposed(vecCol: Column, centroids: Array[Array[Double]],
                                   nProbes: Int): Column = {
    require(centroids.nonEmpty)
    val structs = centroids.zipWithIndex.map { case (c, j) =>
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
      struct(
        (lit(cc) - lit(2.0) * call_function("graft_dot", vecCol, typedLit(c.toSeq)))
          .as("s"),
        lit(j).as("c"))
    }
    transform(
      slice(array_sort(array(structs.toIndexedSeq: _*)), 1, nProbes),
      x => x.getField("c"))
  }

  /** The pre-round-15 composed form of [[Similarity.kmeansAssignExpr]] —
    * a `least()` fold over (‖c‖²−2·v·c, j) structs with the centroid
    * norms as codegen-source literals. Every Lloyd iteration changes
    * the centroid constants, so this form recompiles its k×dims janino
    * class per iteration (and at k×dims past the 64 KB method limit
    * falls back to interpreted evaluation), which is why the
    * reference-object kernel replaced it on the query path.
    */
  def kmeansAssignExprComposed(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty)
    val structs = centroids.zipWithIndex.map { case (c, j) =>
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x) // same fold as dotSql
      struct(
        (lit(cc) - lit(2.0) * call_function("graft_dot", vecCol, typedLit(c.toSeq)))
          .as("s"),
        lit(j).as("c"))
    }
    (if (structs.length == 1) structs.head
     else least(structs.toIndexedSeq: _*)).getField("c")
  }

  /** The per-query ADC distance table (query_id, m, code, d2) — the
    * native kernel (graft.plans.PqDistTableExpr) exploded to rows.
    */
  def pqDistTable(queries: DataFrame, idCol: String, vecCol: String,
                  cbs: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val dt = GraftPlanFactory.column(
      graft.plans.PqDistTableExpr(GraftPlanFactory.expression(col(vecCol)), cbs))
    queries.select(col(idCol).as("query_id"), dt.as("__dt"))
      .select(col("query_id"), explode(col("__dt")).as("e"))
      .select(col("query_id"), col("e.m").as("m"),
        col("e.code").as("code"), col("e.d2").as("d2"))
  }

  /** Expression-composed form of [[pqDistTable]] (512 literal structs —
    * past the 64 KB codegen limit, harmless at query-batch cardinality).
    */
  def pqDistTableExprForm(queries: DataFrame, idCol: String, vecCol: String,
                          cbs: Array[Array[Array[Double]]]): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val m = cbs.length
    val ksub = cbs.head.length
    val dsub = cbs.head.head.length
    val entries = for (mi <- 0 until m; j <- 0 until ksub) yield {
      val c = cbs(mi)(j)
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x) // same fold as dotSql
      val vm = col(s"__q$mi")
      struct(lit(mi).as("m"), lit(j).as("code"),
        round((lit(cc) - lit(2.0) * call_function("graft_dot", vm, typedLit(c.toSeq)))
          + call_function("graft_dot", vm, vm.cast("array<double>")), 6)
          .cast("decimal(18,6)").as("d2"))
    }
    queries
      .select(col(idCol).as("query_id") +: (0 until m).map { mi =>
        slice(col(vecCol), mi * dsub + 1, dsub).as(s"__q$mi")
      }: _*)
      .select(col("query_id"), explode(array(entries: _*)).as("e"))
      .select(col("query_id"), col("e.m").as("m"),
        col("e.code").as("code"), col("e.d2").as("d2"))
  }

  /** The unnest-join-groupBy formulation of the exhaustive ADC search
    * (shuffles Q×N partial-sum rows; the kernel scan replaced it).
    */
  def knnPqJoinForm(emb: DataFrame, idCol: String, vecCol: String,
                    nQueries: Int = 10, k: Int = 5,
                    m: Int = 16, ksub: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(emb.sparkSession)
    val cbs = Similarity.pqCodebooks(emb, idCol, vecCol, m, ksub)
    val codes = Similarity.pqEncodeWith(emb, idCol, vecCol, cbs).materialized
      .select(col("vec_id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
    val dtab = pqDistTable(emb.filter(col(idCol) < nQueries), idCol, vecCol, cbs)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    codes.join(broadcast(dtab), Seq("m", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).cast("decimal(28,6)").as("adist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .withColumn("adist", col("adist").cast("double"))
  }
}
