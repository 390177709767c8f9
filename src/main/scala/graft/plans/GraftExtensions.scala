package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — the supported way to ship the
  * engine's native functions and planner strategy into ANY session:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * It injects:
  *  - the `graft_*` native functions (`graft_cosine`, `graft_dot`,
  *    `graft_tokens`, `graft_shingles`, `graft_kmin_by`,
  *    `graft_cdc_chunks`);
  *  - the [[TopKStrategy]] planner strategy for [[TopKPerKey]];
  *  - the [[FixedPointRule]] optimizer rule (a pre-CBO rule, after
  *    operator optimization): double→decimal casts, exact decimal
  *    products and grouped decimal sums run on unscaled longs, equal to
  *    Spark's expressions in value, null-ness and error.
  *    `spark.sql.optimizer.excludedRules=graft.plans.FixedPointRule`
  *    switches it off for a session, e.g. to bisect a result mismatch.
  *
  * GraftSession.builder applies it by default; GraftFunctions.register
  * remains for sessions created elsewhere (it skips the names a session
  * already resolves).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductF64].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductF64(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[TokensExpr].getName, "graft_tokens"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TokensExpr(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShinglesExpr(exprs(0),
          GraftFunctions.foldableIntArg("graft_shingles", "n", exprs(1)))))
    e.injectFunction((
      FunctionIdentifier("graft_kmin_by"),
      new ExpressionInfo(classOf[KMinByHash].getName, "graft_kmin_by"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        KMinByHash(exprs(0), exprs(1),
          GraftFunctions.foldableIntArg("graft_kmin_by", "k", exprs(2)))))
    e.injectFunction((
      FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunksExpr].getName, "graft_cdc_chunks"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CdcChunksExpr(exprs(0),
          GraftFunctions.foldableIntArg("graft_cdc_chunks", "anchorMod", exprs(1)))))
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectPreCBORule(_ => FixedPointRule)
  }
}
