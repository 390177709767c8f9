/* Package-private bridge, same pattern as public extension libraries
 * (e.g. Qbeast's DatasetFactory): expose Dataset.ofRows so library
 * code outside org.apache.spark.sql can build a DataFrame from a
 * custom LogicalPlan.
 */
package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

object GraftPlanFactory {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[Dataset[Row]].queryExecution.analyzed

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** Re-root a (checkpointed) DataFrame on a LogicalRDD with DEFAULT
    * stats, dropping the estimate `Dataset.localCheckpoint` copies from
    * the original plan. Iterative algorithms need this: a checkpoint's
    * rewritten stats feed the NEXT round's join-size products, so the
    * `sizeInBytes` BigInt compounds ~4× in BIT LENGTH per round and
    * Catalyst's stats visitor ends up doing multi-megabit Toom-Cook
    * multiplication on the driver for minutes (observed: 447 s for a
    * 37k-edge connected components at 200k vertices; 7 s with the
    * reset). Partitioning and ordering are preserved — only the
    * poisoned statistics (and plan-derived constraints) are dropped.
    */
  def statsTruncated(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession
    val lr = ds.queryExecution.analyzed match {
      // checkpointed df: reuse the SAME rdd and physical metadata
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(spark, None, None)
      case _ =>
        val full = org.apache.spark.sql.execution.LogicalRDD
          .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false)
        org.apache.spark.sql.execution.LogicalRDD(
          full.output, full.rdd, full.outputPartitioning, full.outputOrdering,
          full.isStreaming, full.stream)(spark, None, None)
    }
    Dataset.ofRows(spark, lr)
  }

  /** Drain the listener bus so listener callbacks (async by design)
    * have fired before a caller reads their state: every job, stage and
    * task event and every query-execution callback posted before this
    * call. `graft.Profile.measure` calls it before and after its body,
    * and Bench before reading the pooled per-query spans.
    */
  def flushListeners(spark: SparkSession, timeoutMs: Long = 10000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s)) {
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
    }
  }
}
