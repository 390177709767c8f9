package org.apache.spark.sql

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.util.QueryExecutionListener

/** Test-side view of the listeners registered on a session, through
  * Spark's package-private lookups.
  */
object ListenerRegistry {
  /** Whether `l` is on the context's scheduler listener bus. */
  def onBus[T <: SparkListenerInterface : ClassTag](spark: SparkSession, l: T): Boolean =
    spark.sparkContext.listenerBus.findListenersByClass[T]().exists(_ eq l)

  /** Whether `l` is on the session's query-execution listener manager. */
  def onManager(spark: SparkSession, l: QueryExecutionListener): Boolean =
    spark.listenerManager.listListeners().exists(_ eq l)
}
