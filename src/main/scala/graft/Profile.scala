package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.GraftPlanFactory
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** graft's one profiler: a scheduler listener and a query-execution
  * listener in one object, registered on a session by [[Profile.install]]
  * and removed by [[close]].
  *
  *  - Jobs are attributed by the `graft:` job group that
  *    [[Monitoring.inGroup]] sets. Spark propagates the group into AQE
  *    stages and broadcast threads, so the RDD jobs of iterative
  *    operators (the Lloyd rounds of `Similarity.kmeansCentroids`,
  *    which no query-execution listener sees) count toward their
  *    query. Per job it keeps the span and the stage ids; per stage,
  *    each task's duration, shuffle write and read, input bytes, spill
  *    and GC time. Jobs outside a graft group are not kept.
  *  - Queries tagged by [[Monitoring.tag]] get one [[Profile.QueryMetrics]]
  *    record each: output rows, scanned bytes, execution seconds and
  *    status ([[snapshot]], [[json]]).
  *
  * A query's ENGINE span is the sum of its group's job spans. AQE may
  * run independent stages as concurrent jobs, so the sum can exceed
  * the wall span: it is a work measure, not a latency.
  *
  * Listener events are asynchronous; read after
  * `GraftPlanFactory.flushListeners` (which [[Profile.measure]] does).
  */
final class Profile private (spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AutoCloseable {
  import Profile._

  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val tags = new ConcurrentHashMap[String, QueryMetrics]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Monitoring.Prefix)).foreach { g =>
      synchronized {
        jobs(e.jobId) = Job(e.jobId, g.stripPrefix(Monitoring.Prefix), e.time, -1L, e.stageIds)
        e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId, Stage(s.stageId, s.name)))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val m = Option(e.taskMetrics)
      def sum(f: org.apache.spark.executor.TaskMetrics => Long) = m.fold(0L)(f)
      stages(e.stageId) = s.copy(
        taskMs = s.taskMs :+ e.taskInfo.duration,
        shuffleWrite = s.shuffleWrite + sum(_.shuffleWriteMetrics.bytesWritten),
        shuffleRead = s.shuffleRead + sum(_.shuffleReadMetrics.totalBytesRead),
        inputBytes = s.inputBytes + sum(_.inputMetrics.bytesRead),
        spillBytes = s.spillBytes + sum(_.diskBytesSpilled),
        gcMs = s.gcMs + sum(_.jvmGCTime))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    tag(qe, durationNs, "ok")
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    tag(qe, 0L, "failed")

  private def tag(qe: QueryExecution, durationNs: Long, status: String): Unit =
    qe.observedMetrics.foreach { case (obsName, row) =>
      if (obsName.startsWith(Monitoring.Prefix)) {
        val name = obsName.stripPrefix(Monitoring.Prefix)
        val rows = if (row.isNullAt(0)) 0L else row.getLong(0)
        tags.put(name,
          QueryMetrics(name, durationNs / 1e9, rows, scanBytes(qe.executedPlan), status))
      }
    }

  /** The jobs of group `name`, and the stages they ran or skipped. */
  private def group(name: String): (Seq[Job], Seq[Stage]) = synchronized {
    val js = jobs.values.filter(_.group == name).toVector.sortBy(_.id)
    (js, js.flatMap(_.stageIds).distinct.sorted.flatMap(stages.get))
  }

  /** Engine seconds per group with at least one finished job. */
  def engineSpans: Map[String, Double] = synchronized {
    jobs.values.filter(_.endMs >= 0).groupBy(_.group)
      .map { case (g, js) => g -> js.map(_.spanMs).sum / 1e3 }
  }

  /** Per-tagged-query records, by name. */
  def snapshot: Seq[QueryMetrics] = tags.values.asScala.toSeq.sortBy(_.name)

  def json: String = snapshot.map { m =>
    s"""{"name":"${m.name}","sec":${"%.3f".format(m.seconds)},"rows":${m.rows},""" +
      s""""scan_bytes":${m.scanBytes},"status":"${m.status}"}"""
  }.mkString("[", ",", "]")

  /** Unregisters both listeners; the recorded data stays readable. */
  override def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Profile {
  final case class QueryMetrics(name: String, seconds: Double, rows: Long,
                                scanBytes: Long, status: String)

  /** A job of a graft group; `endMs` is -1 until it ends. */
  final case class Job(id: Int, group: String, startMs: Long, endMs: Long,
                       stageIds: Seq[Int]) {
    def spanMs: Long = if (endMs < 0) 0L else endMs - startMs
  }

  /** A stage's task durations and summed task metrics (a skipped stage
    * has no tasks).
    */
  final case class Stage(id: Int, name: String, taskMs: Vector[Long] = Vector.empty,
                         shuffleWrite: Long = 0L, shuffleRead: Long = 0L,
                         inputBytes: Long = 0L, spillBytes: Long = 0L, gcMs: Long = 0L)

  /** One measured body: its wall seconds, its group's jobs and stages,
    * and the exception it threw, if any.
    */
  final case class Measure(wallSec: Double, jobs: Seq[Job], stages: Seq[Stage],
                           error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
    def engineSec: Double = jobs.map(_.spanMs).sum / 1e3
    def shuffleWriteBytes: Long = stages.map(_.shuffleWrite).sum
    def inputBytes: Long = stages.map(_.inputBytes).sum
    /** This measure, or the body's exception rethrown. */
    def orThrow: Measure = { error.foreach(e => throw e); this }
  }

  /** Register a fresh profile on the session. */
  def install(spark: SparkSession): Profile = {
    val p = new Profile(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Run `body` in job group `name` under a fresh profile: the bus is
    * drained before and after, so the returned jobs and stages are
    * exactly the group's. A throwing body is returned as the failure,
    * with whatever ran before it.
    */
  def measure(spark: SparkSession, name: String)(body: => Unit): Measure = {
    GraftPlanFactory.flushListeners(spark)
    val p = install(spark)
    try {
      val t0 = System.nanoTime()
      val error =
        try { Monitoring.inGroup(spark, name)(body); None }
        catch { case e: Throwable => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftPlanFactory.flushListeners(spark)
      val (js, ss) = p.group(name)
      Measure(wall, js, ss, error)
    } finally p.close()
  }

  /** Sum of `filesSize` metrics over every scan in the (adaptive) plan. */
  private def scanBytes(p: SparkPlan): Long =
    allNodes(p).flatMap(_.metrics.get("filesSize").map(_.value)).sum

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: QueryStageExec        => q +: allNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(allNodes)
  }
}
