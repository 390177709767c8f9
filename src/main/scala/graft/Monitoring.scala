package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-native job control — the analog of the reference client's
  * job status polling and cancellation (cooler-MapReduce
  * `src/client/monitoring.py`, `src/client/client.py` job list/status):
  * queries are tagged with `observe()` (a pass-through CollectMetrics
  * node) and run inside named job groups that can be cancelled and
  * polled. [[Profile]] reads both: its per-query records come from the
  * tags, its job attribution from the groups.
  *
  * Everything here is SparkContext-native and works the same on a real
  * cluster.
  */
object Monitoring {
  private[graft] val Prefix = "graft:"

  /** Tag a query with a named observation; the result is unchanged. */
  def tag(df: DataFrame, name: String): DataFrame =
    df.observe(Prefix + name, count(lit(1)).as("rows"))

  /** Live task-level progress of one named job group. */
  final case class GroupProgress(name: String, activeJobs: Int,
                                 tasksTotal: Int, tasksCompleted: Int,
                                 tasksActive: Int, tasksFailed: Int) {
    def fractionDone: Double =
      if (tasksTotal == 0) 0.0 else tasksCompleted.toDouble / tasksTotal
  }

  /** Run `body`'s Spark actions inside job group `name` (cancellable via
    * [[cancel]], observable via [[progress]]). Interrupt-on-cancel is set
    * so running tasks stop promptly instead of draining. Saves and
    * restores the thread's previous group properties on exit, so nested
    * `inGroup` blocks hand control back to the enclosing group (and
    * groups are thread-local, so concurrent query threads don't clobber
    * each other).
    */
  // group names currently inside an inGroup block (entry-counted so the
  // same name entered from two threads stays listed until both exit)
  private val entered = new ConcurrentHashMap[String, Integer]()

  def inGroup[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prevId = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(Prefix + name, s"graft query: $name", interruptOnCancel = true)
    entered.merge(name, 1, (a, b) => a + b)
    try body finally {
      entered.compute(name, (_, v) => if (v == null || v <= 1) null else v - 1)
      // setLocalProperty(key, null) clears the key, so a top-level
      // inGroup restores to "no group" and a nested one to its parent
      sc.setLocalProperty("spark.jobGroup.id", prevId)
      sc.setLocalProperty("spark.job.description", prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
    }
  }

  /** Every named query currently inside an [[inGroup]] block, with its
    * live progress — the reference client's `list_jobs` analog.
    */
  def activeQueries(spark: SparkSession): Seq[GroupProgress] = {
    import scala.jdk.CollectionConverters._
    entered.keySet.asScala.toSeq.sorted.map(progress(spark, _))
  }

  /** Per-executor resource snapshot from the status tracker — the
    * reference client's `show_resource_usage` analog (host, running
    * tasks, storage-memory use). In local mode the one row is the
    * driver; on a cluster the same call lists every executor.
    */
  final case class ExecutorSnapshot(host: String, numRunningTasks: Int,
                                    cacheSize: Long, usedOnHeapStorage: Long)
  def executors(spark: SparkSession): Seq[ExecutorSnapshot] =
    spark.sparkContext.statusTracker.getExecutorInfos.toSeq.map { e =>
      ExecutorSnapshot(e.host(), e.numRunningTasks(), e.cacheSize(),
        e.usedOnHeapStorageMemory())
    }

  /** Cancel every active job in group `name` (no-op if none). */
  def cancel(spark: SparkSession, name: String): Unit =
    spark.sparkContext.cancelJobGroup(Prefix + name)

  /** Snapshot of `name`'s LIVE progress from the status tracker: task
    * counts summed over the stages of the group's currently-RUNNING
    * jobs only. Finished runs of a reused group name don't leak in —
    * a group with nothing running reports all zeros, so a poll loop
    * on `fractionDone` can't mistake a freshly relaunched query for a
    * completed one.
    */
  def progress(spark: SparkSession, name: String): GroupProgress = {
    val tracker = spark.sparkContext.statusTracker
    val running = tracker.getJobIdsForGroup(Prefix + name)
      .flatMap(id => tracker.getJobInfo(id).toSeq)
      .filter(_.status() == org.apache.spark.JobExecutionStatus.RUNNING)
    val stages = running.flatMap(_.stageIds()).distinct
      .flatMap(sid => tracker.getStageInfo(sid).toSeq)
    GroupProgress(name,
      activeJobs = running.length,
      tasksTotal = stages.map(_.numTasks()).sum,
      tasksCompleted = stages.map(_.numCompletedTasks()).sum,
      tasksActive = stages.map(_.numActiveTasks()).sum,
      tasksFailed = stages.map(_.numFailedTasks()).sum)
  }
}
