package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run reads from outside the program: one scheduler
  * listener (jobs, stages, tasks, block updates) and one query-execution
  * listener (Catalyst phase times and the AQE final plan of every action).
  *
  * Jobs carry the benchmark's local properties (`perfbench.op`,
  * `perfbench.phase`), so scheduler work is attributed to an operation
  * exactly; query executions are attributed by the wall-clock window in
  * which their analysis started, because the listener bus hands them over
  * without the caller's thread properties.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  val stages = mutable.Map[Int, Stage]()
  val execs = mutable.ArrayBuffer[Exec]()
  private val blocks = mutable.Map[String, Long]()
  private var cachedNow = 0L
  var cachedPeak = 0L
  private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, prop("perfbench.op"), prop("perfbench.phase"),
      e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val st = stages.getOrElseUpdate(e.stageId,
      Stage(e.stageId, stageJob.getOrElse(e.stageId, -1)))
    st.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.peakExec = math.max(st.peakExec, m.peakExecutionMemory)
      st.spill += m.diskBytesSpilled
      st.gcMs += m.jvmGCTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val id = e.stageInfo.stageId
    stages.getOrElseUpdate(id, Stage(id, stageJob.getOrElse(id, -1)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    touch()
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = b.memSize + b.diskSize
      cachedNow += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = phases.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val x = Exec(start, ms("analysis"), ms("optimization"), ms("planning"))
    PlanWalk.foreach(qe.executedPlan, {
      case s: FileSourceScanLike =>
        def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
        x.scanBytes += metric("filesSize")
        x.scanRows += metric("numOutputRows")
        x.scanFiles += metric("numFiles")
        x.scanMs += metric("scanTime")
        if (s.metrics.contains("scanTime")) x.scanTimed = true
      case _: BroadcastHashJoinExec => x.bhj += 1
      case _: SortMergeJoinExec => x.smj += 1
      case _: ShuffledHashJoinExec => x.shj += 1
      case _ =>
    })
    synchronized { touch(); execs += x }
  }

  /** Blocks until every started job has ended and the listener has been
    * quiet for `quietMs`, so counters read after a pass are complete. */
  def settle(quietMs: Long = 300, timeoutMs: Long = 10000): Unit = {
    val until = System.nanoTime() + timeoutMs * 1000000L
    def open = synchronized(jobs.values.exists(_.endMs < 0))
    def quiet = synchronized(System.nanoTime() - lastEventNs > quietMs * 1000000L)
    while (System.nanoTime() < until && (open || !quiet)) Thread.sleep(50)
  }
}

object Trace {
  final case class Job(id: Int, op: String, phase: String, startMs: Long, endMs: Long,
                       stageIds: Seq[Int])

  final case class Stage(id: Int, job: Int) {
    val taskMs = mutable.ArrayBuffer[Long]()
    var shuffleWrite, shuffleRecords, shuffleRead, fetchWaitMs, peakExec, spill, gcMs = 0L
  }

  final case class Exec(startMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long) {
    var scanBytes, scanRows, scanFiles, scanMs, bhj, smj, shj = 0L
    var scanTimed = false
  }

  /** AQE-aware plan walk: descends into final query stages and subqueries. */
  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def foreach(p: SparkPlan, f: PartialFunction[SparkPlan, Unit]): Unit =
      collectWithSubqueries(p)(f)
  }
}
