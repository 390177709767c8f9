package graft.tools

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}

/** Straggler mitigation demo — the reference coordinator's backup-task
  * story (cooler-MapReduce WEEK2_SUMMARY.md:11: slow workers get
  * speculative backup copies) on Spark's native speculative execution.
  *
  * Two scheduler facts force a real multi-host topology here:
  * `TaskSchedulerImpl` only starts the speculation thread on a
  * non-local master, and a speculative copy is never placed on a HOST
  * that already runs an attempt of the same task (a backup on the slow
  * machine would be pointless) — hence the [[MiniCluster]] two-host
  * standalone topology.
  *
  * One partition's first attempt sleeps (a slow worker, not a
  * failure); its 7 siblings drain on the other host; the scheduler
  * marks the sleeper speculatable (runtime > 2× the median), launches
  * a backup copy on the other host, takes the copy's result, and kills
  * the sleeper. Prints one line:
  *
  *   SPECULATION speculative=<n> sum_ok=<bool> seconds=<t>
  *
  * exit 0 iff a backup launched AND the answer is exact — mitigation
  * changes the schedule, never the result. SpeculationSpec runs this
  * as a child JVM and asserts on that line.
  */
object SpeculationDemo {
  def main(args: Array[String]): Unit = {
    // compute the exit code INSIDE the harness (its finally tears the
    // child JVMs down), exit AFTER it returns — System.exit would skip
    // the teardown and orphan master/worker processes
    val code = MiniCluster.withCluster("speculation") { masterUrl =>
      run(masterUrl)
    }
    sys.exit(code)
  }

  private def run(masterUrl: String): Int = {
    val spark = MiniCluster.session(masterUrl, "speculation-demo", Map(
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "100ms",
      "spark.speculation.multiplier" -> "2",
      "spark.speculation.quantile" -> "0.5",
      "spark.executor.memory" -> "512m",
      "spark.sql.shuffle.partitions" -> "4"))
    import spark.implicits._

    val speculative = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        if (ts.taskInfo.speculative) speculative.incrementAndGet()
    })

    val n = 8000L
    val t0 = System.nanoTime()
    val sum = spark.range(n).repartition(8).as[Long].mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
        try Thread.sleep(120000)
        catch { case _: InterruptedException => () } // killed: backup won
      it
    }.toDF("v").agg(org.apache.spark.sql.functions.sum("v")).as[Long].head()
    val sec = (System.nanoTime() - t0) / 1e9

    val sumOk = sum == n * (n - 1) / 2
    val nSpec = speculative.get()
    println(f"SPECULATION speculative=$nSpec sum_ok=$sumOk seconds=$sec%.1f")
    spark.stop()
    if (nSpec > 0 && sumOk) 0 else 1
  }
}
