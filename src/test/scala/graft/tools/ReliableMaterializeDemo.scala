package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executor-loss fault injection for the materialize() convention —
  * the "would this survive a 1000-executor cluster" check run as an
  * experiment, not a thought experiment.
  *
  * Every self-join-cut operator (dedup signatures, LSH band tables,
  * graph label rounds) rides [[graft.Materialize]]. Its default
  * `localCheckpoint` blocks are unreplicated block-manager state: on a
  * real cluster, losing an executor between the cut's materialization
  * and a later consumer makes them unrecoverable — the lineage was
  * truncated, so the job FAILS instead of recomputing. With
  * `graft.materialize.reliable=<dir>` the same cut is a reliable
  * checkpoint (files under the dir), and executor loss downgrades to a
  * re-read.
  *
  * Scenario, on the two-host standalone cluster ([[MiniCluster]]):
  *
  *  1. reliable mode ON → run [[graft.operators.Dedup.minhashLsh]]
  *     once (materializes the band table), then KILL every live
  *     executor (`System.exit` from inside a task — the blunt version
  *     of machine preemption; replacements re-register with empty
  *     block managers), then run the SAME DataFrame again: must
  *     succeed with the identical pair count, served from checkpoint
  *     files.
  *  2. reliable mode OFF (localCheckpoint) → same flow: the re-run
  *     must FAIL (checkpoint blocks died with the executors) — the
  *     defect the reliable mode exists to fix, demonstrated in the
  *     same process.
  *
  * Prints one line:
  *   RELIABLE_MAT reliable_ok=<b> pairs_before=<n> pairs_after=<n> local_failed=<b> seconds=<t>
  * exit 0 iff phase 1 succeeded exactly and phase 2 failed.
  */
object ReliableMaterializeDemo {
  private def waitForExecutors(spark: SparkSession, atLeast: Int,
                               timeoutMs: Long = 90000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    // getExecutorInfos includes the driver, so require atLeast + 1 rows
    while (System.currentTimeMillis() < deadline) {
      if (spark.sparkContext.statusTracker.getExecutorInfos.length >= atLeast + 1)
        return true
      Thread.sleep(500)
    }
    false
  }

  /** Kill every live executor JVM from inside its own tasks. The kill
    * job itself usually dies with them — that's expected and caught.
    */
  private def killAllExecutors(spark: SparkSession): Unit = {
    try {
      spark.sparkContext.parallelize(0 until 8, 8).foreach { _ =>
        if (org.apache.spark.SparkEnv.get.executorId != "driver")
          System.exit(137)
      }
    } catch { case _: Throwable => () }
    Thread.sleep(2000)
    waitForExecutors(spark, 1)
  }

  def main(args: Array[String]): Unit = {
    // exit AFTER the harness's finally has torn the child JVMs down —
    // System.exit inside the body would skip it and orphan them
    val code = MiniCluster.withCluster("reliable-mat") { masterUrl =>
      run(masterUrl)
    }
    sys.exit(code)
  }

  private def run(masterUrl: String): Int = {
    val t0 = System.nanoTime()
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt").toString
    val spark = MiniCluster.session(masterUrl, "reliable-materialize-demo", Map(
      "spark.executor.memory" -> "512m",
      "spark.sql.shuffle.partitions" -> "8",
      // each phase deliberately kills both executors plus whatever
      // respawns absorb the suicide job — keep the master's
      // consecutive-failure cutoff well clear of that
      "spark.deploy.maxExecutorRetries" -> "100"))
    try {
      waitForExecutors(spark, 2)

      // near-duplicate corpus rooted at parquet files (recomputable
      // lineage BELOW the materialize cut, like any real table)
      val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta", "iota", "kappa")
      val dataDir = java.nio.file.Files.createTempDirectory("graft-reliable-docs").toString
      spark.range(400)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            ((0 until 40).map(j =>
              element_at(lit(words),
                (pmod((col("id") / lit(2)).cast("long") * 31 + lit(j * 7), lit(10)) + 1).cast("int"))) :+
              when(col("id") % 2 === 1, lit("variant")).otherwise(lit("base"))): _*)
            .as("text"))
        .repartition(8)
        .write.mode("overwrite").parquet(dataDir)
      val docs = spark.read.parquet(dataDir)

      def lshPairs(): DataFrame =
        graft.operators.Dedup.minhashLsh(docs, "doc_id", "text")
          .filter(col("est_jaccard") >= 0.5)

      // ---- phase 1: reliable materialize survives executor loss ----
      spark.conf.set(graft.Materialize.ReliableDirKey, ckptDir)
      val reliable = lshPairs()
      val before = reliable.count()
      killAllExecutors(spark)
      val (after, reliableOk) =
        try { val n = reliable.count(); (n, n == before && n > 0) }
        catch { case t: Throwable =>
          System.err.println(s"[demo] reliable phase re-run FAILED: $t")
          (-1L, false)
        }

      // ---- phase 2: default localCheckpoint blocks die with them ----
      spark.conf.unset(graft.Materialize.ReliableDirKey)
      val local = lshPairs()
      local.count()
      killAllExecutors(spark)
      val localFailed =
        try { local.count(); false }
        catch { case t: Throwable =>
          System.err.println(s"[demo] local phase re-run failed as expected: ${t.getClass.getSimpleName}")
          true
        }

      val sec = (System.nanoTime() - t0) / 1e9
      println(f"RELIABLE_MAT reliable_ok=$reliableOk pairs_before=$before " +
        f"pairs_after=$after local_failed=$localFailed seconds=$sec%.1f")
      if (reliableOk && localFailed) 0 else 1
    } finally {
      if (!spark.sparkContext.isStopped) spark.stop()
    }
  }
}
