package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.ListenerRegistry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

/** [[Profile]] attributes jobs by job group, so RDD jobs that no
  * query-execution listener sees count, and its per-stage sums agree
  * with the scheduler's own records.
  */
class ProfileSpec extends AnyFunSuite {
  import TestSpark._

  test("an RDD-only action inside measure reports its job and an engine span") {
    val m = Profile.measure(spark, "profile_rdd_only") {
      spark.sparkContext.parallelize(1 to 4, 2).map { i => Thread.sleep(20); i }.count()
    }.orThrow
    assert(m.jobs.size == 1)
    assert(m.engineSec > 0.0)
  }

  test("kmeansCentroids' Lloyd rounds are counted as jobs") {
    val emb = Tables.embeddings(spark, sf)
    emb.schema // a first read's schema inference job runs outside the measure
    val m = Profile.measure(spark, "profile_kmeans") {
      Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
    }.orThrow
    assert(m.jobs.size >= 3, m.jobs)
  }

  test("jobs, stages and shuffle write equal the scheduler's records on a fixed query") {
    val completed = new ConcurrentLinkedQueue[StageInfo]()
    val probe = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        completed.add(e.stageInfo)
    }
    spark.sparkContext.addSparkListener(probe)
    try {
      val name = "profile_fixed"
      val m = Profile.measure(spark, name) {
        spark.range(0L, 20000L, 1L, 8).groupBy(pmod(col("id"), lit(7L))).count().collect()
      }.orThrow
      val tracker = spark.sparkContext.statusTracker
      val jobIds = tracker.getJobIdsForGroup(Monitoring.Prefix + name).toSeq.sorted
      assert(jobIds.nonEmpty)
      assert(m.jobs.map(_.id) == jobIds)
      val stageIds = jobIds.flatMap(id => tracker.getJobInfo(id).get.stageIds().toSeq)
        .distinct.sorted
      assert(m.stages.map(_.id) == stageIds)
      val ran = completed.asScala.toSeq.filter(s => stageIds.contains(s.stageId))
      assert(ran.nonEmpty)
      assert(m.shuffleWriteBytes > 0L)
      assert(m.shuffleWriteBytes ==
        ran.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum)
      assert(m.stages.map(_.taskMs.size).sum == ran.map(_.numTasks).sum)
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  test("json renders sec in Locale.ROOT under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val text = Profile.json(Seq(Profile.QueryMetrics("q \"x\"", 1.5, 3L, 10L, "ok")))
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text).get(0)
      assert(node.get("name").asText == "q \"x\"")
      assert(node.get("sec").isNumber && node.get("sec").asDouble == 1.5)
      assert(text.contains("\"sec\":1.500"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("close() unregisters both listeners") {
    val p = Profile.install(spark)
    assert(ListenerRegistry.onBus(spark, p) && ListenerRegistry.onManager(spark, p))
    p.close()
    assert(!ListenerRegistry.onBus(spark, p))
    assert(!ListenerRegistry.onManager(spark, p))
  }
}
