package graft

import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Spark jobs launched while `body` runs: a view of [[Profile.measure]],
  * which runs `body` in its own job group and drains the listener bus
  * before and after it.
  */
object JobCount {
  def during(spark: SparkSession)(body: => Unit): Int = jobsAndShuffleStages(spark)(body)._1

  /** The jobs, and the shuffle-map stages among their stages (every
    * stage of a job but its result stage).
    */
  def jobsAndShuffleStages(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val m = Profile.measure(spark, "job-count")(body).orThrow
    (m.jobs.size, m.jobs.map(_.stageIds.size - 1).sum)
  }
}

/** `Tables.read` infers a parquet schema once per unchanged listing
  * and session parquet settings; everything else behaves like a plain
  * `spark.read.parquet`.
  */
class TablesReadSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  test("a repeat read launches no job and has the schema of a plain read") {
    val dir = tmp("tables_read")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
      .write.mode("overwrite").parquet(dir)
    val first = JobCount.during(spark)(Tables.read(spark, dir))
    assert(first >= 1, "a first read infers its schema with a job")
    var again: org.apache.spark.sql.DataFrame = null
    assert(JobCount.during(spark) { again = Tables.read(spark, dir) } == 0)
    assert(again.schema == spark.read.parquet(dir).schema)
    assert(again.orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
    // a partitioned layout keeps its partition column and its type
    val parts = tmp("tables_read_parts")
    Seq((1L, 3), (2L, 4)).toDF("id", "p").write.partitionBy("p").parquet(parts)
    Tables.read(spark, parts)
    var pdf: org.apache.spark.sql.DataFrame = null
    assert(JobCount.during(spark) { pdf = Tables.read(spark, parts) } == 0)
    assert(pdf.schema == spark.read.parquet(parts).schema)
    assert(pdf.filter($"p" === 4).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("an overwrite with a different schema is read with the new schema") {
    val dir = tmp("tables_read_overwrite")
    Seq((1L, 2)).toDF("id", "n").write.mode("overwrite").parquet(dir)
    assert(Tables.read(spark, dir).schema.fieldNames.toSeq == Seq("id", "n"))
    Seq(("x", 0.5)).toDF("s", "d").write.mode("overwrite").parquet(dir)
    val df = Tables.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.schema.fieldNames.toSeq == Seq("s", "d"))
    assert(df.as[(String, Double)].collect().toSeq == Seq(("x", 0.5)))
  }

  test("flipping nanosAsLong between two reads of a nanos events file re-infers ts") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // Spark cannot write TIMESTAMP(NANOS); parquet-mr's example writer can
    val dir = tmp("tables_read_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("event_id", 1L).append("ts", 1723500000123456789L))
    } finally w.close()

    def tsType(read: => org.apache.spark.sql.DataFrame): Either[String, Any] =
      try Right(read.schema("ts").dataType)
      catch { case e: AnalysisException => Left(e.getCondition) }
    val prev = spark.conf.getOption(Tables.NanosAsLong)
    try {
      spark.conf.set(Tables.NanosAsLong, "true")
      assert(tsType(Tables.read(spark, dir)) == Right(LongType))
      spark.conf.set(Tables.NanosAsLong, "false")
      val plain = tsType(spark.read.parquet(dir))
      assert(plain != Right(LongType))
      assert(tsType(Tables.read(spark, dir)) == plain)
      spark.conf.set(Tables.NanosAsLong, "true")
      assert(tsType(Tables.read(spark, dir)) == Right(LongType))
    } finally prev.fold(spark.conf.unset(Tables.NanosAsLong))(spark.conf.set(Tables.NanosAsLong, _))
  }

  test("a missing path fails like a plain read, and is read once it exists") {
    val dir = tmp("tables_read_missing")
    val plain = intercept[AnalysisException](spark.read.parquet(dir))
    val ours = intercept[AnalysisException](Tables.read(spark, dir))
    assert(ours.getClass == plain.getClass)
    assert(ours.getCondition == plain.getCondition)
    assert(intercept[AnalysisException](Tables.read(spark, dir)).getCondition == plain.getCondition)
    Seq(7L).toDF("id").write.parquet(dir)
    assert(Tables.read(spark, dir).as[Long].collect().toSeq == Seq(7L))
  }

  test("8 concurrent readers agree with a plain read") {
    val dir = tmp("tables_read_concurrent")
    (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(dir)
    val want = spark.read.parquet(dir)
    val wantRows = want.orderBy("id").collect().toSeq
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((1 to 8).map { _ =>
        Future {
          val df = Tables.read(spark, dir)
          (df.schema, df.orderBy("id").collect().toSeq)
        }
      }), 5.minutes)
      got.foreach { case (s, rows) =>
        assert(s == want.schema)
        assert(rows == wantRows)
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
