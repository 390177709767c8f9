package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling A/B under real load — the measurement behind the
  * [[graft.operators.Skew]] scaladoc's claim that AQE covers most skew
  * at runtime and explicit salting is for the pathological tail.
  *
  * Generator: a documents-shaped fact table where ONE source owns half
  * of all rows (the "one crawl domain is half the corpus" shape) and
  * the rest spread uniformly over `nSources` cold sources; a small
  * per-source dimension that is deliberately NOT broadcast (auto-
  * broadcast off — the realistic stand-in for a dimension too large to
  * broadcast, which is exactly when skew bites a sort-merge join).
  *
  * Three variants of the same join+agg, measured by per-task runtime in
  * the heaviest stage (max/median ratio = the straggler factor — the
  * number that decides whether 999 executors idle behind one):
  *
  *  - `plain`  : sort-merge join, AQE OFF — the naive baseline; the hot
  *               key lands in one task.
  *  - `aqe`    : AQE ON with skew-join splitting — Spark's runtime fix;
  *               the hot key's shuffle blocks split across tasks.
  *  - `salted` : AQE OFF + [[graft.operators.Skew.saltedJoin]] — the
  *               explicit fix for when even split blocks overload a
  *               task (or the engine's AQE is unavailable).
  *
  * Prints one JSON line per variant:
  *   {"metric":"skew_<v>","sec":…,"max_task_ms":…,"median_task_ms":…,"straggler_ratio":…}
  *
  * Run: sbt "runMain graft.tools.SkewSoak [rows] [nSources] [salt]"
  */
object SkewSoak {
  /** (max, median) task ms of the stage holding the LONGEST task —
    * that's where the straggler lives (picking by stage total would
    * favor a wide uniform map stage over a reduce stage that is one
    * giant task plus thirty-one trivial ones, hiding exactly the
    * pathology this tool measures).
    */
  def heaviest(stages: Seq[graft.Profile.Stage]): (Long, Long) =
    stages.map(_.taskMs).filter(_.nonEmpty).maxByOption(_.max).fold((0L, 0L)) { h =>
      val sorted = h.sorted
      (sorted.last, sorted(sorted.size / 2))
    }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(100000000L)
    val nSources = args.lift(1).map(_.toInt).getOrElse(1000)
    val salt = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = graft.GraftSession.getOrCreate()

    // hot source (id 0) owns 50% of rows; the rest uniform
    val factPath = "target/soak_skew_fact"
    spark.range(rows).select(col("id").as("doc_id"),
        when(pmod(xxhash64(col("id")), lit(2)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(nSources.toLong)))
          .as("source_id"),
        (pmod(xxhash64(col("id"), lit(2)), lit(1000)) / 10.0).as("quality"))
      .repartition(32).write.mode("overwrite").parquet(factPath)
    val fact = spark.read.parquet(factPath)
    val dim = spark.range(nSources).select(col("id").as("source_id"),
      concat(lit("source_"), col("id")).as("source_name"),
      (pmod(xxhash64(col("id")), lit(100)) / 100.0).as("source_weight"))

    // the consuming agg keeps the join's output from being the metric
    def consume(joined: DataFrame): DataFrame =
      joined.groupBy(col("source_name"))
        .agg(count(lit(1)).as("n"),
          sum((col("quality") * col("source_weight")).cast("decimal(18,4)"))
            .cast("double").as("weighted_quality"))

    def variant(name: String, aqe: Boolean)(body: => DataFrame): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body.write.format("noop").mode("overwrite").save() // warm
      val m = graft.Profile.measure(spark, s"skew_$name")(
        body.write.format("noop").mode("overwrite").save()).orThrow
      val sec = m.wallSec
      val (mx, med) = heaviest(m.stages)
      println(f"""{"metric":"skew_$name","rows":$rows,"sec":$sec%.1f,"max_task_ms":$mx,"median_task_ms":$med,"straggler_ratio":${mx.toDouble / math.max(med, 1)}%.1f}""")
    }

    variant("plain", aqe = false) {
      consume(fact.join(dim, Seq("source_id")))
    }
    variant("aqe", aqe = true) {
      consume(fact.join(dim, Seq("source_id")))
    }
    variant("salted", aqe = false) {
      consume(graft.operators.Skew.saltedJoin(fact, dim, "source_id", salt))
    }
    spark.stop()
  }
}
