package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mega-host skew soak for the per-host serialization family
  * (politeness_schedule C90 / politenessStream): the schedule REQUIRES
  * a per-host shuffle (politeness is serialization by host — see the
  * operator scaladoc), so a mega-host skews its partition by
  * construction; the documented mitigation is bounding the frontier
  * UPSTREAM with a per-host quota (the C97 frontier-budget cut:
  * TopKPerKey, flush-bounded partial heaps, no full window sort).
  * This soak measures that claim instead of asserting it:
  *
  *   - frontier: `rows` URLs where ONE host owns 50% and the rest
  *     spread uniformly over `nHosts` cold hosts — the "one crawl
  *     domain is half the corpus" shape at its worst.
  *   - `raw`   : politenessSchedule straight on the frontier; the
  *     mega-host's slot numbering is one task.
  *   - `quota` : TopKPerKey per-host cap (`quota` URLs/host, id order —
  *     the C97 composition) THEN politenessSchedule.
  *
  * Reports per variant the straggler factor of the heaviest stage
  * (max/median task ms — [[SkewSoak.heaviest]]) plus wall seconds and
  * output rows. The quota variant's straggler factor collapsing toward
  * 1 is the SURVEY §6 evidence row for "mega-host skew is bounded
  * upstream with a per-host quota".
  *
  * Run: sbt "runMain graft.tools.PolitenessSkewSoak [rows] [nHosts] [quota]"
  */
object PolitenessSkewSoak {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val nHosts = args.lift(1).map(_.toInt).getOrElse(100000)
    val quota = args.lift(2).map(_.toInt).getOrElse(10000)
    val spark = graft.GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // mega-host frontier, materialized so generation cost never rides
    // inside a variant's measurement
    val frontierPath = "target/soak_politeness_frontier"
    spark.range(rows).select(col("id"),
        when(pmod(xxhash64(col("id")), lit(2)) === 0, lit("megahost"))
          .otherwise(concat(lit("host"),
            pmod(xxhash64(col("id"), lit(1)), lit(nHosts.toLong))))
          .as("h"))
      .select(col("id"),
        concat(lit("https://"), col("h"), lit(".example.com/page/"), col("id"))
          .as("url"),
        concat(col("h"), lit(".example.com")).as("host"))
      .repartition(32).write.mode("overwrite").parquet(frontierPath)
    val frontier = spark.read.parquet(frontierPath)

    // a handful of hosts carry explicit Crawl-delay directives; the
    // rest ride the default — the realistic mixed shape
    val directives = spark.range(50).select(
      concat(lit("host"), col("id"), lit(".example.com")).as("host"),
      (col("id") % 5 + 1).cast("double").as("crawl_delay_sec"))

    def schedule(urls: DataFrame): DataFrame =
      graft.operators.Html.politenessSchedule(
        urls.select(col("id"), col("url")), "id", "url", directives)

    def variant(name: String)(body: => DataFrame): Unit = {
      body.write.format("noop").mode("overwrite").save() // warm
      val out = body
      val m = graft.Profile.measure(spark, s"politeness_$name")(
        out.write.format("noop").mode("overwrite").save()).orThrow
      val sec = m.wallSec
      val n = out.count()
      val (mx, med) = SkewSoak.heaviest(m.stages)
      println(f"""{"metric":"politeness_$name%s","rows":$rows,"out_rows":$n,"sec":$sec%.1f,"max_task_ms":$mx,"median_task_ms":$med,"straggler_ratio":${mx.toDouble / math.max(med, 1)}%.1f}""")
    }

    variant("raw") {
      schedule(frontier)
    }
    variant("quota") {
      // C97 composition: per-host TopKPerKey cap (ascending id = oldest
      // first — a recency/priority column slots in the same way)
      schedule(graft.plans.TopK.perKey(frontier,
        Seq("host"), Seq("id"), quota, descending = false)
        .select(col("id"), col("url")))
    }
    spark.stop()
  }
}
