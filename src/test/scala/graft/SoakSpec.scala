package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** The soak table (graft.soak.Soak) at smoke size: a few cheap rows —
  * the word-count throughput row, two A/B rows and the skew rows — run
  * under a comma-decimal default locale. Every printed line must parse
  * as JSON and carry exactly its metric's keys (the keys the separate
  * soak and bench mains printed before the table).
  */
class SoakSpec extends AnyFunSuite {
  import TestSpark._

  private val throughputKeys = Set("input_mb", "sec", "mb_per_sec")
  private val stragglerKeys = Set("sec", "max_task_ms", "median_task_ms", "straggler_ratio")
  private val robotsKeys = Set("form", "urls", "hosts", "engine_sec", "wall_min_sec",
    "m_urls_per_sec", "ns_per_url", "allowed", "path_hash")
  private val expected: Map[String, Set[String]] = Map(
    "wordcount_throughput" -> throughputKeys,
    "wordcount_no_combiner" -> throughputKeys,
    "quality_score_throughput" -> throughputKeys,
    "quality_score_hof_throughput" -> throughputKeys,
    "skew_plain" -> (stragglerKeys + "rows"),
    "skew_aqe" -> (stragglerKeys + "rows"),
    "skew_salted" -> (stragglerKeys + "rows"),
    "politeness_raw" -> (stragglerKeys ++ Set("rows", "out_rows")),
    "politeness_quota" -> (stragglerKeys ++ Set("rows", "out_rows")),
    "robots_winner" -> robotsKeys)

  test("smoke rows print one JSON line per metric, with its keys, in any locale") {
    val dir = java.nio.file.Files.createTempDirectory("graft-soak-spec").toString
    val run = new soak.Soak.Run(() => spark, sf, 1, dir)
    val rows = Seq("wordcount", "qualityscan", "skew", "politeness", "robotswinner")
    val out = new java.io.ByteArrayOutputStream()
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try Console.withOut(out) {
      soak.Soak.rows.filter(r => rows.contains(r._1)).foreach(_._2(run))
    } finally {
      Locale.setDefault(prev)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    val lines = out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    val parsed = lines.map(Json.readObject)
    parsed.foreach { o =>
      val metric = o("metric").toString
      assert(expected.get(metric).contains(o.keySet - "metric"), s"$metric keys: ${o.keySet}")
    }
    assert(parsed.map(_("metric")).toSet == expected.keySet)
    assert(parsed.count(_("metric") == "robots_winner") == 2)
    // both robots forms gate every URL identically
    assert(parsed.filter(_("metric") == "robots_winner").map(o => (o("allowed"), o("path_hash")))
      .distinct.size == 1)
    // the skew rows restore the session confs they set
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
  }
}
