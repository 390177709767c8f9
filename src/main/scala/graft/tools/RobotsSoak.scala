package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Html

/** Frontier-scale measurement of the robots winner-selection forms
  * (VERDICT r14 #6): evaluate the C86/C91 gate over a generated
  * frontier of N URLs × the fixture rule set and time three
  * implementations of the per-URL winner:
  *
  *   native   — graft.plans.RobotsWinnerExpr (one kernel call/URL)
  *   composed — array_max(transform(filter(rules, robotsMatch), ...))
  *              (interpreted HOF chain, native per-rule matcher)
  *   regex    — the same HOF chain with the per-rule match done by
  *              RE2-style translation compiled per evaluation
  *              (rlike on a non-literal pattern column — what a
  *              regex-translation gate actually pays)
  *
  * Every form runs over the identical broadcast rule arrays and the
  * identical frontier; the noop sink consumes (allowed, matched_path,
  * matched_type). Reports per-form engine seconds (min of `reps`),
  * URLs/s, and ns/URL. Args: nUrls [hosts] [reps] [forms]
  * (forms comma-separated, default native,composed — regex is ~40×
  * slower, opt in with a smaller nUrls).
  */
object RobotsSoak {
  def main(args: Array[String]): Unit = {
    val nUrls = if (args.nonEmpty) args(0).toLong else 2000000L
    val hosts = if (args.length > 1) args(1).toInt else 500
    val reps = if (args.length > 2) args(2).toInt else 3
    val forms = if (args.length > 3) args(3).split(',').toSeq
      else Seq("native", "composed")
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // fixture robots over `hosts` sources — the same wrapRobotsTxt
    // rules (wildcards/anchors that bite) the oracle queries use
    val robots = spark.range(hosts)
      .select(concat(lit("src"), col("id")).as("source"))
      .select(concat(col("source"), lit(".example.com")).as("host"),
        Html.wrapRobotsTxt(col("source")).as("content"))
    val rules = Html.robotsRuleArrays(
      Html.robotsRules(robots, "host", "content"), "graftbot")
      .localCheckpoint()

    // frontier: URL paths that exercise prefix rules, wildcard rules,
    // anchored allows, and no-match rows in fixture proportions
    val frontier = spark.range(nUrls).select(col("id"),
      concat(lit("/articles/item"), col("id") % 40,
        when(col("id") % 7 === 0, lit("/deep/page")).otherwise(lit("")))
        .as("path"),
      concat(lit("src"), col("id") % hosts, lit(".example.com")).as("host"))

    val joined = frontier.join(broadcast(rules),
      col("host") === col("__rhost"), "left")

    def gate(form: String) = {
      val w = form match {
        case "native" => Html.robotsWinner(col("path"), col("__rules"))
        case "composed" => Html.robotsWinnerComposed(col("path"), col("__rules"))
        case "regex" =>
          // per-rule regex TRANSLATION evaluated inside the HOF — the
          // pattern is a computed column, so the regex compiles per
          // (row, rule) evaluation: the cost robotsMatch was built to
          // avoid. Translation: literal runs quoted with \Q..\E, `*`
          // becomes `.*`, a trailing `$` becomes the end anchor, `^`
          // prefix-anchors (RLIKE is an unanchored find).
          array_max(transform(
            filter(col("__rules"), { r =>
              val rp = r.getField("rpath")
              val core = regexp_replace(rp, lit("\\$$"), lit(""))
              val quoted = array_join(
                transform(split(core, "\\*", -1),
                  p => concat(lit("\\Q"), p, lit("\\E"))), ".*")
              val pat = concat(lit("^"), quoted,
                when(rp.endsWith("$"), lit("$")).otherwise(lit("")))
              regexp_like(col("path"), pat)
            }),
            r => struct(
              length(r.getField("rpath")).as("l"),
              when(r.getField("rtype") === "allow", 1).otherwise(0).as("pref"),
              r.getField("rpath").as("rpath"),
              r.getField("rtype").as("rtype"))))
      }
      joined.select(col("id"),
        (w.isNull || w.getField("rtype") === "allow").as("allowed"),
        coalesce(w.getField("rpath"), lit("")).as("matched_path"))
    }

    forms.foreach { form =>
      val runs = (1 to reps).map(_ => graft.Profile.measure(spark, s"robots_$form")(
        gate(form).write.format("noop").mode("overwrite").save()).orThrow)
      val best = runs.map(_.engineSec).min
      println(f"[robots-soak] $form%-9s nUrls=$nUrls hosts=$hosts " +
        f"engine=$best%.3f s  wall_min=${runs.map(_.wallSec).min}%.3f s  " +
        f"${nUrls / best / 1e6}%.2f M urls/s  ${best / nUrls * 1e9}%.0f ns/url")
      // decision parity across forms — the soak is only meaningful if
      // every implementation gates identically
      val chk = gate(form).agg(
        sum(when(col("allowed"), 1L)).as("a"),
        expr("bit_xor(xxhash64(matched_path, id))").as("h")).collect()(0)
      println(s"[robots-soak] $form check: allowed=${chk.getLong(0)} " +
        s"pathHash=${chk.getLong(1)}")
    }
    spark.stop()
  }
}
