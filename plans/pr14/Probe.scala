// Evidence probes for the fixed-point decimal kernels. Run through probe.sh.
//
//   Probe plans <sfDir> <outDir>  builds every registered query twice in one
//     GraftSession, once as planned and once with graft.plans.FixedPointRule
//     in spark.sql.optimizer.excludedRules, and writes rewritten.txt: the
//     names whose optimized plan differs (expression ids normalized). For
//     q1/q3/q18 it runs both forms and writes <name>_{after,before}.txt:
//     the optimized logical plan and the final adaptive physical plan.
//   Probe init  prints the seconds the first SparkEntry.queries access takes.
object Probe {
  private val Rule = "graft.plans.FixedPointRule"
  private def norm(s: String): String = s.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  def main(args: Array[String]): Unit = args(0) match {
    case "init" =>
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries.size
      println(f"init_s=${(System.nanoTime() - t0) / 1e9}%.3f queries=$n")
    case "plans" =>
      val (sfDir, out) = (args(1), args(2))
      new java.io.File(out).mkdirs()
      val spark = graft.GraftSession.builder("local[4]", 4).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      def optimized(name: String, excluded: Boolean): String = {
        if (excluded) spark.conf.set("spark.sql.optimizer.excludedRules", Rule)
        else spark.conf.unset("spark.sql.optimizer.excludedRules")
        try norm(graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan.toString)
        finally spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      val changed = names.filter(n => optimized(n, excluded = false) != optimized(n, excluded = true))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "rewritten.txt"),
        changed.mkString("", "\n", "\n"))
      println(s"${changed.size} of ${names.size} optimized plans change: ${changed.mkString(", ")}")
      for (n <- Seq("q1_pricing_summary", "q3_top_orders", "q18_large_orders");
           (side, excluded) <- Seq("after" -> false, "before" -> true)) {
        if (excluded) spark.conf.set("spark.sql.optimizer.excludedRules", Rule)
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        df.collect()
        val qe = df.queryExecution
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"${n}_$side.txt"), norm(
          "== Optimized Logical Plan ==\n" + qe.optimizedPlan.toString +
          "\n== Final Physical Plan ==\n" + qe.executedPlan.toString))
        spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
      spark.stop()
  }
}
