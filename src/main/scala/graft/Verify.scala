package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — dump only
    // those (incremental re-verification after adding queries; the
    // driver's two-arg form still dumps everything). Unknown names
    // are a hard error: a typo would otherwise dump nothing — a
    // silently vacuous PASS for a query that was never re-verified.
    val only = args.lift(2).map(_.split(',').toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    }
    def included(name: String): Boolean = only.forall(_.contains(name))
    // same tuned session the library ships (GraftSession) — verify the
    // configuration users actually run. SPARK_GRAFT_MASTER overrides
    // the local master so the SAME dump can run under
    // local-cluster[n,c,m] (separate executor JVMs — the closest
    // single-box stand-in for a real cluster: it exercises closure/
    // kernel serialization and broadcasts that local mode never
    // round-trips).
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Independent queries writing to distinct dirs — overlap them so the
    // per-query planning overhead doesn't serialize (4-wide pool).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val names = SparkEntry.queries.keys.toSeq.filter(included).sorted
    val measures = scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(names) { name =>
        scala.concurrent.Future(name -> Run(spark, sfDir, name)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")))
      },
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    measures.foreach { case (name, m) =>
      m.error.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    def write(file: String, json: String): Unit = Files.writeString(Paths.get(s"$outDir/$file"), json)
    write("oracle_sql.json", Json.spaced(SparkEntry.oracleSql))
    // every name this run was asked to dump (oracle-checked AND
    // rows-only): selfcheck fails each one that has no dump, so a query
    // dying in the dump phase can never vanish into a silent pass
    write("queries.json", Json(names))
    // partitioned-oracle pipelines (the three sf>=1 single-SQL-infeasible
    // twins): stage list per query, executed by scripts/selfcheck.py
    write("oracle_stages.json", Json.spaced(SparkEntry.oracleStages))
    // per-query record (rows / scanned bytes / status); `sec` is the
    // query's engine span, the sum of its job group's job spans
    write("metrics.json", Profile.json(measures.flatMap(_._2.record)))
    spark.stop()
    // fail closed: a query that could not be dumped is a failed run
    val failed = measures.collect { case (name, m) if !m.ok => name }
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED ${failed.length} queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
