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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same tuned session the library ships (GraftSession) — verify the
    // configuration users actually run. SPARK_GRAFT_MASTER overrides
    // the local master so the SAME dump can run under
    // local-cluster[n,c,m] (separate executor JVMs — the closest
    // single-box stand-in for a real cluster: it exercises closure/
    // kernel serialization and broadcasts that local mode never
    // round-trips).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftSession.builder(master, cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val profile = Profile.install(spark)
    // Independent queries writing to distinct dirs — overlap them so the
    // per-query planning overhead doesn't serialize (4-wide pool).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = SparkEntry.queries.toSeq.filter(q => included(q._1))
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try Monitoring.tag(fn(spark, sfDir), name).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed.add(name)
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // every name this run was asked to dump (oracle-checked AND
    // rows-only): selfcheck fails each one that has no dump, so a query
    // dying in the dump phase can never vanish into a silent pass
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.filter(included).sorted.map(q).mkString("[", ",", "]"))
    // partitioned-oracle pipelines (the three sf>=1 single-SQL-infeasible
    // twins): stage list per query, executed by scripts/selfcheck.py
    val stages = SparkEntry.oracleStages.map { case (k, ss) =>
      s"${q(k)}: " + ss.map(s =>
        s"""{"name": ${q(s.name)}, "shards": ${s.shards}, "sql": ${q(s.sql)}}""")
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_stages.json"), stages)
    // per-query monitoring snapshot (rows / scanned bytes / time)
    Files.writeString(Paths.get(s"$outDir/metrics.json"), profile.json)
    spark.stop()
    // fail closed: a query that could not be dumped is a failed run
    if (!failed.isEmpty) {
      val names = failed.toArray(Array.empty[String]).sorted
      System.err.println(s"[verify] FAILED ${names.length} queries: ${names.mkString(", ")}")
      sys.exit(1)
    }
  }
}
