package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    // local[4, 2]: 4 cores, spark.task.maxFailures = 2 — lets
    // FaultToleranceSpec exercise task retry (a first-attempt failure
    // must recover); retries never trigger for healthy tests
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLong, "true")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.LocalFsConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Smoke + invariants for every SparkEntry query at sf0.001. The strong
  * value check is the driver's DuckDB oracle (mirrored by
  * scripts/selfcheck.py); these specs pin structural invariants.
  */
class QuerySuiteSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle and every staged oracle a query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.oracleStages.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a record without an oracle does not compile") {
    assertCompiles(
      """graft.registry.Registered("q", (s, d) => graft.sources.Tables.documents(s, d), "SELECT 1")""")
    assertDoesNotCompile(
      """graft.registry.Registered("q", (s, d) => graft.sources.Tables.documents(s, d))""")
  }

  test("a name registered twice fails the registry build") {
    val r = graft.registry.Registered("q", (s, d) => graft.sources.Tables.documents(s, d), "SELECT 1")
    assert(graft.registry.Registered.requireDistinct(Seq(r)) == Seq(r))
    val e = intercept[IllegalArgumentException] {
      graft.registry.Registered.requireDistinct(Seq(r, r.copy(oracle = "SELECT 2")))
    }
    assert(e.getMessage.contains("q"))
  }

  test("the sweep pins file covers the full query registry") {
    // bench_pins_sf001.json is the per-query regression basis; a query
    // registered without a pin would sweep unpinned silently. Adding a
    // query must come with a pins refresh (run Bench, copy
    // target/bench_sweep_calunits.json over the pins file).
    val p = java.nio.file.Paths.get("bench_pins_sf001.json")
    assert(java.nio.file.Files.isRegularFile(p), "pins file missing")
    val txt = java.nio.file.Files.readString(p)
    // "slack" and "_"-prefixed keys are file metadata (e.g. the
    // round-16 `_sensitivity` note), not pins — Bench's numeric-entry
    // parser skips them the same way
    val keys = "\"([A-Za-z0-9_]+)\"\\s*:".r.findAllMatchIn(txt)
      .map(_.group(1)).filter(k => k != "slack" && !k.startsWith("_")).toSet
    val missing = SparkEntry.queries.keySet.diff(keys)
    val stale = keys.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"unpinned queries: ${missing.mkString(", ")}")
    assert(stale.isEmpty, s"pins for unregistered queries: ${stale.mkString(", ")}")
  }

  test("the derived quota oracle's textual invariant is enforced") {
    // politeness_schedule_quota's oracle is the unbounded schedule's
    // SQL + an appended WHERE — valid ONLY while the base ends in the
    // bare `FROM w`. The derivation site must both hold the invariant
    // today and REJECT a base that breaks it (a trailing ORDER BY
    // would otherwise produce valid-but-wrong SQL silently).
    val base = SparkEntry.oracleSql("politeness_schedule")
    assert(base.trim.endsWith("FROM w"))
    val derived = SparkEntry.oracleSql("politeness_schedule_quota")
    assert(derived.startsWith(base) &&
      derived.stripPrefix(base).trim.startsWith("WHERE slot <"))
    // the rejection path: a base with a trailing ORDER BY must throw,
    // not yield silently-wrong SQL
    intercept[IllegalArgumentException] {
      graft.registry.HtmlQueries.deriveQuotaOracle(base + "\nORDER BY slot")
    }
  }

  test("partitioned-oracle pipelines are well-formed") {
    SparkEntry.oracleStages.foreach { case (query, stages) =>
      // a staged pipeline must back a registered query that ALSO has
      // the direct single-SQL twin (the staged form only replaces it
      // where that twin is infeasible)
      assert(SparkEntry.queries.contains(query), query)
      assert(SparkEntry.oracleSql.contains(query), query)
      // the runner compares the LAST stage's rows as the oracle
      // result — its name must be the query's (selfcheck reads the
      // final view by stage name)
      assert(stages.last.name == query, s"$query final stage ${stages.last.name}")
      assert(stages.map(_.name).distinct.size == stages.size, query)
      stages.foreach { s =>
        if (s.shards > 0) {
          assert(s.sql.contains("{SHARD}") && s.sql.contains("{NSHARDS}"),
            s"$query/${s.name}: sharded stage without placeholders")
        } else if (!s.sql.startsWith("@cc ")) {
          assert(!s.sql.contains("{SHARD}"),
            s"$query/${s.name}: placeholder in unsharded stage")
        }
      }
    }
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and is deterministic across two executions") {
      val a = fn(spark, sf)
      val b = fn(spark, sf)
      val ca = a.count(); val cb = b.count()
      assert(ca == cb)
      if (name != "q_anti_join") assert(ca > 0, s"$name returned no rows")
      // re-execution yields identical content (set semantics)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
  }

  test("q1 pricing summary has the 6 flag/status groups") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getLong(rows.head.fieldIndex("count_order"))).sum > 0)
  }

  test("wordcount total equals token count") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val total = docs.select(explode(graft.functions.TextFunctions.tokens(col("text")))).count()
    val wc = SparkEntry.queries("mr_wordcount")(spark, sf)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(wc == total)
  }

  test("window rank returns at most 3 per customer") {
    import org.apache.spark.sql.functions._
    val over = SparkEntry.queries("q_window_rank")(spark, sf)
      .groupBy("o_custkey").count().filter(col("count") > 3).count()
    assert(over == 0)
  }
}
