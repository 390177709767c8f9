package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Relational
import graft.registry._

/** Driver contract: every registered query by name, with the DuckDB SQL
  * that must return the same rows. Each query is one [[Registered]]
  * record in its family under `graft.registry`.
  *
  * Every query is deterministic and oracle-comparable: fp sums run on
  * decimal internally (order-independent), orderings always carry a
  * unique tiebreak, and hashes are md5-derived (engine-portable).
  *
  * §2A queries re-express cooler-MapReduce's shipped workloads
  * (reference `shared/samples/word_count.py`, `weather_stats.py`,
  * `design.md:264-287`); §2B/§2C extend to the analytics and
  * training-data surface.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Partitioned (multi-invocation) DuckDB oracle pipelines for the
    * three queries whose single-SQL twins are single-node-infeasible
    * at sf ≥ 1 (their quadratic pair stage / transitive-closure CTE
    * exceeded 129 GB RSS in one monolithic query — SURVEY §7f round
    * 7): the SAME oracle semantics, decomposed into stages the sweep
    * runner executes as SEPARATE DuckDB invocations, each writing its
    * output to parquet — so peak memory is one stage's (one shard's)
    * working set, not the whole pipeline's.
    *
    * Stage contract (consumed by scripts/selfcheck.py):
    *  - stages run in order; each earlier stage is visible to later
    *    SQL as a view named by its stage name;
    *  - `shards` > 0: the SQL contains `{SHARD}`/`{NSHARDS}`
    *    placeholders and runs once per shard in a FRESH connection
    *    (shard predicates are on a grouping/join key, so per-shard
    *    DISTINCT/GROUP BY equals the global form); the stage's output
    *    is the union of shard outputs;
    *  - a SQL starting with `@cc <pairsView>` is runner-side
    *    iterative min-label connected components over (vec_a, vec_b)
    *    pairs, emitting (vec_id, cluster_id) — every endpoint labeled
    *    with its component minimum, exactly the recursive CTE's
    *    `least(min(b), a)` fixpoint without materializing the
    *    transitive closure;
    *  - the LAST stage's rows are the oracle result, compared with
    *    the standard rows+schema+hash convention.
    *
    * Values are bit-identical to the single-SQL forms: the stage SQL
    * reuses the same CTE fragments (lshBucketsCte, kmeansCtePrefix,
    * tokensSql/shinglesSql, the cosine fold), and the decomposition
    * only moves set boundaries (DISTINCT / GROUP BY / NOT IN), never
    * arithmetic. Partial pair counts are summed per (doc_a, doc_b)
    * across hash shards before the HAVING, and cast back to BIGINT —
    * DuckDB widens sum() to HUGEINT, which would flip the dtype.
    */
  final case class OracleStage(name: String, shards: Int, sql: String)

  private val registry = Registered.requireDistinct(
    MapReduceQueries.all ++ RelationalQueries.all ++ SimilarityQueries.all ++
      DedupQueries.all ++ TextQueries.all ++ ScoringQueries.all ++
      HtmlQueries.all ++ LinksQueries.all ++ CurationQueries.all)

  /** Every registered query's builder, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(r => r.name -> r.build).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables — every query, including the sketch one
    * (q_approx_stats rides the portable KMinByHash aggregate, which
    * both engines reproduce bit-for-bit; the engine-specific
    * HLL/percentile_approx sketches live only in ApproxSpec).
    */
  val oracleSql: Map[String, String] = registry.map(r => r.name -> r.oracle).toMap

  /** The partitioned oracles, for the queries that have one. */
  val oracleStages: Map[String, Seq[OracleStage]] =
    registry.filter(_.stages.nonEmpty).map(r => r.name -> r.stages).toMap
}
