package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry.OracleStage
import graft.functions.TextFunctions
import graft.sources.Tables

/** One registered query: the builder the driver runs on a scale-factor
  * directory, the DuckDB SQL that must return the same rows from the
  * same parquet tables, and, for the few queries whose single SQL is
  * infeasible at sf ≥ 1, the same oracle as partitioned stages. The
  * oracle has no default, so a query without one does not compile.
  */
final case class Registered(name: String, build: (SparkSession, String) => DataFrame,
                            oracle: String, stages: Seq[OracleStage] = Nil)

object Registered {
  /** The records unchanged, once their names are known to be distinct:
    * the driver's maps are keyed by name, so a repeated name would let
    * one record silently replace another.
    */
  def requireDistinct(records: Seq[Registered]): Seq[Registered] = {
    val repeated = records.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(repeated.isEmpty, s"query names registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    records
  }
}

/** SQL fragments and fixture constants that several families share. */
private[registry] object Shared {
  def tok: String = TextFunctions.tokensSql("text")

  def ph(expr: String): String =
    s"cast('0x' || substr(md5($expr), 1, 15) as bigint)"

  /** The documents' ids with one per-document fixture column, `fixture AS alias`. */
  def wrapped(s: SparkSession, d: String, fixture: Column, alias: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), fixture.as(alias))

  // blocked source domains of the blocklist_filter fixture, also the
  // policy column of host_reputation
  val BlockDomains = Seq("src3.example.com", "src17.example.com")

  /** MinHash banding over a `toks(doc_id, tokens)` CTE, as the CTEs
    * `sh`, `hp`, `sig` and `bands`: 3-shingles, 16 md5-derived hashes,
    * 8 bands of 2 — the twin of [[graft.operators.Dedup.minhashLsh]]'s
    * signature.
    */
  val minhashBandsCtes: String =
    s"""sh AS (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 3)} AS shingles FROM toks),
       |hp AS (SELECT doc_id,
       |    list_transform(shingles, s -> struct_pack(
       |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
       |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
       |  FROM sh),
       |sig AS (SELECT doc_id,
       |    list_transform(range(0, 16), i ->
       |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
       |  FROM hp WHERE len(hp) >= 1),
       |bands AS (SELECT doc_id, b,
       |    ${ph("concat(b, '|', sig[2*b+1], ',', sig[2*b+2])")} AS bkey
       |  FROM sig CROSS JOIN range(0, 8) t(b))""".stripMargin

  /** [[minhashBandsCtes]] and `cand`, the distinct band-colliding pairs. */
  val minhashCandCtes: String =
    s"""$minhashBandsCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  /** The heuristic quality points of a token list `t`, out of 10 — the
    * twin of [[graft.operators.TextAnalysis.quality]]'s score numerator.
    */
  val qualityPointsSql: String =
    s"""cast((CASE WHEN len(t) >= 5 THEN 4 ELSE 0 END)
       |    + (CASE WHEN cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
       |              / greatest(len(t), 1) > 0.05 THEN 3 ELSE 0 END)
       |    + (CASE WHEN cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1)
       |              BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END) AS double)""".stripMargin
}
