package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one pair miner behind every near-duplicate and LSH join: an
  * operator supplies a block table (rows of key…, id: LSH bands,
  * hyperplane buckets, IVF cells, shingle or fingerprint hashes) and a
  * verify step; the flood cap, the candidate join and the payload fetch
  * live here. Candidates come from an equi-join on the block key (never
  * all pairs), are ids only and deduplicated across keys before any
  * payload moves, and each side's payload is fetched once per unique
  * pair. A key shared by m rows emits ~m² pairs: [[cap]] bounds that.
  */
private[graft] object PairMiner {

  /** Drop the rows of key groups with more than `max` members (rows, or
    * distinct `member` values — a persisted table may hold replayed
    * rows). Recall is lost only inside capped keys; `Int.MaxValue` adds
    * no plan node. The census and the semi-join both read `blocks`, so
    * callers materialize a computed block table before capping it.
    */
  def cap(blocks: DataFrame, keys: Seq[String], max: Int,
          member: Option[String] = None): DataFrame =
    if (max == Int.MaxValue) blocks else {
      val size = member.fold(count(lit(1)))(m => count_distinct(col(m)))
      val ok = blocks.groupBy(keys.map(col): _*).agg(size.as("__df"))
        .filter(col("__df") <= max)
        .select(keys.map(col): _*)
      blocks.join(ok, keys, "left_semi")
    }

  /** One join side: the keys, the id as `as`, each `carry` column `c` as
    * `c` + `suffix`.
    */
  def side(blocks: DataFrame, keys: Seq[String], id: String, as: String,
           carry: Seq[String] = Nil, suffix: String = ""): DataFrame =
    blocks.select(keys.map(col) ++ (col(id).as(as) +: carry.map(c => col(c).as(c + suffix))): _*)

  /** `left` (keys…, `a`) ⋈ `right` (keys…, `b`) on `keys` where `pair`
    * holds, as distinct (`a`, `b`, `extra`…) rows with `n` = the number
    * of keys shared. Selecting the pair away from `n` lets Catalyst
    * prune the count: the aggregate is then a plain distinct.
    */
  def candidates(left: DataFrame, right: DataFrame, keys: Seq[String],
                 a: String, b: String, pair: Column = lit(true),
                 extra: Seq[Column] = Nil, n: String = "n"): DataFrame = {
    val matched = left.join(right, keys).filter(pair)
      .select(col(a) +: col(b) +: extra: _*)
    matched.groupBy(matched.columns.toIndexedSeq.map(col): _*).agg(count(lit(1)).as(n))
  }

  /** [[candidates]] of a block table with itself; `pair(a, b)` picks the
    * orderings kept (`a < b`: each pair once).
    */
  def selfPairs(blocks: DataFrame, keys: Seq[String], id: String,
                a: String, b: String,
                pair: (Column, Column) => Column = _ < _,
                carry: Seq[String] = Nil, extra: Seq[Column] = Nil,
                n: String = "n"): DataFrame =
    candidates(side(blocks, keys, id, a, carry, "_a"), side(blocks, keys, id, b, carry, "_b"),
      keys, a, b, pair(col(a), col(b)), extra, n)

  /** The payload fetch: `table`'s `value` as `as` on each pair's `id`;
    * `small` broadcasts it (a probe batch).
    */
  def fetch(pairs: DataFrame, id: String, table: DataFrame, tableId: String,
            value: String, as: String, small: Boolean = false): DataFrame = {
    val t = table.select(col(tableId).as(id), col(value).as(as))
    pairs.join(if (small) broadcast(t) else t, Seq(id))
  }

  /** Pairs of the distinct, materialized (`item`, `key`) rows `sets`
    * with `n` shared keys and set sizes `na`, `nb`.
    */
  def overlap(sets: DataFrame, item: String, key: String,
              a: String, b: String, n: String): DataFrame = {
    val sizes = sets.groupBy(col(item)).agg(count(lit(1)).as("__size"))
    selfPairs(sets, Seq(key), item, a, b, n = n)
      .join(sizes.withColumnsRenamed(Map(item -> a, "__size" -> "na")), Seq(a))
      .join(sizes.withColumnsRenamed(Map(item -> b, "__size" -> "nb")), Seq(b))
  }

  /** Set Jaccard of an [[overlap]] row: n / (na + nb − n). */
  def jaccard(n: String): Column =
    col(n).cast("double") / (col("na") + col("nb") - col(n))
}
