package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.Materialize.MaterializeOps

/** Relational analytics over the star schema — the "query capabilities"
  * a cooler-MapReduce user would hand-write as map/reduce chains,
  * expressed as single declarative plans so Catalyst gets pushdown,
  * join reorder, partial aggregation and AQE for free.
  *
  * Numeric policy (oracle parity at any scale): every floating-point
  * SUM/AVG runs on `decimal` internally (exact, association-order
  * independent — a shuffle reordering can never change the result) and
  * is cast back to double at the end. Raw min/max/count are already
  * order-independent.
  */
object Relational {
  /** Exact decimal sum of a double column, returned as double. */
  /** Decimal-exact sum emitted as double. Portability bound: the
    * engines agree bit-for-bit only while sum × 10^s < 2^53 — above
    * that, DuckDB's int128→double conversion double-rounds where the
    * JVM's BigDecimal path rounds once (1-ulp divergence, first seen
    * at sf1 on q1's scale-6 sum_charge: 2.8e10 × 10^6 > 2^53). Scale 4
    * keeps monetary sums portable to ~9e11 (≈ sf300); OUTPUT scales
    * coarser than the inputs' native precision should re-round the
    * final sum (see q1's decimal(38,2) output casts), not widen it.
    */
  private def dsum(c: org.apache.spark.sql.Column, p: Int = 18, s: Int = 4) =
    sum(c.cast(s"decimal($p,$s)")).cast("double")

  /** TPC-H Q1-style pricing summary. Single scan, partial agg. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val disc  = (lit(1) - col("l_discount")).cast("decimal(8,2)")
    val chrg  = (lit(1) + col("l_tax")).cast("decimal(8,2)")
    val price = col("l_extendedprice").cast("decimal(18,2)")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        // exact decimal sums, one correctly-rounded double conversion
        // (Spark's Decimal.toDouble = BigDecimal.doubleValue, for a
        // long-backed Decimal too — the FixedPointRule kernels emit
        // those, so equal value and scale give the same double). The
        // ORACLE must convert through a varchar hop for the same
        // single-rounding guarantee — see the oracle SQL note: DuckDB's
        // direct int128→double double-rounds once the scaled sum
        // crosses 2^53, which scale-6 monetary sums do at sf1. (A
        // coarser re-round instead would hit half-cent TIES, where the
        // engines' rounding modes differ — measured both ways at
        // sf0.01/sf1.)
        sum(price * disc).cast("double").as("sum_disc_price"),
        sum(price * disc * chrg).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(price).cast("double") / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast("decimal(8,4)")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Q3-style: revenue of BUILDING-segment orders, top 10. NO
    * compile-time broadcast hint anywhere: customer — even filtered to
    * one mktsegment — is ~1/5 of ALL customers and grows linearly with
    * the scale factor, so a forced broadcast is a driver-OOM /
    * broadcast-timeout class failure at the 100 TB target. Both joins
    * are key-partitioned shuffle joins; AQE upgrades them to broadcast
    * at runtime when the actual post-filter size permits (which it does
    * at driver SFs), which is the scale-safe direction for the hint to
    * flow — the same rule q5RegionRevenue documents for its SF-growing
    * sides. The top-10 compiles to TakeOrderedAndProject (no global
    * sort).
    */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    val rev  = (col("l_extendedprice").cast("decimal(18,2)") *
                (lit(1) - col("l_discount")).cast("decimal(8,2)"))
    li.join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Q5-style: revenue by nation with local suppliers. Only region and
    * nation — the fixed-cardinality dimensions — carry broadcast hints;
    * customer, supplier and orders all grow with the scale factor, so
    * their joins are key-partitioned shuffle joins (AQE upgrades them to
    * broadcast at runtime when the actual size permits, which is the
    * scale-safe direction for the hint to flow).
    */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir)
    val nation = Tables.nation(spark, dir)
    val cust   = Tables.customer(spark, dir)
    val supp   = Tables.supplier(spark, dir)
    val ord    = Tables.orders(spark, dir)
    val li     = Tables.lineitem(spark, dir)
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
               (lit(1) - col("l_discount")).cast("decimal(8,2)"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
                  col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }

  def qGroupByHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        (sum(col("p_retailprice").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("avg_price"),
        max(col("p_size")).as("max_size"))
      .filter(col("n_parts") >= 5)

  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority"))
      .distinct()

  /** EXISTS — left_semi join: no duplication, build side broadcast. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, dir).filter(col("o_totalprice") > 100000)
    Tables.customer(spark, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** NOT EXISTS — left_anti join (customers with no URGENT order). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  /** Left outer join + aggregation keeping empty groups. */
  def qOuterJoinAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double"), lit(0.0)).as("total_spent"))

  /** Top-3 orders per customer — window partitioned by the grouping
    * key, so it scales with the key cardinality (no global sort).
    */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
  }

  /** Running (cumulative) sum per user over event time. Decimal
    * accumulation → frame-evaluation order can't change the result.
    */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("running_value"))
  }

  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  /** CUBE over the same keys — all four grouping sets in one pass
    * (rollup's prefix sets plus the per-linestatus marginals), the
    * remaining member of the grouping-sets family. Same partial-agg'd
    * Expand plan as rollup: one scan, one shuffle.
    */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  /** Global top-k — compiles to TakeOrderedAndProject (per-partition
    * top-k then merge on the driver; never a full sort).
    */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  /** UNION ALL of two heterogeneous sources, normalized then aggregated. */
  def qUnion(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(lit("event_purchase").as("src"), col("value").as("amount"))
    val orders = Tables.orders(spark, dir)
      .select(lit("order").as("src"), col("o_totalprice").as("amount"))
    purchases.unionByName(orders)
      .groupBy(col("src"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("amount").cast("decimal(18,4)")).cast("double").as("total_amount"))
  }

  /** Orders above the global average price (scalar subquery → computed
    * once, broadcast into the filter).
    */
  def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val stats = ord.agg(
      (sum(col("o_totalprice").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("avg_price"))
    ord.join(broadcast(stats))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** Gaps-and-islands sessionization: a session breaks after a 30-min
    * silence. lag + running flag-sum, all windows partitioned by user.
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(
        max(col("session_id")).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        count(lit(1)).as("n_groups"))
  }

  /** Field extraction from the JSON-ish `props` string via regexp —
    * regex evaluated in the scan stage, then a tiny aggregation.
    */
  def qExtractProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))

  def qMonthlyOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_price"))

  /** Pivot: per-user event-type counts as columns. The type list is
    * explicit, so the plan is a single partial-agg pass (no
    * distinct-value pre-query).
    */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "purchase", "error", "signup", "view")
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0, types)
  }

  /** As-of join: each purchase matched to the user's latest prior (or
    * simultaneous-ordered-earlier) click — union-and-carry-forward via
    * a per-user window instead of a quadratic range join.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("click_id"))
  }

  /** Interval (attribution-window) join: every purchase with the
    * count of the SAME user's views in the preceding hour and the gap
    * to the most recent one — the classic equi+range join, expressed
    * Spark-first as a RANGE-frame window over the per-user event
    * timeline instead of a join: the naive
    * `views v JOIN purchases p ON user AND v.ts BETWEEN p.ts−1h AND
    * p.ts` pays a per-user cross product inside each window (hot
    * users go quadratic), while the range frame is one sort per user
    * partition with a sliding frame — O(n log n), no candidate
    * blowup. [[qIntervalJoinViaJoin]] is the join-form parity
    * reference the spec pins equality against; the frame runs on
    * exact epoch MICROS (second-cast would silently widen the
    * window's edge by sub-second truncation).
    */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("__us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        us.as("__us"))
      .withColumn("n_views_1h",
        count(when(col("event_type") === "view", lit(1))).over(w))
      .withColumn("__last_view_us",
        max(when(col("event_type") === "view", col("__us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("n_views_1h"),
        (col("__us") - col("__last_view_us")).as("last_view_gap_us"))
  }

  /** Join-form reference for [[qIntervalJoin]] — spec-only. */
  def qIntervalJoinViaJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("__us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("__us").as("p_us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("__us").as("v_us"))
    p.as("p").join(v.as("v"),
        col("p.user_id") === col("v.user_id") &&
          col("v.v_us") >= col("p.p_us") - 3600000000L &&
          col("v.v_us") <= col("p.p_us"), "left")
      .groupBy(col("p.user_id").as("user_id"), col("purchase_id"),
        col("p_us"))
      .agg(count(col("v_us")).as("n_views_1h"),
        max(col("v_us")).as("__last"))
      .select(col("user_id"), col("purchase_id"), col("n_views_1h"),
        (col("p_us") - col("__last")).as("last_view_gap_us"))
  }

  /** Group-wise max: parts at their brand's top retail price. */
  def qGroupwiseMax(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val tops = part.groupBy(col("p_brand").as("b"))
      .agg(max(col("p_retailprice")).as("top_price"))
    part.join(broadcast(tops),
        col("p_brand") === col("b") && col("p_retailprice") === col("top_price"))
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
  }

  /** Q10-style: top customers by revenue from returned items. Both
    * orders and customer scale with SF — no broadcast hints; the joins
    * shuffle on their keys and the top-20 is TakeOrderedAndProject.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
               (lit(1) - col("l_discount")).cast("decimal(8,2)"))
    Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q14-style: share of revenue from PROMO-type parts (percent).
    * part scales with SF (TPC-H: 200k×SF rows) — no broadcast hint;
    * AQE picks broadcast at runtime only when the size allows.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
               (lit(1) - col("l_discount")).cast("decimal(8,2)"))
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double") * 100.0 / sum(rev).cast("double")).as("promo_share_pct"),
        count(lit(1)).as("n_lines"))
  }

  /** Q18-style: large-volume orders (total quantity above threshold). */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("total_qty"))
      .filter(col("total_qty") > 150)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"), col("total_qty"))
  }

  /** Set operations: segments of customers with vs without open orders
    * (INTERSECT/EXCEPT semantics — dedicated shuffle-dedup plans).
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val openCust = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O").select(col("o_custkey").as("c_custkey"))
    val both = cust.intersect(openCust)
      .withColumn("segment", lit("has_open_order"))
    val none = cust.except(openCust)
      .withColumn("segment", lit("no_open_order"))
    both.unionByName(none)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"), min(col("c_custkey")).as("min_key"))
  }

  /** Approximate aggregates next to their exact counterparts — built on
    * the engine's PORTABLE sketch primitive (graft.plans.KMinByHash):
    * a KMV distinct-count estimate and a min-hash sample median, both
    * O(k) state per group with map-side partials (the 100 TB shape) and
    * both pure functions of the input set over md5-derived hashes, so
    * the DuckDB oracle reproduces them bit-for-bit — unlike
    * `approx_count_distinct`/`percentile_approx`, whose sketches are
    * engine-specific (those stay spec-bounded in ApproxSpec).
    */
  def qApproxStats(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    graft.plans.GraftFunctions.register(spark)
    val uh = graft.functions.PortableHash.portableHash(col("user_id"))
    val eh = graft.functions.PortableHash.portableHash(col("event_id"))
    import graft.functions.Sketches._
    val ev = Tables.events(spark, dir)
    // Two aggregation branches joined on the tiny group key: putting
    // countDistinct in the SAME Aggregate as the imperative sketch
    // functions forces an Expand (row per aggregate family) and demotes
    // the whole thing to a sort-based aggregate over every expanded row
    // — measured 3.7× slower. Separated, the sketch side runs as an
    // ObjectHashAggregate and the exact side as the usual two-phase
    // distinct, each over one codegen'd scan.
    val sketch = ev
      .groupBy(col("event_type"))
      .agg(
        kminBy(uh, uh, k).as("kmv"),
        kminBy(eh, col("value"), k).as("vsample"))
      // oracle parity on degenerate groups: the SQL twins filter NULL
      // inputs BEFORE aggregating, so a group whose inputs are all NULL
      // never exists on the oracle side — drop its empty sketches here
      // too instead of emitting a NULL-sketch row the oracle lacks
      .filter(size(col("kmv")) > 0 && size(col("vsample")) > 0)
      .select(col("event_type"),
        kmvEstimate(col("kmv"), k).as("kmv_users"),
        sampleMedian(col("vsample")).as("sample_median"))
    val exactStats = ev
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    exactStats.join(sketch, Seq("event_type"))
      .select(col("event_type"), col("kmv_users"), col("exact_users"),
        col("sample_median"), col("min_value"), col("max_value"))
  }

  /** Quartiles from ONE deterministic min-hash sample per group — the
    * general-quantile companion of [[qApproxStats]]: one O(k)-state
    * sketch aggregate, three order statistics read off it. The
    * percentile_approx engine sketch can't be oracle-checked; this can.
    */
  def qPortableQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    graft.plans.GraftFunctions.register(spark)
    val eh = graft.functions.PortableHash.portableHash(col("event_id"))
    import graft.functions.Sketches._
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(kminBy(eh, col("value"), k).as("vsample"))
      // see qApproxStats: all-NULL groups don't exist on the oracle side
      .filter(size(col("vsample")) > 0)
      .select(col("event_type"),
        sampleQuantile(col("vsample"), 0.25).as("p25"),
        sampleQuantile(col("vsample"), 0.5).as("p50"),
        sampleQuantile(col("vsample"), 0.75).as("p75"))
  }

  /** The exact companions of [[qApproxStats]] split into their own
    * query so they get a hash-checked DuckDB oracle (the sketch columns
    * are engine-specific and stay rows-only, error-bounded by
    * ApproxSpec).
    */
  def qApproxStatsExact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Tumbling 1-hour windows via Spark's `window()` — the batch twin of
    * the Structured Streaming aggregation in graft.streaming.
    */
  def qTumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Hopping (sliding) 1-hour windows every 30 minutes via Spark's
    * `window(ts, len, slide)` — each event lands in exactly
    * len/slide = 2 overlapping windows (Catalyst expands them with a
    * generator BEFORE the aggregation, so it is still one scan + one
    * partial-agg shuffle keyed on (window, type); no self-join).
    * Decimal accumulation keeps the per-window sums order-independent.
    */
  def qHoppingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Fixed-width value histogram of the event stream (width-bucket
    * semantics, width 10): one scan, the bin computed map-side, one
    * partial-agg'd shuffle keyed on the bin — the cardinality of the
    * output is value-range/width regardless of row count, so the
    * aggregation state is tiny at any scale. Decimal accumulation keeps
    * per-bin sums order-independent.
    */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(floor(col("value") / 10).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** TPC-H Q4-style order-priority check: orders from one quarter that
    * had at least one LATE line (shipped ≥ 30 days after the order
    * date), counted by priority. The correlated EXISTS is a left_semi
    * join whose condition spans both tables — Spark plans it as an
    * equi-join on the order key with the date comparison as a residual
    * filter, so it shuffles on the key like any fact-fact join (no
    * broadcast hint: lineitem grows with SF). The quarter filter is
    * pushed into the orders parquet scan.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-04-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q19-style disjunctive-predicate join: three OR'd
    * brand/size/quantity branches over lineitem⋈part. The join key is
    * shared by every branch, so Catalyst keeps one equi-join with the
    * disjunction as a residual — and pushes the derivable per-side
    * bounds (p_size, l_quantity envelopes) down into both parquet
    * scans. The revenue sum runs on decimal (order-independent).
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pt = Tables.part(spark, dir)
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(8,2)"))
    val branch1 = col("p_brand") === "Brand#3" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
    val branch2 = col("p_brand") === "Brand#12" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 35)
    val branch3 = col("p_brand") === "Brand#21" &&
      col("p_size").between(20, 50) && col("l_quantity").between(20, 50)
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .groupBy(col("p_brand"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }

  /** Funnel analysis over the event stream: how many users progressed
    * view → click → purchase, in strict event-time order (classic
    * product analytics). ONE partial-agg'd pass builds each user's
    * first-timestamp-per-stage (conditional mins), and the stage
    * predicates are a tiny map over that per-user row — no self-joins,
    * no sequence explosion, one shuffle keyed on the user.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    def firstTs(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"first_$t")
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
    val reachedClick = col("first_view").isNotNull &&
      col("first_click") > col("first_view")
    val reachedPurchase = reachedClick && col("first_purchase") > col("first_click")
    perUser.agg(
      count(when(col("first_view").isNotNull, 1)).as("n_view"),
      count(when(reachedClick, 1)).as("n_view_click"),
      count(when(reachedPurchase, 1)).as("n_view_click_purchase"))
  }

  /** Week-over-week cohort retention: of the users active in week w,
    * how many are also active in w+1. The distinct (user, week)
    * activity table is built with one partial-agg'd pass; retention is
    * a self-join on (user, next week) — both sides key-partitioned on
    * the user, counts rolled up per week. Output cardinality is the
    * number of weeks regardless of user count.
    */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val weeks = Tables.events(spark, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    val next = weeks.select(col("user_id").as("n_user"), col("week").as("n_week"))
    weeks
      .join(next, col("user_id") === col("n_user") &&
        date_add(col("week"), 7) === col("n_week"), "left")
      .groupBy(col("week"))
      .agg(count(lit(1)).as("active_users"),
        count(col("n_user")).as("retained_users"))
  }

  /** TPC-H Q16-style supplier-variety report: distinct suppliers per
    * surviving (brand, size) combination, with NOT-IN brand exclusion
    * and an IN size list — both pushed into the part parquet scan. The
    * count-distinct runs as Spark's standard two-phase distinct
    * aggregation (partial per (group, supplier), then merge): no
    * supplier set is ever collected into one buffer.
    */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.part(spark, dir)
      .filter(!col("p_brand").isin("Brand#1", "Brand#2") &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    Tables.lineitem(spark, dir)
      .join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21-style "sole late supplier": suppliers that were the ONLY
    * late shipper (≥ 60 days after the order date) on a multi-supplier
    * order — the double-correlated EXISTS / NOT EXISTS shape. The
    * (order, supplier, was-late) pairs are built ONCE with a partial
    * agg, then the semi join (some other supplier on the order) and the
    * anti join (no other LATE supplier) both run against that pair
    * table on the order-key shuffle — compound conditions with a
    * supplier inequality residual, never a cartesian.
    */
  def q21SoleLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .agg(max((col("l_shipdate") >=
        col("o_orderdate") + expr("INTERVAL 60 DAYS")).cast("int")).as("has_late"))
    val late = pairs.filter(col("has_late") === 1).select(col("ok"), col("sk"))
    val all = pairs.select(col("ok").as("ok2"), col("sk").as("sk2"))
    val lateOther = late.select(col("ok").as("ok3"), col("sk").as("sk3"))
    late
      .join(all, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(lateOther, col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
      .groupBy(col("sk").as("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** Per-nation balance quartiles via `ntile(4)` — the window is
    * PARTITIONED by nation (never a global single-partition ntile, the
    * classic window scale-killer) with a unique (balance, custkey)
    * ordering for determinism; the quartile rollup is a tiny follow-up
    * aggregation.
    */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_acctbal"),
        ntile(4).over(w).as("tier"))
      .groupBy(col("c_nationkey"), col("tier"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast("decimal(18,4)")).cast("double").as("total_bal"))
  }

  /** TPC-H Q22-style idle-customer report: customers whose balance is
    * above the average POSITIVE balance and who placed no RECENT order
    * (nothing since 2000-01-01), counted per nation. The global average
    * is a scalar subquery (one-row broadcast), the recency cutoff is
    * pushed into the orders parquet scan before the left_anti on the
    * order key, and the final rollup is a tiny per-nation aggregation —
    * two key shuffles regardless of scale.
    */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,4)")).cast("double") /
        count(lit(1))).as("a"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("a"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast("decimal(18,4)")).cast("double").as("total_bal"))
  }

  /** The decimal revenue expression every TPC-H-style query shares:
    * `extendedprice × (1 − discount)` with both factors decimal-cast so
    * the aggregation is order-independent and engine-exact.
    */
  private def revExpr =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(8,2)")

  /** Q6-style forecasting revenue: one filtered scan, one scalar —
    * the canonical predicate-pushdown showcase (all three filters reach
    * the parquet scan; no join, no shuffle beyond the final agg).
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        col("l_discount").cast("decimal(8,2)")).cast("double").as("revenue"))

  /** Q7-style bilateral shipping volume: the two-nation trade report.
    * Nation is the only broadcast dim (joined twice — supplier side and
    * customer side); the OR-of-two-directions filter is applied on the
    * joined nation names.
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    li.join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .join(broadcast(nation.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
        (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(revExpr).cast("double").as("volume"))
  }

  /** Q8-style market share: the share of a region's ECONOMY-part order
    * volume supplied by one nation, per order year. Two decimal sums
    * (conditional numerator via null-skipping CASE) divided as doubles.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(Tables.part(spark, dir).filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("cn_key"),
        col("n_regionkey"))), col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AFRICA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (coalesce(sum(when(col("supp_nation") === "NATION_5", revExpr))
          .cast("double"), lit(0.0)) /
          sum(revExpr).cast("double")).as("mkt_share"),
        sum(revExpr).cast("double").as("total_volume"))
  }

  /** Q9-style product profit by supplier nation and year, ADAPTED: the
    * driver's star schema has no partsupp table, so profit is the
    * revenue side only (`extendedprice × (1 − discount)`, no
    * `ps_supplycost × quantity` subtrahend) over parts whose name
    * contains 'bolt'. The plan shape is the genuine Q9 one: a LIKE
    * filter on part, four fact joins, nation broadcast, year rollup.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_name").contains("bolt")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(revExpr).cast("double").as("sum_profit"))

  /** Q13-style customer order-count distribution: LEFT join so
    * zero-order customers land in the c_count = 0 bucket, then the
    * distribution of counts — two partial-agg shuffles, no sort.
    */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"),
        "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** Q15-style top supplier: quarterly revenue per supplier, keep the
    * max. The revenue table is MATERIALIZED (it feeds both the scalar
    * max and the equality filter); the max is a one-row broadcast. Ties
    * all surface (the TPC-H contract), deterministically.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revExpr).cast("double").as("total_revenue"))
      .materialized // feeds the max AND the filter
    val top = rev.agg(max(col("total_revenue")).as("__max"))
    Tables.supplier(spark, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(top)) // one row
      .filter(col("total_revenue") === col("__max"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** B48: lead/lag event deltas — per-user previous-value delta and
    * next event type over event time (the session-trajectory feature
    * window rank/running sums don't cover). Unique (ts, event_id)
    * tiebreak; the delta is one double subtraction of the same
    * operands on both engines. Partitioned window — scales with user
    * cardinality, never a global sort.
    */
  def qLeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
        lead(col("event_type"), 1).over(w).as("next_type"))
  }

  /** B47: GROUPING SETS with grouping_id — the mixed-granularity
    * report rollup/cube cannot express (exactly the requested sets,
    * nothing more): (flag, status), (flag), (status). One Expand over
    * three sets feeding a single partial-agg'd shuffle; grouping_id
    * disambiguates a real NULL key from an aggregated-away one.
    * Expressed through the SQL front door — the DataFrame API exposes
    * only rollup/cube, and the point of the session's ANSI surface is
    * that it doesn't have to.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("gs_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  grouping_id(l_returnflag, l_linestatus) AS gid
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))""".stripMargin)
  }

  /** Q17-style small-quantity revenue: lineitems under 20% of their
    * part's average quantity, for one brand — the correlated scalar
    * subquery decorrelated into a per-part aggregate joined back
    * (exactly what a 100 TB plan wants: one partial-agg'd pass for the
    * thresholds, one filtered join, no per-row subquery execution).
    */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val perPart = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(0.2) * (sum(col("l_quantity").cast("decimal(18,4)"))
        .cast("double") / count(lit(1)))).as("__threshold"))
    li.join(Tables.part(spark, dir).filter(col("p_brand") === "Brand#1"),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("__threshold"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
        lit(7.0)).as("avg_yearly"))
  }

  /** Q2-style minimum-cost supplier, ADAPTED: the star schema has no
    * partsupp, so the part↔supplier offer relation is derived from
    * lineitem — supply cost per (part, supplier) is the min observed
    * `l_extendedprice` (exact under min, no division). Q2's genuine
    * shape survives intact: a region-restricted supplier dimension, a
    * per-part correlated MIN over only those suppliers, and the
    * join-back on cost equality, topped by the deterministic
    * acctbal-ordered limit. Supplier grows with SF → both fact-side
    * joins are shuffle joins; only nation/region (fixed 25/5 rows)
    * broadcast.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val regSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AFRICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val offers = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("supply_cost"))
      .join(Tables.part(spark, dir)
          .filter(col("p_type") === "STANDARD" && col("p_size") % 5 === 0),
        col("l_partkey") === col("p_partkey"))
      .join(regSupp, col("l_suppkey") === col("s_suppkey"))
      .materialized // feeds both the per-part MIN and the join-back
    val minCost = offers.groupBy(col("p_partkey").as("__mk"))
      .agg(min(col("supply_cost")).as("__min_cost"))
    offers
      .join(minCost,
        col("p_partkey") === col("__mk") && col("supply_cost") === col("__min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100) // unique (s_name, p_partkey) total order → deterministic set
  }

  /** Q11-style important-part identification, ADAPTED: part "value held
    * by a nation" is the revenue its suppliers shipped (no partsupp →
    * no availqty × supplycost), filtered to one supplier nation. The
    * Q11 shape is the point: a grouped decimal value per part, HAVING
    * it exceed a global scalar riding a one-row broadcast cross join.
    * Q11's fixed fraction-of-total goes VACUOUS as the part count grows
    * with SF (every share shrinks below any constant), so the cut is
    * the SF-invariant form — value × n_parts > 2 × total, i.e. twice
    * the mean part value — in exact decimal × integer arithmetic (never
    * a double threshold, so the HAVING cut is bit-portable).
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val vals = Tables.lineitem(spark, dir)
      .join(natSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      // re-round the exact sum to decimal(18,4) so the multiplies below
      // fit BOTH engines' decimal widening rules without overflow
      .agg(sum(revExpr).cast("decimal(18,4)").as("__val"))
      .materialized // feeds the global total AND the HAVING filter
    val total = vals.agg(
      sum(col("__val")).cast("decimal(28,4)").as("__total"),
      count(lit(1)).as("__n"))
    vals.join(broadcast(total)) // one row
      .filter(col("__val") * col("__n") > col("__total") * lit(2))
      .select(col("l_partkey"), col("__val").cast("double").as("part_value"))
  }

  /** Q12-style shipping-priority report, ADAPTED: lineitem carries no
    * l_shipmode / l_commitdate / l_receiptdate, so the mode dimension is
    * l_linestatus and "late" is shipped ≥ 45 days after the order date.
    * The genuine Q12 plan shape: one year's lineitem joined to orders,
    * late filter, CASE-split priority counts per mode — a single
    * shuffle join + partial-agg'd CASE sums, no window, no sort.
    */
  def q12ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** Q20-style supplier shortlist, ADAPTED: no partsupp availqty, so
    * "holds excess stock of a promotable part" becomes "shipped MORE
    * THAN HALF of a small-part's total 1996 volume" — a dominant-
    * supplier cut with the same nested-subquery chain Q20 runs: an
    * inner per-(part, supplier) aggregate compared against a per-part
    * aggregate, a name-LIKE part semi-join, then a supplier semi-join.
    * Quantity sums stay decimal end-to-end; the half test is
    * `2 × pair > total` (exact, no double division).
    */
  def q20DominantSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li96 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(18,4)").as("__q"))
      .materialized // one scan feeds both granularities
    val pairQty = li96.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("__q")).as("__pair_qty"))
    val partQty = li96.groupBy(col("l_partkey").as("__pk"))
      .agg(sum(col("__q")).as("__part_qty"))
    val dominant = pairQty
      .join(partQty, col("l_partkey") === col("__pk"))
      .filter(col("__pair_qty") * 2 > col("__part_qty"))
      .join(Tables.part(spark, dir).filter(col("p_name").startsWith("small")),
        col("l_partkey") === col("p_partkey"), "left_semi")
    Tables.supplier(spark, dir)
      .join(dominant.select(col("l_suppkey")),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
  }
}
