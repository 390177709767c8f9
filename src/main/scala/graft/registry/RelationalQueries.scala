package graft.registry

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** §2B: relational analytics — TPC-H-style joins and aggregates,
  * windows, sets, sketches and event-stream analytics.
  */
object RelationalQueries {
  /** Shared decimal revenue fragment for the TPC-H-style oracles —
    * mirrors Relational.revExpr exactly.
    */
  private def revSql: String =
    "cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))"

  val all: Seq[Registered] = Seq(
    Registered("q1_pricing_summary", Relational.q1PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,4))) AS double) AS sum_base_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS varchar) AS double) AS sum_disc_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2)) * cast(1 + l_tax AS decimal(8,2))) AS varchar) AS double) AS sum_charge,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) / count(*) AS avg_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / count(*) AS avg_price,
        |  cast(sum(cast(l_discount AS decimal(8,4))) AS double) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    Registered("q3_top_orders", Relational.q3TopOrders,
      """SELECT o_orderkey, o_orderdate,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    Registered("q5_region_revenue", Relational.q5RegionRevenue,
      """SELECT r_name, n_name,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM region, nation, customer, supplier, orders, lineitem
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    Registered("q_groupby_having", Relational.qGroupByHaving,
      """SELECT p_brand, count(*) AS n_parts,
        |  cast(sum(cast(p_retailprice AS decimal(18,4))) AS double) / count(*) AS avg_price,
        |  max(p_size) AS max_size
        |FROM part GROUP BY p_brand HAVING count(*) >= 5""".stripMargin),
    Registered("q_distinct", Relational.qDistinct,
      """SELECT DISTINCT c_mktsegment, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin),
    Registered("q_semi_join", Relational.qSemiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin),
    Registered("q_anti_join", Relational.qAntiJoin,
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin),
    Registered("q_outer_join_agg", Relational.qOuterJoinAgg,
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  coalesce(cast(sum(cast(o_totalprice AS decimal(18,4))) AS double), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name""".stripMargin),
    Registered("q_window_rank", Relational.qWindowRank,
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS integer) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),
    Registered("q_window_running", Relational.qWindowRunning,
      """SELECT user_id, event_id,
        |  cast(sum(cast(value AS decimal(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_value
        |FROM events""".stripMargin),
    Registered("q_rollup", Relational.qRollup,
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    Registered("q_cube", Relational.qCube,
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),
    Registered("q_topk", Relational.qTopK,
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin),
    Registered("q_union", Relational.qUnion,
      """SELECT src, count(*) AS n,
        |  cast(sum(cast(amount AS decimal(18,4))) AS double) AS total_amount
        |FROM (
        |  SELECT 'event_purchase' AS src, value AS amount FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT 'order' AS src, o_totalprice AS amount FROM orders)
        |GROUP BY src""".stripMargin),
    Registered("q_scalar_subquery", Relational.qScalarSubquery,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) / count(*) FROM orders)""".stripMargin),
    Registered("q_sessionize", Relational.qSessionize,
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, cast(max(session_id) AS bigint) AS n_sessions,
        |  max(n_events) AS max_session_events, count(*) AS n_groups
        |FROM per_session GROUP BY user_id""".stripMargin),
    Registered("q_extract_props", Relational.qExtractProps,
      // try_cast: a non-matching props row extracts '' which must degrade
      // to NULL (as Spark's cast does), not crash the oracle run
      """SELECT try_cast(regexp_extract(props, '"k": (\d+)', 1) AS integer) % 10 AS k_bucket,
        |  count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM events GROUP BY 1""".stripMargin),
    Registered("q_monthly_orders", Relational.qMonthlyOrders,
      """SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
        |  count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total_price
        |FROM orders GROUP BY 1""".stripMargin),
    Registered("q_tumbling_window", Relational.qTumblingWindow,
      """SELECT cast(date_trunc('hour', ts) AS timestamp) AS hour_start, event_type,
        |  count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    Registered("q_hopping_window", Relational.qHoppingWindow,
      // Spark's window(ts, 1h, 30m) assigns each event to the len/slide=2
      // epoch-aligned 30-min window starts covering it; DuckDB's
      // time_bucket origin (2000-01-03) is 30-min-aligned to the epoch,
      // so the buckets coincide.
      """SELECT w_start, event_type, count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM (
        |  SELECT unnest([
        |      time_bucket(INTERVAL '30 minutes', ts),
        |      time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        |    ]) AS w_start, event_type, value
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin),
    Registered("q_histogram", Relational.qHistogram,
      """SELECT cast(floor(value / 10) AS bigint) AS bin, count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin),
    // salting is semantically invisible — the oracle is the PLAIN sql
    Registered("q_salted_agg", (s, d) =>
        Skew.saltedValueStats(Tables.events(s, d), "event_type", "value", 8),
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM events GROUP BY event_type""".stripMargin),
    Registered("q_pivot", Relational.qPivot,
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin),
    Registered("q_asof_join", Relational.qAsofJoin,
      """SELECT user_id, event_id AS purchase_id, click_id FROM (
        |  SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        |  FROM events)
        |WHERE event_type = 'purchase'""".stripMargin),
    Registered("q_interval_join", Relational.qIntervalJoin,
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  count(v.v_us) AS n_views_1h,
        |  epoch_us(p.ts) - max(v.v_us) AS last_view_gap_us
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, epoch_us(ts) AS v_us FROM events
        |           WHERE event_type = 'view') v
        |  ON v.user_id = p.user_id
        |  AND v.v_us >= epoch_us(p.ts) - 3600000000
        |  AND v.v_us <= epoch_us(p.ts)
        |GROUP BY 1, 2, epoch_us(p.ts)""".stripMargin),
    Registered("q_groupwise_max", Relational.qGroupwiseMax,
      """SELECT p_brand, p_partkey, p_retailprice FROM part p
        |WHERE p_retailprice = (
        |  SELECT max(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)""".stripMargin),
    Registered("q_approx_stats", Relational.qApproxStats,
      // Portable-sketch query: the KMV estimate and min-hash sample
      // median are reproduced exactly (same md5-derived hashes, same
      // IEEE formulas) — see graft.functions.Sketches for the twin
      // fragment builders these strings are generated from.
      s"""WITH kmv AS (${graft.functions.Sketches.kmvEstimateSql(
             "events", "event_type", "user_id", 64)}),
         |med AS (${graft.functions.Sketches.sampleMedianSql(
             "events", "event_type", "event_id", "value", 64)}),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users,
         |    min(value) AS min_value, max(value) AS max_value
         |  FROM events GROUP BY event_type)
         |SELECT ex.event_type, kmv_users, exact_users, sample_median,
         |  min_value, max_value
         |FROM ex JOIN kmv USING (event_type) JOIN med USING (event_type)""".stripMargin),
    Registered("q_portable_quantiles", Relational.qPortableQuantiles,
      graft.functions.Sketches.sampleQuantilesSql(
        "events", "event_type", "event_id", "value", 64,
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))),
    Registered("q_approx_stats_exact", Relational.qApproxStatsExact,
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin),
    Registered("q_set_ops", Relational.qSetOps,
      """SELECT segment, count(*) AS n_customers, min(c_custkey) AS min_key FROM (
        |  SELECT c_custkey, 'has_open_order' AS segment FROM (
        |    SELECT c_custkey FROM customer
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT c_custkey, 'no_open_order' AS segment FROM (
        |    SELECT c_custkey FROM customer
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
        |GROUP BY segment""".stripMargin),
    Registered("q4_order_priority", Relational.q4OrderPriority,
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-04-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin),
    Registered("q10_returned_items", Relational.q10ReturnedItems,
      """SELECT c_custkey, c_name, c_mktsegment,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem, orders, customer
        |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |GROUP BY c_custkey, c_name, c_mktsegment
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Registered("q14_promo_share", Relational.q14PromoShare,
      """SELECT
        |  cast(sum(CASE WHEN p_type = 'PROMO'
        |    THEN cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))
        |    ELSE cast(0 AS decimal(18,2)) END) AS double) * 100.0
        |    / cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS promo_share_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
    Registered("q18_large_orders", Relational.q18LargeOrders,
      """SELECT o_orderkey, o_orderdate, o_totalprice, total_qty FROM orders JOIN (
        |  SELECT l_orderkey, cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150
        |) ON o_orderkey = l_orderkey""".stripMargin),
    Registered("q19_disjunctive", Relational.q19Disjunctive,
      """SELECT p_brand,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
        |GROUP BY p_brand""".stripMargin),
    Registered("q22_idle_customers", Relational.q22IdleCustomers,
      """SELECT c_nationkey, count(*) AS n_custs,
        |  cast(sum(cast(c_acctbal AS decimal(18,4))) AS double) AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (
        |    SELECT cast(sum(cast(c_acctbal AS decimal(18,4))) AS double) / count(*)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin),
    Registered("q16_supplier_variety", Relational.q16SupplierVariety,
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |GROUP BY p_brand, p_size""".stripMargin),
    Registered("q21_sole_late_supplier", Relational.q21SoleLateSupplier,
      """WITH pairs AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    max(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |        THEN 1 ELSE 0 END) AS has_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |late AS (SELECT ok, sk FROM pairs WHERE has_late = 1)
        |SELECT l.sk AS l_suppkey, count(*) AS numwait
        |FROM late l
        |WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.ok = l.ok AND p.sk <> l.sk)
        |  AND NOT EXISTS (SELECT 1 FROM late o WHERE o.ok = l.ok AND o.sk <> l.sk)
        |GROUP BY l.sk""".stripMargin),
    Registered("q_ntile", Relational.qNtile,
      """SELECT c_nationkey, tier, count(*) AS n_custs,
        |  cast(sum(cast(c_acctbal AS decimal(18,4))) AS double) AS total_bal
        |FROM (
        |  SELECT c_nationkey, c_acctbal,
        |    cast(ntile(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS int) AS tier
        |  FROM customer)
        |GROUP BY c_nationkey, tier""".stripMargin),
    Registered("q_funnel", Relational.qFunnel,
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        |  count(CASE WHEN first_view IS NOT NULL THEN 1 END) AS n_view,
        |  count(CASE WHEN first_click > first_view THEN 1 END) AS n_view_click,
        |  count(CASE WHEN first_click > first_view
        |              AND first_purchase > first_click THEN 1 END) AS n_view_click_purchase
        |FROM per_user""".stripMargin),
    Registered("q_retention", Relational.qRetention,
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, cast(date_trunc('week', ts) AS date) AS week
        |  FROM events)
        |SELECT w.week, count(*) AS active_users,
        |  count(n.user_id) AS retained_users
        |FROM weeks w LEFT JOIN weeks n
        |  ON w.user_id = n.user_id
        |  AND cast(w.week + INTERVAL 7 DAY AS date) = n.week
        |GROUP BY w.week""".stripMargin),
    Registered("q_topk_per_key", (s, d) =>
        graft.plans.TopK.perKey(
          Tables.events(s, d).select(col("user_id"), col("event_id"), col("value")),
          Seq("user_id"), Seq("value", "event_id"), 3),
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin),
    Registered("q6_forecast_revenue", Relational.q6ForecastRevenue,
      """SELECT cast(sum(cast(l_extendedprice AS decimal(18,2))
        |    * cast(l_discount AS decimal(8,2))) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05e0 AND l_discount <= 0.07e0
        |  AND l_quantity < 24""".stripMargin),
    Registered("q7_nation_volume", Relational.q7NationVolume,
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year,
         |  cast(sum($revSql) AS double) AS volume
         |FROM lineitem, supplier, orders, customer, nation n1, nation n2
         |WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
         |  AND o_custkey = c_custkey
         |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
         |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
         |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
         |GROUP BY 1, 2, 3""".stripMargin),
    Registered("q8_market_share", Relational.q8MarketShare,
      s"""SELECT year(o_orderdate) AS o_year,
         |  coalesce(cast(sum(CASE WHEN n2.n_name = 'NATION_5'
         |      THEN $revSql END) AS double), 0.0e0)
         |    / cast(sum($revSql) AS double) AS mkt_share,
         |  cast(sum($revSql) AS double) AS total_volume
         |FROM lineitem, part, supplier, orders, customer, nation n1,
         |  nation n2, region
         |WHERE l_partkey = p_partkey AND p_type = 'ECONOMY'
         |  AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
         |  AND o_custkey = c_custkey
         |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
         |  AND r_name = 'AFRICA' AND s_nationkey = n2.n_nationkey
         |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1""".stripMargin),
    Registered("q9_product_profit", Relational.q9ProductProfit,
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  cast(sum($revSql) AS double) AS sum_profit
         |FROM lineitem, part, supplier, orders, nation
         |WHERE l_partkey = p_partkey AND contains(p_name, 'bolt')
         |  AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
         |  AND s_nationkey = n_nationkey
         |GROUP BY 1, 2""".stripMargin),
    Registered("q13_order_distribution", Relational.q13OrderDistribution,
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin),
    Registered("q15_top_supplier", Relational.q15TopSupplier,
      s"""WITH q15rev AS (
         |  SELECT l_suppkey, cast(sum($revSql) AS double) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN q15rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM q15rev)""".stripMargin),
    Registered("q17_small_quantity", Relational.q17SmallQuantity,
      """WITH q17pp AS (
        |  SELECT l_partkey AS t_partkey,
        |    0.2e0 * (cast(sum(cast(l_quantity AS decimal(18,4))) AS double)
        |      / count(*)) AS threshold
        |  FROM lineitem GROUP BY 1)
        |SELECT cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double)
        |    / 7.0e0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN q17pp ON l_partkey = t_partkey
        |WHERE p_brand = 'Brand#1' AND l_quantity < threshold""".stripMargin),
    Registered("q_grouping_sets", Relational.qGroupingSets,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  cast(grouping_id(l_returnflag, l_linestatus) AS bigint) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))""".stripMargin),
    Registered("q_lead_lag", Relational.qLeadLag,
      """SELECT user_id, event_id, event_type, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  value - lag(value, 1) OVER w AS delta_prev,
        |  lead(event_type, 1) OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),
    Registered("q2_min_cost_supplier", Relational.q2MinCostSupplier,
      """WITH q2cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
        |  FROM lineitem GROUP BY 1, 2),
        |q2offers AS (
        |  SELECT p_partkey, p_name, s.s_suppkey, s_name, s_acctbal, n_name,
        |    supply_cost
        |  FROM q2cost
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier s ON l_suppkey = s.s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'STANDARD' AND p_size % 5 = 0 AND r_name = 'AFRICA'),
        |q2min AS (
        |  SELECT p_partkey AS mk, min(supply_cost) AS min_cost
        |  FROM q2offers GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
        |FROM q2offers JOIN q2min ON p_partkey = mk AND supply_cost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin),
    Registered("q11_important_parts", Relational.q11ImportantParts,
      """WITH q11v AS (
        |  SELECT l_partkey,
        |    cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS decimal(18,4)) AS val
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_3')
        |  GROUP BY 1),
        |q11t AS (SELECT cast(sum(val) AS decimal(28,4)) AS total,
        |  count(*) AS n FROM q11v)
        |SELECT l_partkey, cast(val AS double) AS part_value
        |FROM q11v, q11t
        |WHERE val * n > total * 2""".stripMargin),
    Registered("q12_ship_priority", Relational.q12ShipPriority,
      """SELECT l_linestatus,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS bigint) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate >= o_orderdate + INTERVAL 45 DAY
        |GROUP BY l_linestatus""".stripMargin),
    Registered("q20_dominant_supplier", Relational.q20DominantSupplier,
      """WITH q20li AS (
        |  SELECT l_partkey, l_suppkey, cast(l_quantity AS decimal(18,4)) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
        |q20pair AS (
        |  SELECT l_partkey, l_suppkey, sum(q) AS pair_qty FROM q20li GROUP BY 1, 2),
        |q20part AS (
        |  SELECT l_partkey AS pk, sum(q) AS part_qty FROM q20li GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM q20pair JOIN q20part ON l_partkey = pk
        |  WHERE pair_qty * 2 > part_qty
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'))""".stripMargin),
  )
}
