package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.Analytics

/** the TPC-H-shaped scan/join/agg analytics surface plus SCD2/point-in-time/data-quality — the `Analytics` slice of the
  * [[SparkEntry]] registry (r19 split: entries verbatim; `queries` and
  * `oracles` pair one-to-one, the driver contract unchanged). */
private[graft] object AnalyticsQueries {

  import SparkEntry.AsOf
  import EntryOracleGen._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "part_fuzzy_matches" -> ((s, dir) => graft.ops.FuzzyJoin.partNameMatches(s, dir)),

    "customer_order_span" -> ((s, dir) => Analytics.customerOrderSpan(s, dir)),

    "market_share" -> ((s, dir) => Analytics.marketShare(s, dir)),

    "repeat_customers" -> ((s, dir) => Analytics.repeatCustomers(s, dir)),

    "churned_customers" -> ((s, dir) => Analytics.churnedCustomers(s, dir)),

    "nation_revenue_share" -> ((s, dir) => Analytics.nationRevenueShare(s, dir)),

    // -- TPC-H-shaped analytics over the star schema
    "pricing_summary" -> ((s, dir) => Analytics.pricingSummary(s, dir)),

    "revenue_by_nation" -> ((s, dir) => Analytics.revenueByNation(s, dir)),

    "top_customers" -> ((s, dir) => Analytics.topCustomers(s, dir)),

    "late_priority_counts" -> ((s, dir) => Analytics.latePriorityCounts(s, dir)),

    "supplier_diversity" -> ((s, dir) => Analytics.supplierDiversity(s, dir)),

    "top_part_per_brand" -> ((s, dir) => Analytics.topPartPerBrand(s, dir)),

    "full_outer_days" -> ((s, dir) => Analytics.activityCalendar(s, dir)),

    "cust_order_dist" -> ((s, dir) => Analytics.customerOrderDistribution(s, dir)),

    "promo_revenue" -> ((s, dir) => Analytics.promoRevenueShare(s, dir)),

    "big_orders" -> ((s, dir) => Analytics.bigOrders(s, dir)),

    "dormant_customers" -> ((s, dir) => Analytics.dormantHighValue(s, dir)),

    "disjunctive_revenue" -> ((s, dir) => Analytics.disjunctiveRevenue(s, dir)),

    "top_suppliers" -> ((s, dir) => Analytics.topSuppliers(s, dir)),

    "ship_latency" -> ((s, dir) => Analytics.shipLatencyByPriority(s, dir)),

    "cheapest_supplier" -> ((s, dir) => Analytics.cheapestSupplier(s, dir)),

    "forecast_revenue" -> ((s, dir) => Analytics.forecastRevenue(s, dir)),

    "nation_trade_volume" -> ((s, dir) => Analytics.nationTradeVolume(s, dir)),

    "product_profit" -> ((s, dir) => Analytics.productProfit(s, dir)),

    "returned_revenue" -> ((s, dir) => Analytics.returnedRevenue(s, dir)),

    "major_parts" -> ((s, dir) => Analytics.majorParts(s, dir)),

    "small_qty_revenue" -> ((s, dir) => Analytics.smallQtyRevenue(s, dir)),

    "dominant_suppliers" -> ((s, dir) => Analytics.dominantSuppliers(s, dir)),

    "sole_late_suppliers" -> ((s, dir) => Analytics.soleLateSuppliers(s, dir)),

    // SCD-2 dimension history: per-customer order-status change log
    "scd2_status" -> ((s, dir) =>
      graft.ops.Scd.scd2(
        Tables.orders(s, dir)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"),
        key = "o_custkey", orderCol = "o_orderdate", tieBreak = "o_orderkey",
        tracked = Seq("o_orderstatus"))
        .select(col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"),
          col("effective_from"), col("effective_to"),
          col("version"), col("is_current"))),

    // dimension-churn report over the SCD2 history
    "version_durations" -> ((s, dir) => {
      val dim = graft.ops.Scd.scd2(
        Tables.orders(s, dir)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"),
        key = "o_custkey", orderCol = "o_orderdate", tieBreak = "o_orderkey",
        tracked = Seq("o_orderstatus"))
      graft.ops.Scd.versionDurations(dim, key = "o_custkey", asOf = AsOf)
    }),

    // point-in-time enrichment: each order carries the status version
    // valid at its own order date (PIT join over the SCD-2 history,
    // planned through the custom physical as-of operator)
    "orders_pit_status" -> ((s, dir) => {
      val dim = graft.ops.Scd.scd2(
        Tables.orders(s, dir)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"),
        key = "o_custkey", orderCol = "o_orderdate", tieBreak = "o_orderkey",
        tracked = Seq("o_orderstatus"))
        .withColumnRenamed("o_orderstatus", "status")
      graft.ops.Scd.pitEnrich(
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        dim, key = "o_custkey", factTs = "o_orderdate",
        dimCols = Seq("status", "version"))
    }),

    // column-level data-quality profile of the landed orders table
    "profile_orders" -> ((s, dir) =>
      graft.ops.Profile.profile(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))),

    // Deequ-style verification suite: the pass/fail gate before publish
    "dq_checks" -> ((s, dir) =>
      graft.ops.Profile.dqChecks(Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.customer(s, dir))),

    // skew-salted join exercised end-to-end: results are salt-invariant,
    // so the oracle is the PLAIN join — only the shuffle layout differs
    "skew_join_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.ops.Skew.saltedJoin(o, c, Seq("o_custkey"), n = 8)
        .groupBy(col("c_mktsegment"))
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_orders"),
          org.apache.spark.sql.functions.sum(
            col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }),

    // bloom-prefiltered join exercised end-to-end: the bitset pass only
    // removes definite non-matches, so the oracle is the PLAIN join
    "bloom_join_agg" -> ((s, dir) => {
      val small = Tables.supplier(s, dir)
        .filter(col("s_suppkey") % 10 === 0).select(col("s_suppkey"))
      val big = Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_extendedprice"))
      graft.ops.BloomJoin.bloomJoin(big, small, "l_suppkey", "s_suppkey")
        .groupBy(col("s_suppkey").as("suppkey"))
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_items"),
          org.apache.spark.sql.functions.sum(
            col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    })
  )

  val oracles: Map[String, String] = Map(

    "part_fuzzy_matches" ->
      """WITH names AS (
        |  SELECT p_name, p_size, count(*) AS n_parts,
        |         string_split(p_name, ' ')[-1] AS blk
        |  FROM part GROUP BY 1, 2)
        |SELECT a.p_size, a.p_name AS name_a, b.p_name AS name_b,
        |       levenshtein(a.p_name, b.p_name) AS edit_dist,
        |       a.n_parts AS n_a, b.n_parts AS n_b
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_size = b.p_size AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 4""".stripMargin,

    "market_share" ->
      """SELECT year(o_orderdate) AS order_year,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |        * (CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS region_revenue,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  round(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |        * (CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END) AS DECIMAL(18,2)))
        |    AS DOUBLE)
        |    / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
        |    AS market_share
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "customer_order_span" ->
      """WITH w AS (
        |  SELECT o_custkey,
        |    first_value(o_orderdate) OVER f AS fo,
        |    nth_value(o_orderdate, 2) OVER f AS so,
        |    last_value(o_orderdate) OVER f AS lo,
        |    COUNT(*) OVER f AS n_orders,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |  WINDOW f AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT o_custkey, fo::date AS first_order, so::date AS second_order,
        |       lo::date AS latest_order, n_orders
        |FROM w WHERE rn = 1""".stripMargin,

    "churned_customers" ->
      """SELECT c_mktsegment, COUNT(*) AS n_churned
        |FROM customer
        |WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "repeat_customers" ->
      """SELECT c_mktsegment, COUNT(*) AS n_repeat
        |FROM customer
        |WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "nation_revenue_share" ->
      """WITH per_nation AS (
        |  SELECT r_name, n_name,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue_dec
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, CAST(revenue_dec AS DOUBLE) AS revenue,
        |  round(CAST(revenue_dec AS DOUBLE)
        |        / CAST(SUM(revenue_dec) OVER (PARTITION BY r_name) AS DOUBLE),
        |        6) AS region_share
        |FROM per_nation ORDER BY r_name, n_name""".stripMargin,

    "scd2_status" ->
      """WITH src AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus FROM orders),
        |lagged AS (
        |  SELECT *, lag(o_orderstatus) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM src),
        |chg AS (SELECT * FROM lagged WHERE prev IS DISTINCT FROM o_orderstatus)
        |SELECT o_custkey AS custkey, o_orderstatus AS status,
        |       o_orderdate AS effective_from,
        |       lead(o_orderdate) OVER w AS effective_to,
        |       CAST(row_number() OVER w AS INT) AS version,
        |       CAST((lead(o_orderdate) OVER w IS NULL) AS INT) AS is_current
        |FROM chg WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "profile_orders" -> {
      val canon = Map("o_totalprice" -> ((e: String) => s"CAST($e AS DECIMAL(18,2))"))
        .withDefaultValue((e: String) => e)
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").map { c =>
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT(*) FILTER (WHERE $c IS NULL) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(${canon(c)(s"MIN($c)")} AS VARCHAR) AS min_str,
           |  CAST(${canon(c)(s"MAX($c)")} AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "")
    },

    "version_durations" ->
      """WITH src AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus FROM orders),
        |lagged AS (
        |  SELECT *, lag(o_orderstatus) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM src),
        |chg AS (SELECT * FROM lagged WHERE prev IS DISTINCT FROM o_orderstatus),
        |d AS (
        |  SELECT o_custkey, o_orderdate AS effective_from,
        |         lead(o_orderdate) OVER
        |           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |           AS effective_to
        |  FROM chg)
        |SELECT o_custkey, count(*) AS n_versions,
        |  round(avg(CASE WHEN effective_to IS NOT NULL
        |    THEN date_diff('day', effective_from, effective_to) END), 6)
        |    AS avg_version_days,
        |  CAST(max(CASE WHEN effective_to IS NULL
        |    THEN date_diff('day', effective_from, DATE '2002-01-01') END) AS INT)
        |    AS current_age_days
        |FROM d GROUP BY 1""".stripMargin,

    "orders_pit_status" ->
      """WITH src AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus FROM orders),
        |lagged AS (
        |  SELECT *, lag(o_orderstatus) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM src),
        |chg AS (SELECT * FROM lagged WHERE prev IS DISTINCT FROM o_orderstatus),
        |dim AS (
        |  SELECT o_custkey, o_orderstatus AS status, o_orderdate AS effective_from,
        |         CAST(row_number() OVER
        |           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS version
        |  FROM chg),
        |eod AS (SELECT * FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY o_custkey, effective_from ORDER BY version DESC) AS rn
        |  FROM dim) WHERE rn = 1)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice,
        |       d.status AS asof_status, d.version AS asof_version
        |FROM orders o ASOF LEFT JOIN eod d
        |  ON o.o_custkey = d.o_custkey AND d.effective_from <= o.o_orderdate""".stripMargin,

    "dq_checks" ->
      """WITH base AS (
        |  SELECT count(*) AS n, count(o_custkey) AS n_cust,
        |         count(DISTINCT o_orderkey) AS n_key,
        |         min(o_totalprice) AS min_price,
        |         sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bad_status
        |  FROM orders),
        |oo AS (SELECT count(*) AS orph_orders FROM orders o
        |       LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |       WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL),
        |ol AS (SELECT count(*) AS orph_lines FROM lineitem l
        |       LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |       WHERE o.o_orderkey IS NULL)
        |SELECT 'row_count' AS "check", n::DOUBLE AS metric, n > 0 AS passed FROM base
        |UNION ALL SELECT 'completeness_o_custkey', round(n_cust::DOUBLE / n, 6), n_cust = n FROM base
        |UNION ALL SELECT 'uniqueness_o_orderkey', round(n_key::DOUBLE / n, 6), n_key = n FROM base
        |UNION ALL SELECT 'min_totalprice_positive', min_price, min_price > 0 FROM base
        |UNION ALL SELECT 'status_in_domain', bad_status::DOUBLE, bad_status = 0 FROM base
        |UNION ALL SELECT 'fk_orders_customer', orph_orders::DOUBLE, orph_orders = 0 FROM oo
        |UNION ALL SELECT 'fk_lineitem_orders', orph_lines::DOUBLE, orph_lines = 0 FROM ol""".stripMargin,

    "pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($revSql) AS DOUBLE) AS sum_disc_price,
         |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
         |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "revenue_by_nation" ->
      s"""SELECT n.n_name,
         |  CAST(SUM($revSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n ON c_nationkey = n.n_nationkey
         |JOIN region ON n.n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "top_customers" ->
      s"""WITH per_cust AS (
         |  SELECT o_custkey, CAST(SUM($revSql) AS DOUBLE) AS revenue, COUNT(*) AS n_items
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1)
         |SELECT c_custkey, c_name, c_mktsegment, revenue, n_items
         |FROM per_cust JOIN customer ON o_custkey = c_custkey
         |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,

    "cust_order_dist" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM per_cust GROUP BY 1 ORDER BY 1""".stripMargin,

    "promo_revenue" ->
      s"""SELECT date_trunc('month', l_shipdate)::date AS ship_month,
         |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revSql
         |               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
         |  CAST(SUM($revSql) AS DOUBLE) AS total_revenue,
         |  round(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revSql
         |               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         |        / CAST(SUM($revSql) AS DOUBLE), 6) AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "big_orders" ->
      """WITH qty AS (
        |  SELECT l_orderkey,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate::date AS o_orderdate, total_qty
        |FROM orders JOIN qty ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    "dormant_customers" ->
      """WITH ab AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer),
        |active AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT c_mktsegment, COUNT(*) AS n_dormant,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        |FROM customer, ab
        |WHERE c_acctbal > avg_bal
        |  AND c_custkey NOT IN (SELECT o_custkey FROM active)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "disjunctive_revenue" ->
      s"""SELECT p_brand, CAST(SUM($revSql) AS DOUBLE) AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 40)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "top_suppliers" ->
      s"""WITH per_supp AS (
         |  SELECT l_suppkey, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, revenue
         |FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
         |WHERE revenue = (SELECT MAX(revenue) FROM per_supp)
         |ORDER BY s_suppkey""".stripMargin,

    "ship_latency" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN datediff('day', o_orderdate::date, l_shipdate::date) <= 30
        |           THEN 1 ELSE 0 END) AS BIGINT) AS shipped_30d,
        |  CAST(SUM(CASE WHEN datediff('day', o_orderdate::date, l_shipdate::date) > 30
        |                 AND datediff('day', o_orderdate::date, l_shipdate::date) <= 90
        |           THEN 1 ELSE 0 END) AS BIGINT) AS shipped_90d,
        |  CAST(SUM(CASE WHEN datediff('day', o_orderdate::date, l_shipdate::date) > 90
        |           THEN 1 ELSE 0 END) AS BIGINT) AS shipped_late,
        |  COUNT(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "cheapest_supplier" ->
      """WITH unit AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS unit_price
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
        |        ORDER BY unit_price, l_suppkey) AS rn FROM unit)
        |SELECT p_partkey, p_name, s_suppkey, s_name,
        |  round(unit_price, 6) AS unit_price
        |FROM r JOIN part ON l_partkey = p_partkey
        |       JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1 AND p_size <= 5 ORDER BY p_partkey""".stripMargin,

    "forecast_revenue" ->
      """SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS revenue_increase,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem
        |WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1999-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,

    "nation_trade_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS ship_year,
         |  CAST(SUM($revSql) AS DOUBLE) AS revenue, COUNT(*) AS n_lineitems
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
         |  AND cn.n_name IN ('NATION_1', 'NATION_2')
         |  AND sn.n_name <> cn.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "product_profit" ->
      s"""SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS ship_year,
         |  CAST(SUM($revSql
         |    - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.8 AS DECIMAL(18,2))
         |           * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
         |    AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,

    "returned_revenue" ->
      s"""SELECT c_custkey, c_name, c_mktsegment,
         |  CAST(SUM($revSql) AS DOUBLE) AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= '2000-10-01' AND o_orderdate < '2001-01-01'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "major_parts" ->
      s"""WITH per_part AS (
         |  SELECT l_partkey, SUM($revSql) AS revenue_dec
         |  FROM lineitem GROUP BY 1),
         |tot AS (SELECT SUM(revenue_dec) AS total_dec, COUNT(*) AS n_parts
         |        FROM per_part)
         |SELECT l_partkey AS p_partkey, CAST(revenue_dec AS DOUBLE) AS revenue
         |FROM per_part, tot
         |WHERE CAST(revenue_dec AS DOUBLE)
         |    > CAST(total_dec AS DOUBLE) / n_parts * 1.5
         |ORDER BY revenue DESC, p_partkey""".stripMargin,

    "small_qty_revenue" ->
      """WITH avg_qty AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
        |    AS avg_weekly,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
        |JOIN avg_qty USING (l_partkey)
        |WHERE l_quantity < avg_qty * 0.5""".stripMargin,

    "dominant_suppliers" ->
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty_dec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_size <= 10
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, SUM(supp_qty_dec) AS part_qty_dec,
        |         COUNT(*) AS n_supps
        |       FROM shipped GROUP BY 1)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM shipped JOIN pt USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE CAST(supp_qty_dec AS DOUBLE)
        |    > CAST(part_qty_dec AS DOUBLE) / n_supps * 2.5
        |ORDER BY s_suppkey""".stripMargin,

    "sole_late_suppliers" ->
      """WITH per_os AS (
        |  SELECT o_orderkey, l_suppkey,
        |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 100 DAY
        |             THEN 1 ELSE 0 END) AS was_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |flagged AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY o_orderkey) AS n_suppliers,
        |    SUM(was_late) OVER (PARTITION BY o_orderkey) AS n_late
        |  FROM per_os)
        |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM flagged JOIN supplier ON l_suppkey = s_suppkey
        |WHERE was_late = 1 AND n_suppliers >= 2 AND n_late = 1
        |GROUP BY 1, 2 ORDER BY n_orders DESC, s_suppkey LIMIT 10""".stripMargin,

    "late_priority_counts" ->
      s"""SELECT o_orderpriority, COUNT(*) AS order_count
         |FROM orders o
         |WHERE EXISTS (
         |  SELECT 1 FROM lineitem l
         |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "supplier_diversity" ->
      s"""SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_suppliers, COUNT(*) AS n_lineitems
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "top_part_per_brand" ->
      s"""WITH per_part AS (
         |  SELECT l_partkey, CAST(SUM($revSql) AS DOUBLE) AS revenue
         |  FROM lineitem GROUP BY 1),
         |ranked AS (
         |  SELECT p_brand, p_partkey, p_name, revenue,
         |    row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rn
         |  FROM per_part JOIN part ON l_partkey = p_partkey)
         |SELECT p_brand, p_partkey, p_name, revenue FROM ranked WHERE rn = 1
         |ORDER BY p_brand""".stripMargin,

    "full_outer_days" ->
      s"""WITH $eventsCte,
         |o AS (SELECT o_orderdate::date AS day, COUNT(*) AS n_orders FROM orders GROUP BY 1),
         |ev AS (SELECT date_trunc('day', ts)::date AS day, COUNT(*) AS n_events FROM e GROUP BY 1)
         |SELECT COALESCE(o.day, ev.day) AS day,
         |       COALESCE(o.n_orders, 0) AS n_orders,
         |       COALESCE(ev.n_events, 0) AS n_events
         |FROM o FULL OUTER JOIN ev ON o.day = ev.day""".stripMargin,

    "skew_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "bloom_join_agg" ->
      """SELECT s_suppkey AS suppkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_suppkey % 10 = 0
        |GROUP BY 1""".stripMargin
  )
}
