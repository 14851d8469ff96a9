package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Query contract (SURVEY.md §7): the engine's named queries, each
  * registered once in [[specs]] together with its correctness oracle.
  *
  * `Verify` writes every query's result plus `oracle_sql.json`, and
  * check.py hash-compares each oracle-backed result against DuckDB run
  * on the same parquet tables (column names must match exactly). Every
  * exact operator has an oracle — even the custom-Expression
  * fingerprints (SimHash, winnow) and the MinHash/LSH and IVF pipelines
  * are replayed exactly in DuckDB arithmetic. Only the four sketch
  * queries have none: their [[NoOracle]] reason names the OpsSpec test
  * that bounds their error, and check.py skips them.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  type Build = (SparkSession, String) => DataFrame

  /** How a query's result is checked: DuckDB SQL whose result must
    * hash-match, or the reason no such SQL exists. */
  sealed trait Oracle
  final case class DuckDb(sql: String) extends Oracle
  final case class NoOracle(reason: String) extends Oracle

  final case class QuerySpec(name: String, build: Build, oracle: Oracle)

  /** One entry per implemented operator from SURVEY.md §2, each with its
    * DuckDB-dialect oracle SQL (same column names as the Spark result —
    * check.py sorts columns by name before hashing). Money aggregates
    * are integer cents (see Relational) so hashes match bit-for-bit;
    * every SUM is wrapped in CAST(... AS BIGINT) because DuckDB's
    * SUM(BIGINT) widens to HUGEINT.
    */
  lazy val specs: Seq[QuerySpec] = Seq(
    // relational core
    QuerySpec("q1_pricing_summary", Relational.q1PricingSummary _, DuckDb("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
             CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
             CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
             COUNT(*) AS count_order
      FROM lineitem GROUP BY 1, 2""")),
    QuerySpec("q3_shipping_priority", Relational.q3ShippingPriority _, DuckDb("""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
      ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""")),
    QuerySpec("q5_local_supplier", Relational.q5LocalSupplier _, DuckDb("""
      SELECT n_name,
             CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY 1""")),
    QuerySpec("q10_returned_items", Relational.q10ReturnedItems _, DuckDb("""
      SELECT c_custkey, c_name, n_name,
             CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2, 3
      ORDER BY revenue_cents DESC, c_custkey LIMIT 20""")),
    QuerySpec("q12_late_by_priority", Relational.q12LateByPriority _, DuckDb("""
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
             CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 0 ELSE 1 END) AS BIGINT) AS ontime_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1""")),
    QuerySpec("q14_promo_revenue", Relational.q14PromoRevenue _, DuckDb("""
      WITH s AS (
        SELECT
          CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
          CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
      )
      SELECT promo_cents, total_cents,
             CAST((1000 * promo_cents) // total_cents AS BIGINT) AS promo_millis
      FROM s""")),
    QuerySpec("q7_volume_shipping", Relational.q7VolumeShipping _, DuckDb("""
      SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      GROUP BY 1, 2, 3""")),
    QuerySpec("q9_product_profit", Relational.q9ProductProfit _, DuckDb("""
      SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(SUM(CAST(ROUND((l_extendedprice*(1.0-l_discount) - p_retailprice*l_quantity*0.5)*100) AS BIGINT)) AS BIGINT) AS profit_cents
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      WHERE p_name LIKE '%widget%'
      GROUP BY 1, 2""")),
    QuerySpec("q19_disjunctive_revenue", Relational.q19DisjunctiveRevenue _, DuckDb("""
      SELECT CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 40)""")),
    QuerySpec("q6_forecast_revenue", Relational.q6ForecastRevenue _, DuckDb("""
      SELECT CAST(SUM(CAST(ROUND(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),
    QuerySpec("q8_market_share", Relational.q8MarketShare _, DuckDb("""
      WITH j AS (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year, n2.n_name AS supp_nation,
               CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT) AS vol
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      ), agg AS (
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS BIGINT) AS nation_cents,
               CAST(SUM(vol) AS BIGINT) AS total_cents
        FROM j GROUP BY 1
      )
      SELECT o_year, nation_cents, total_cents,
             CAST((1000 * nation_cents) // total_cents AS BIGINT) AS share_millis
      FROM agg""")),
    QuerySpec("q_window_top3", Relational.qWindowTop3 _, DuckDb("""
      SELECT o_custkey, o_orderkey, price_cents, rn, CAST(run_cents AS BIGINT) AS run_cents FROM (
        SELECT o_custkey, o_orderkey, price_cents,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY price_cents DESC, o_orderkey) AS rn,
               SUM(price_cents) OVER (PARTITION BY o_custkey ORDER BY price_cents DESC, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cents
        FROM (SELECT o_custkey, o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents FROM orders) t
      ) w WHERE rn <= 3""")),
    QuerySpec("q_window_funcs", Relational.qWindowFuncs _, DuckDb("""
      SELECT o_custkey, o_orderkey, pc,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk,
             NTILE(4) OVER w AS quartile,
             PERCENT_RANK() OVER w AS prank,
             CUME_DIST() OVER w AS cdist,
             FIRST_VALUE(pc) OVER wf AS min_pc,
             LAST_VALUE(pc) OVER wf AS max_pc,
             LAG(pc, 1) OVER w AS prev_pc,
             LEAD(pc, 1) OVER w AS next_pc
      FROM (SELECT o_custkey, o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS pc FROM orders) t
      WINDOW w AS (PARTITION BY o_custkey ORDER BY pc, o_orderkey),
             wf AS (PARTITION BY o_custkey ORDER BY pc, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),
    QuerySpec("q_median", Relational.qMedian _, DuckDb("""
      SELECT o_orderstatus,
             quantile_cont(pc, 0.5) AS median_cents,
             quantile_cont(pc, 0.9) AS p90_cents,
             COUNT(*) AS n
      FROM (SELECT o_orderstatus, CAST(ROUND(o_totalprice*100) AS BIGINT) AS pc FROM orders) t
      GROUP BY 1""")),
    QuerySpec("q_rollup", Relational.qRollup _, DuckDb("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""")),
    QuerySpec("q_cube", Relational.qCube _, DuckDb("""
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, COALESCE(l_linestatus, 'ALL') AS linestatus,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, COUNT(*) AS cnt
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""")),
    QuerySpec("q_grouping_sets", Relational.qGroupingSets _, DuckDb("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS cnt
      FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")),
    QuerySpec("q_setops", Relational.qSetOps _, DuckDb("""
      SELECT o_custkey FROM (
        (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        UNION
        (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      ) t""")),
    QuerySpec("q_distinct_agg", Relational.qDistinctAgg _, DuckDb("""
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
      FROM orders GROUP BY 1""")),
    QuerySpec("q_semi_join", Relational.qSemiJoin _, DuckDb("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""")),
    QuerySpec("q_anti_join", Relational.qAntiJoin _, DuckDb("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),
    QuerySpec("q_scalar_part", Relational.qScalarPart _, DuckDb("""
      SELECT p_partkey, UPPER(p_brand) AS brand_u, LENGTH(p_name) AS name_len,
             SUBSTRING(p_type, 1, 5) AS type5, p_size % 7 AS size_mod,
             CAST(ROUND(ABS(p_retailprice - 1000.0)*100) AS BIGINT) AS absdiff_cents,
             CASE WHEN p_size > 25 THEN 'L' WHEN p_size > 10 THEN 'M' ELSE 'S' END AS size_class
      FROM part""")),
    QuerySpec("q_date_funcs", Relational.qDateFuncs _, DuckDb("""
      SELECT o_orderkey, EXTRACT(year FROM o_orderdate) AS yr, EXTRACT(month FROM o_orderdate) AS mo,
             EXTRACT(day FROM o_orderdate) AS dom, strftime(o_orderdate, '%Y-%m') AS ym,
             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
      FROM orders""")),
    QuerySpec("q_case_having", Relational.qCaseHaving _, DuckDb("""
      SELECT c_nationkey, COUNT(*) AS n_cust,
             CAST(SUM(CASE WHEN c_acctbal > 0 THEN CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS pos_bal_cents,
             CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM customer GROUP BY 1 HAVING COUNT(*) >= 5""")),
    QuerySpec("q_above_avg", Relational.qAboveAvg _, DuckDb("""
      SELECT o_orderkey, o_custkey, pc FROM (
        SELECT o_orderkey, o_custkey, pc,
               SUM(pc) OVER (PARTITION BY o_custkey) AS s,
               COUNT(*) OVER (PARTITION BY o_custkey) AS n
        FROM (SELECT o_orderkey, o_custkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS pc FROM orders) t
      ) w WHERE pc * n > s""")),
    QuerySpec("q_custdist", Relational.qCustDist _, DuckDb("""
      SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
      ) t GROUP BY c_count""")),
    QuerySpec("q_topk_parts", Relational.qTopKParts _, DuckDb("""
      SELECT p_partkey, p_name, CAST(ROUND(p_retailprice*100) AS BIGINT) AS price_cents
      FROM part ORDER BY price_cents DESC, p_partkey LIMIT 20""")),
    QuerySpec("q_union_all", Relational.qUnionAll _, DuckDb("""
      SELECT bucket, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust FROM (
        SELECT o_custkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_custkey, 'high' AS bucket FROM orders WHERE o_orderpriority = '2-HIGH'
      ) t GROUP BY 1""")),
    QuerySpec("q_cross_join", Relational.qCrossJoin _, DuckDb("""
      SELECT r_name, n_name, CAST(r_regionkey = n_regionkey AS BIGINT) AS is_home
      FROM region CROSS JOIN nation""")),
    QuerySpec("q_null_handling", Relational.qNullHandling _, DuckDb("""
      SELECT c_custkey,
             COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(bldg)') AS seg_or_default,
             CAST((CASE WHEN c_acctbal < 0 THEN c_acctbal ELSE NULL END) IS NULL AS BIGINT) AS non_neg,
             CAST(c_nationkey IS NOT DISTINCT FROM 0 AS BIGINT) AS is_nation0
      FROM customer""")),
    QuerySpec("q_listagg", Relational.qListAgg _, DuckDb("""
      SELECT c_nationkey,
             string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
             COUNT(*) AS n
      FROM customer GROUP BY 1""")),
    QuerySpec("q_pivot", Relational.qPivot _, DuckDb("""
      SELECT o_orderpriority,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_fulfilled,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending
      FROM orders GROUP BY 1""")),
    QuerySpec("q_unpivot", Relational.qUnpivot _, DuckDb("""
      WITH p AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_fulfilled,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending
        FROM orders GROUP BY 1)
      SELECT o_orderpriority, status, n FROM (
        SELECT o_orderpriority, 'open' AS status, n_open AS n FROM p
        UNION ALL SELECT o_orderpriority, 'fulfilled', n_fulfilled FROM p
        UNION ALL SELECT o_orderpriority, 'pending', n_pending FROM p) u
      WHERE n > 0""")),
    QuerySpec("q_approx_sketch", Relational.qApproxSketch _, NoOracle(
      "HLL++ distinct counts and approx-median are approximate by design; bounded by " +
      "OpsSpec \"approx sketches: HLL++ and approx-median stay within error bounds\"")),
    // subquery surface (decorrelation: EXISTS/NOT IN/IN-agg/scalars/LATERAL)
    QuerySpec("q_exists_lateship", SubQueries.qExistsLateShip _, DuckDb("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 100 DAY)
      GROUP BY o_orderpriority""")),
    QuerySpec("q_notin_urgent", SubQueries.qNotInUrgent _, DuckDb("""
      SELECT c_mktsegment, COUNT(*) AS n_cust
      FROM customer
      WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment""")),
    QuerySpec("q_in_large_orders", SubQueries.qInLargeOrders _, DuckDb("""
      SELECT c_name, o_orderkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 200)
      GROUP BY c_name, o_orderkey""")),
    QuerySpec("q_scalar_small_qty", SubQueries.qScalarSmallQty _, DuckDb("""
      SELECT p_brand, COUNT(*) AS n_small,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE CAST(l_quantity AS BIGINT) * 5 *
            (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
            < (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
               FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      GROUP BY p_brand""")),
    QuerySpec("q_scalar_idle_customers", SubQueries.qScalarIdleCustomers _, DuckDb("""
      SELECT c_mktsegment, COUNT(*) AS n_cust,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
      FROM customer
      WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
            (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
            > (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment""")),
    QuerySpec("q_lateral_top_supp", SubQueries.qLateralTopSupp _, DuckDb("""
      SELECT n_name, s_name,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS bal_cents
      FROM nation,
      LATERAL (
        SELECT s_name, s_acctbal FROM supplier
        WHERE s_nationkey = n_nationkey
        ORDER BY s_acctbal DESC, s_name LIMIT 2) t""")),
    QuerySpec("q15_top_supplier", SubQueries.qTopRevenueSupplier _, DuckDb("""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= DATE '2000-01-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_cents
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE total_cents = (SELECT MAX(total_cents) FROM rev)""")),
    QuerySpec("q21_sole_late_supplier", SubQueries.qSoleLateSupplier _, DuckDb("""
      SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY s_name""")),
    QuerySpec("q2_min_balance_supplier", SubQueries.qMinBalanceSupplier _, DuckDb("""
      WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      mins AS (
        SELECT ps2.l_partkey, MIN(CAST(ROUND(s2.s_acctbal*100) AS BIGINT)) AS min_cents
        FROM ps ps2 JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        GROUP BY 1)
      SELECT p_partkey, s_suppkey, s_name,
             CAST(ROUND(s_acctbal*100) AS BIGINT) AS acct_cents
      FROM part
      JOIN ps ON p_partkey = ps.l_partkey
      JOIN supplier ON s_suppkey = ps.l_suppkey
      JOIN mins ON mins.l_partkey = p_partkey
      WHERE p_size = 10 AND CAST(ROUND(s_acctbal*100) AS BIGINT) = min_cents""")),
    QuerySpec("q11_important_parts", SubQueries.qImportantParts _, DuckDb("""
      WITH pv AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM lineitem GROUP BY l_partkey)
      SELECT l_partkey, value_cents
      FROM pv
      WHERE 1500 * value_cents > (SELECT CAST(SUM(value_cents) AS BIGINT) FROM pv)""")),
    QuerySpec("q16_supplier_count", SubQueries.qSupplierCount _, DuckDb("""
      SELECT p_brand, p_type, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM part JOIN lineitem ON p_partkey = l_partkey
      WHERE p_size IN (1, 5, 10, 15, 20)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type""")),
    QuerySpec("q20_dominant_supplier", SubQueries.qDominantSupplier _, DuckDb("""
      WITH pq AS (
        SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        FROM lineitem GROUP BY l_partkey, l_suppkey),
      pt AS (
        SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tq
        FROM lineitem GROUP BY l_partkey)
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_suppkey IN (
        SELECT pq.l_suppkey
        FROM pq JOIN pt USING (l_partkey) JOIN part ON p_partkey = pq.l_partkey
        WHERE p_name LIKE 'red%' AND 8 * sq > tq)""")),
    // dbt generic data tests as operators
    QuerySpec("t_unique", Relational.tUnique _, DuckDb("""
      SELECT l_orderkey AS value, COUNT(*) AS n FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1""")),
    QuerySpec("t_not_null", Relational.tNotNull _, DuckDb("""
      SELECT CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
             CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey
      FROM lineitem""")),
    QuerySpec("t_accepted_values", Relational.tAcceptedValues _, DuckDb("""
      SELECT o_orderstatus AS value, COUNT(*) AS n FROM orders
      WHERE o_orderstatus NOT IN ('O', 'F', 'P') GROUP BY 1""")),
    QuerySpec("t_relationships", Relational.tRelationships _, DuckDb("""
      SELECT COUNT(*) AS n_orphans FROM lineitem
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)""")),
    // event-stream / incremental-materialization semantics
    QuerySpec("q_events_daily", Events.qEventsDaily _, DuckDb("""
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
             COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2""")),
    QuerySpec("q_sessionize", Events.qSessionize _, DuckDb("""
      SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
        SELECT user_id,
               CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events) e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ) x GROUP BY 1""")),
    QuerySpec("q_merge_latest", Events.qMergeLatest _, DuckDb("""
      SELECT user_id, event_type AS last_type, us AS last_us FROM (
        SELECT user_id, event_type, us,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        FROM (SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000 AS us FROM events) e
      ) t WHERE rn = 1""")),
    QuerySpec("q_scd2", Events.qScd2 _, DuckDb("""
      SELECT user_id, event_type AS state, us AS valid_from_us,
             LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us
      FROM (
        SELECT user_id, event_type, us, event_id,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        FROM (SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000 AS us FROM events) e
      ) c WHERE prev_type IS NULL OR event_type <> prev_type""")),
    QuerySpec("q_events_json", Events.qEventsJson _, DuckDb("""
      SELECT event_type,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             COUNT(*) AS n,
             MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY 1""")),
    QuerySpec("q_skew_salted_agg", ScaleOps.qSkewSaltedAgg _, DuckDb("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM events GROUP BY 1""")),
    QuerySpec("q_exact_quantiles", ScaleOps.qExactQuantiles _, DuckDb("""
      WITH src AS (
        SELECT 'quantity' AS col_name, CAST(l_quantity AS BIGINT) AS v FROM lineitem
        UNION ALL
        SELECT 'price_cents', CAST(ROUND(l_extendedprice * 100) AS BIGINT) FROM lineitem
      ), h AS (
        SELECT col_name, v, COUNT(*) AS cnt FROM src GROUP BY 1, 2
      ), c AS (
        SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n FROM src GROUP BY 1
      ), cum AS (
        SELECT col_name, v, SUM(cnt) OVER (PARTITION BY col_name ORDER BY v) AS cu
        FROM h
      ), qs(q) AS (VALUES (25), (50), (75), (99))
      SELECT cum.col_name, CAST(qs.q AS BIGINT) AS q, MIN(cum.v) AS value
      FROM cum JOIN c USING (col_name) CROSS JOIN qs
      WHERE 100 * cum.cu >= qs.q * c.n
      GROUP BY 1, 2""")),
    QuerySpec("q_quantile_sketch", ScaleOps.qQuantileSketch _, NoOracle(
      "quantile-sketch ranks are approximate by design; bounded by " +
      "OpsSpec \"quantile sketch: rank error bounded and partitioning-stable at 1/4/32\"")),
    QuerySpec("q_equidepth_bins", ScaleOps.qEquidepthBins _, DuckDb("""
      WITH src AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
      ), h AS (
        SELECT cents, COUNT(*) AS cnt FROM src GROUP BY 1
      ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src
      ), cum AS (
        SELECT cents, SUM(cnt) OVER (ORDER BY cents) AS cu FROM h
      ), e AS (
        SELECT (SELECT MIN(cents) FROM cum, c WHERE 100 * cu >= 25 * n) AS e1,
               (SELECT MIN(cents) FROM cum, c WHERE 100 * cu >= 50 * n) AS e2,
               (SELECT MIN(cents) FROM cum, c WHERE 100 * cu >= 75 * n) AS e3
      ), b AS (
        SELECT CAST(CASE WHEN cents <= e1 THEN 0 WHEN cents <= e2 THEN 1
                         WHEN cents <= e3 THEN 2 ELSE 3 END AS BIGINT) AS bin,
               cents
        FROM src, e
      )
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(cents) AS min_cents, MAX(cents) AS max_cents,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM b GROUP BY 1""")),
    QuerySpec("q_attribution", Events.qAttribution _, DuckDb("""
      WITH e AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
      ), buys AS (
        SELECT user_id, event_id AS purchase_id, us AS t_buy, cents
        FROM e WHERE event_type = 'purchase'
      ), views AS (
        SELECT user_id, event_id AS view_id, us AS t_view
        FROM e WHERE event_type = 'view'
      ), t AS (
        SELECT b.user_id, b.purchase_id, b.t_buy, b.cents, v.view_id, v.t_view
        FROM buys b JOIN views v USING (user_id)
        WHERE v.t_view <= b.t_buy AND b.t_buy - v.t_view <= 604800000000
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
                    ORDER BY t_view DESC, view_id DESC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touch
        FROM t
      ), a AS (
        SELECT user_id, purchase_id, cents, n_touch,
               view_id AS last_touch_id, t_buy - t_view AS last_touch_gap_us
        FROM ranked WHERE rn = 1
      )
      SELECT b.user_id, b.purchase_id, b.cents,
             COALESCE(a.n_touch, 0) AS n_touch,
             COALESCE(a.last_touch_id, -1) AS last_touch_id,
             COALESCE(a.last_touch_gap_us, -1) AS last_touch_gap_us,
             COALESCE(b.cents // a.n_touch, 0) AS linear_cents_per_touch,
             COALESCE(b.cents // a.n_touch + b.cents % a.n_touch, 0) AS last_touch_cents
      FROM buys b LEFT JOIN a ON a.user_id = b.user_id AND a.purchase_id = b.purchase_id""")),
    QuerySpec("q_skew_salted_join", ScaleOps.qSkewSaltedJoin _, DuckDb("""
      WITH d AS (
        SELECT event_type,
               CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS type_sum_cents,
               COUNT(*) AS type_n
        FROM events GROUP BY 1)
      SELECT e.event_type, COUNT(*) AS n,
             CAST(SUM(CAST(CAST(ROUND(e.value*100) AS BIGINT) * d.type_n > d.type_sum_cents AS BIGINT)) AS BIGINT) AS n_above_avg
      FROM events e JOIN d ON e.event_type = d.event_type
      GROUP BY 1""")),
    QuerySpec("q_heavy_users", ScaleOps.qHeavyUsers _, NoOracle(
      "Misra-Gries heavy-hitter estimates are approximate by design; bounded by " +
      "OpsSpec \"q_heavy_users: sketch rows respect bounds against exact counts\"")),
    QuerySpec("q_approx_distinct", ScaleOps.qApproxDistinct _, NoOracle(
      "the HLL++ distinct estimate is approximate by design; bounded by " +
      "OpsSpec \"approx distinct: HLL estimate within rsd bound, partitioning-invariant\"")),
    QuerySpec("q_cms_counts", ((s, d) => ScaleOps.qCmsCounts(s, d)), DuckDb("""
      WITH tok AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS t
        FROM documents
      ), tk AS (
        SELECT t FROM tok WHERE t <> ''
      ), bb AS (
        SELECT t, r, ((h % 16) + 16) % 16 AS b FROM (
          SELECT t, r,
                 (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS h
          FROM (
            SELECT t, r,
                   ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || t), 1, 8))::BIGINT AS hi,
                   ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || t), 9, 8))::BIGINT AS lo
            FROM tk CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rs) x) y
      ), cnt AS (
        SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c FROM bb GROUP BY 1, 2
      ), probes AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n_true FROM tk GROUP BY t ORDER BY t LIMIT 20
      ), pb AS (
        SELECT DISTINCT t, r, b FROM bb WHERE t IN (SELECT t FROM probes)
      )
      SELECT p.t AS token, p.n_true, MIN(cnt.c) AS est
      FROM probes p JOIN pb USING (t) JOIN cnt USING (r, b)
      GROUP BY 1, 2""")),
    QuerySpec("q_zorder_layout", ScaleOps.qZorderLayout _, DuckDb {
      val bits = graft.operators.ScaleOps.ZorderBits
      val fb = graft.operators.ScaleOps.ZorderFileBits
      val gmax = (1 << bits) - 1
      val z = (0 until bits).map(i =>
        s"((((xn >> $i) & 1) << ${2 * i}) | (((yn >> $i) & 1) << ${2 * i + 1}))"
      ).mkString(" | ")
      s"""
      WITH b AS (
        SELECT MIN(l_partkey) AS min_p, MAX(l_partkey) AS max_p,
               MIN(l_suppkey) AS min_s, MAX(l_suppkey) AS max_s
        FROM lineitem
      ), n AS (
        SELECT l_partkey, l_suppkey,
               ((l_partkey - min_p) * $gmax) // greatest(max_p - min_p, 1) AS xn,
               ((l_suppkey - min_s) * $gmax) // greatest(max_s - min_s, 1) AS yn
        FROM lineitem CROSS JOIN b
      )
      SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
             MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
      FROM (SELECT l_partkey, l_suppkey, ($z) >> ${2 * bits - fb} AS file_id FROM n) t
      GROUP BY 1"""
    }),
    // the Spark side round-trips through the versioned store (write
    // range-clustered + stats, read through the manifest index with
    // file skipping); the oracle filters the raw parquet — equality
    // proves skipping and the store round trip change nothing
    QuerySpec("q_store_skipping", ScaleOps.qStoreSkipping _, DuckDb("""
      SELECT l_orderkey, l_partkey, CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
      WHERE l_orderkey < 1000 AND CAST(l_quantity AS DECIMAL(12,2)) < 24""")),
    // the Spark side lands lineitem PARTITIONED by returnflag, OPTIMIZEs
    // with a two-column Z-order, and answers through partition pruning +
    // file skipping; the oracle filters the raw parquet — equality
    // proves the whole layout pipeline changes nothing
    QuerySpec("q_store_zorder", ScaleOps.qStoreZorder _, DuckDb("""
      SELECT l_orderkey, l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
      WHERE l_returnflag = 'A' AND l_partkey < 200 AND l_suppkey < 15""")),
    QuerySpec("q_asof_join", Events.qAsofJoin _, DuckDb("""
      WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events)
      SELECT a.user_id, a.event_id, a.us, b.us AS purchase_us, a.us - b.us AS lag_us
      FROM (SELECT user_id, event_id, us FROM e WHERE event_type = 'click') a
      ASOF LEFT JOIN (SELECT user_id, us FROM e WHERE event_type = 'purchase') b
        ON a.user_id = b.user_id AND a.us >= b.us""")),
    QuerySpec("q_asof_forward", Events.qAsofForward _, DuckDb("""
      WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events)
      SELECT a.user_id, a.event_id, a.us, b.us AS purchase_us, b.us - a.us AS lead_us
      FROM (SELECT user_id, event_id, us FROM e WHERE event_type = 'click') a
      ASOF LEFT JOIN (SELECT user_id, us FROM e WHERE event_type = 'purchase') b
        ON a.user_id = b.user_id AND a.us <= b.us""")),
    QuerySpec("q_range_join", Events.qRangeJoin _, DuckDb("""
      WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events)
      SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id, c.us - v.us AS delta_us
      FROM (SELECT user_id, event_id, us FROM e WHERE event_type = 'view') v
      JOIN (SELECT user_id, event_id, us FROM e WHERE event_type = 'click') c
        ON v.user_id = c.user_id AND c.us >= v.us AND c.us - v.us <= 3600000000
           AND c.event_id <> v.event_id""")),
    QuerySpec("q_range_join_auto", Events.qRangeJoinAuto _, DuckDb("""
      WITH e AS (SELECT event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
      v AS (SELECT event_id AS view_id, us AS view_us FROM e WHERE event_type = 'view'),
      c AS (SELECT event_id AS click_id, us AS click_us FROM e WHERE event_type = 'click')
      SELECT COUNT(*) AS n_pairs,
             COUNT(DISTINCT click_id) AS n_clicks,
             COUNT(DISTINCT view_id) AS n_views,
             CAST(SUM(click_us - view_us) AS BIGINT) AS sum_delta_us
      FROM c JOIN v ON view_us <= click_us AND click_us - view_us <= 3600000000""")),
    QuerySpec("q_funnel", Events.qFunnel _, DuckDb("""
      WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
      v AS (SELECT user_id, MIN(us) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, MIN(us) AS t_click FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND us > t_view GROUP BY 1),
      b AS (SELECT e.user_id, t_click, MIN(us) AS t_buy FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND us > t_click GROUP BY 1, 2)
      SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
             (SELECT COUNT(*) FROM c) AS n_click_users,
             (SELECT COUNT(*) FROM b) AS n_buy_users,
             (SELECT CAST(COALESCE(SUM(t_buy - t_click), 0) AS BIGINT) FROM b) AS sum_buy_lag_us""")),
    QuerySpec("q_cohort_retention", Events.qCohortRetention _, DuckDb("""
      WITH e AS (
        SELECT user_id, (epoch_ns(ts) // 1000) // 604800000000 AS week FROM events
      ), fs AS (
        SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1
      )
      SELECT cohort_week, e.week - cohort_week AS weeks_since,
             COUNT(DISTINCT e.user_id) AS n_users
      FROM e JOIN fs USING (user_id)
      GROUP BY 1, 2""")),
    QuerySpec("q_event_transitions", Events.qEventTransitions _, DuckDb("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type FROM events
      ), t AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
        FROM e)
      SELECT from_type, to_type, COUNT(*) AS n
      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2""")),
    QuerySpec("q_rolling_window", Events.qRollingWindow _, DuckDb("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
               CAST(ROUND(value*100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS n_24h,
             CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_24h
      FROM e""")),
    // text analysis
    QuerySpec("txt_stats", TextOps.txtStats _, DuckDb("""
      SELECT doc_id, LENGTH(text) AS n_chars_m,
             len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS n_tokens_ws,
             len(regexp_extract_all(text, '[\p{L}]+')) AS n_words,
             len(regexp_extract_all(text, '[0-9]')) AS n_digits
      FROM documents""")),
    QuerySpec("txt_quality", TextOps.txtQuality _, DuckDb("""
      SELECT doc_id, len, n_punct, n_letter, n_tok,
             CASE WHEN len > 0 THEN CAST(n_punct AS DOUBLE) / len ELSE 0.0 END AS punct_ratio,
             CASE WHEN len > 0 THEN CAST(n_letter AS DOUBLE) / len ELSE 0.0 END AS letter_ratio
      FROM (
        SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
               CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS BIGINT) AS n_punct,
               CAST(len(regexp_extract_all(text, '[\p{L}]')) AS BIGINT) AS n_letter,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        FROM documents
      ) t""")),
    QuerySpec("txt_langid", TextOps.txtLangId _, DuckDb(LangIdSql)),
    QuerySpec("txt_fingerprint", TextOps.txtFingerprint _, DuckDb("""
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
             LENGTH(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_len
      FROM documents""")),
    // floored-bits char-distribution entropy (TextOps.txtCharEntropy):
    // H = n·bitlen(n) − Σ c·bitlen(c) over non-space normalized chars
    QuerySpec("txt_char_entropy", TextOps.txtCharEntropy _, DuckDb("""
      WITH norm AS (
        SELECT doc_id,
               replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ', '') AS t
        FROM documents
      ), ch AS (
        SELECT doc_id, substring(t, CAST(i AS INT), 1) AS ch
        FROM norm, UNNEST(range(1, len(t) + 1)) AS u(i)
        WHERE len(t) > 0
      ), cnt AS (
        SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c FROM ch GROUP BY 1, 2
      ), agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS distinct_chars,
               CAST(SUM(c * len(bin(c))) AS BIGINT) AS sum_cb
        FROM cnt GROUP BY 1
      ), e AS (
        SELECT doc_id, n_chars, distinct_chars,
               CAST(n_chars * len(bin(n_chars)) - sum_cb AS BIGINT) AS entropy_bits
        FROM agg
      )
      SELECT doc_id, n_chars, distinct_chars, entropy_bits,
             CAST((1000 * entropy_bits) // n_chars AS BIGINT) AS entropy_millibits,
             CAST((1000 * entropy_bits) // n_chars < 1500 AS BIGINT) AS low_entropy,
             CAST((1000 * entropy_bits) // n_chars > 4500 AS BIGINT) AS high_entropy
      FROM e""")),
    QuerySpec("txt_bpe_tokens", TextOps.txtBpeTokens _, DuckDb("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s'']+')) AS BIGINT) AS n_pieces,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_alpha_pieces,
             CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_pieces
      FROM documents""")),
    QuerySpec("txt_winnow", TextOps.txtWinnow _, DuckDb("""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
      ), p AS (
        SELECT doc_id, t, len(t) AS n, least(16, len(t)) AS w FROM d
      ), f AS (
        SELECT doc_id,
          CASE WHEN n = 0 THEN 0 ELSE
            CAST(list_min(list_transform(
              list_transform(range(1, n - w + 2), p2 ->
                list_sum(list_transform(range(0, w), j -> ord(t[p2+j]) *
                  [1::HUGEINT,1099511628211::HUGEINT,956575116354345::HUGEINT,624165263380053675::HUGEINT,11527715348014283921::HUGEINT,913917546033277539::HUGEINT,15895002104753931833::HUGEINT,14218562807570617051::HUGEINT,2232315406967589409::HUGEINT,10622396531520239123::HUGEINT,1775861927039214153::HUGEINT,3510945102848213515::HUGEINT,17673114087473428657::HUGEINT,10372170898125509827::HUGEINT,104005896588101465::HUGEINT,2442422338666789947::HUGEINT][w-j]))
                % 18446744073709551616::HUGEINT),
              hu -> CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
                              THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT)))
            AS BIGINT) END AS fp
        FROM p
      ), g AS (
        SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper FROM f GROUP BY 1
      )
      SELECT f.doc_id, f.fp, g.n_docs, g.keeper FROM f JOIN g USING (fp)""")),
    // txt_winnow's rolling Karp-Rabin hash (functions.RollingMinHash:
    // h = h*FNV_PRIME + byte, wraparound mod 2^64, signed min over all
    // 16-byte windows) replayed with HUGEINT mod-2^64 arithmetic; the
    // literal list is FNV_PRIME^0..^15 mod 2^64
    // chunk starts = stride multiples < n (one [0] chunk when n = 0);
    // list_slice end-inclusive == Spark slice(start, len) element-for-element
    QuerySpec("txt_chunk_overlap", ((s, dir) => TextOps.txtChunkOverlap(s, dir)), DuckDb("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ), s AS (
        SELECT doc_id, toks, len(toks) AS n FROM t
      )
      SELECT doc_id,
             CAST(st // 24 AS BIGINT) AS chunk_id,
             CAST(st AS BIGINT) AS start_tok,
             CAST(GREATEST(LEAST(32, n - st), 0) AS BIGINT) AS n_tok,
             array_to_string(list_slice(toks, st + 1, st + 32), ' ') AS chunk_text
      FROM s, unnest(range(0, GREATEST(n, 1), 24)) AS u(st)""")),
    QuerySpec("txt_pipeline_clean", TextOps.txtPipelineClean _, DuckDb("""
      WITH q AS (
        SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok,
               CASE WHEN LENGTH(text) > 0
                    THEN CAST(len(regexp_extract_all(text, '[\p{L}]')) AS DOUBLE) / LENGTH(text)
                    ELSE 0.0 END AS letter_ratio
        FROM documents
      ), lg AS (
        SELECT doc_id, lang,
               CASE WHEN zh_hits > 0 THEN 'zh'
                    WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
                    WHEN es_hits >= fr_hits THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM (
          SELECT doc_id, lang,
                 len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh_hits,
                 len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|was|for|with)\b')) AS en_hits,
                 len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS de_hits,
                 len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|un|una|que|y)\b')) AS es_hits,
                 len(regexp_extract_all(lower(text), '\b(le|les|des|est|une|dans|et|du)\b')) AS fr_hits
          FROM documents) h
      ), kp AS (
        SELECT doc_id,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS keep
        FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
              FROM documents) f
      )
      SELECT q.doc_id, lg.lang, q.len, q.n_tok
      FROM q JOIN lg ON q.doc_id = lg.doc_id JOIN kp ON q.doc_id = kp.doc_id
      WHERE q.letter_ratio > 0.5 AND q.len >= 50
        AND lg.pred_lang = lg.lang AND kp.keep = 1
        AND q.n_tok BETWEEN 10 AND 10000""")),
    QuerySpec("txt_char_lm_score", TextOps.charLmScoredResident _, DuckDb(CharLmSql)),
    QuerySpec("txt_ccnet_buckets", TextOps.txtCcnetBuckets _, DuckDb(s"""
      WITH scored AS ($CharLmSql),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
      h AS (SELECT avg_millibits AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM scored GROUP BY 1),
      cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cu FROM h),
      t AS (SELECT MIN(CASE WHEN 3 * cu >= (SELECT n FROM c) THEN v END) AS t1,
                   MIN(CASE WHEN 3 * cu >= 2 * (SELECT n FROM c) THEN v END) AS t2
            FROM cum)
      SELECT doc_id, avg_millibits,
             CASE WHEN avg_millibits <= t.t1 THEN 'head'
                  WHEN avg_millibits <= t.t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM scored, t""")),
    QuerySpec("txt_ccnet_lang", TextOps.txtCcnetLangBuckets _, DuckDb(s"""
      WITH scored AS ($CharLmSql),
      sc AS (
        SELECT s.doc_id, d.lang, s.avg_millibits
        FROM scored s JOIN documents d ON d.doc_id = s.doc_id
      ), h AS (
        SELECT lang, avg_millibits AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM sc GROUP BY 1, 2
      ), cum AS (
        SELECT lang, v,
               CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cu,
               CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
        FROM h
      ), t AS (
        SELECT lang,
               MIN(CASE WHEN 3 * cu >= n THEN v END) AS t1,
               MIN(CASE WHEN 3 * cu >= 2 * n THEN v END) AS t2
        FROM cum GROUP BY 1
      )
      SELECT sc.doc_id, sc.lang, sc.avg_millibits,
             CASE WHEN sc.avg_millibits <= t.t1 THEN 'head'
                  WHEN sc.avg_millibits <= t.t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM sc JOIN t ON sc.lang = t.lang""")),
    QuerySpec("txt_quality_classify", TextOps.txtQualityClassify _, DuckDb {
      val vals = graft.operators.TextOps.QualityWeights
        .map { case (t, w) => s"('$t', ${w}::BIGINT)" }.mkString(", ")
      val thr = graft.operators.TextOps.QualityThresholdMilli
      s"""
      WITH wts(term, w_milli) AS (VALUES $vals),
      d AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS w
        FROM documents
      ), base AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM d
      ), hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, CAST(SUM(w_milli) AS BIGINT) AS hit_milli
        FROM (SELECT doc_id, unnest(w) AS term FROM d) t JOIN wts USING (term)
        GROUP BY 1
      )
      SELECT b.doc_id, b.n_tokens,
             COALESCE(n_hits, 0) AS n_hits,
             COALESCE(hit_milli, 0) AS hit_milli,
             CASE WHEN COALESCE(hit_milli, 0) >= $thr * b.n_tokens THEN 'keep' ELSE 'drop' END AS label
      FROM base b LEFT JOIN hits USING (doc_id)"""
    }),
    QuerySpec("txt_bpe_train", TextOps.txtBpeTrain _, DuckDb(BpeTrainSql)),
    QuerySpec("txt_bpe_segment", TextOps.txtBpeSegment _, DuckDb(BpeSegmentSql)),
    QuerySpec("txt_pmi_collocations", TextOps.txtPmiCollocations _, DuckDb("""
      WITH words AS (
        SELECT list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '') AS w
        FROM documents
      ), uni AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(w) AS term FROM words) GROUP BY 1
      ), ntok AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM uni
      ), bgrams AS (
        SELECT w[i+1] AS w1, w[i+2] AS w2
        FROM words, unnest(range(0, len(w)-1)) t(i)
        WHERE len(w) >= 2
      ), bg AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt_ab
        FROM bgrams GROUP BY 1, 2 HAVING COUNT(*) >= 5
      )
      SELECT b.w1, b.w2, b.cnt_ab,
             CAST(len(bin(b.cnt_ab)) + len(bin(n.n_tokens))
                - len(bin(a.cnt)) - len(bin(c.cnt)) AS BIGINT) AS pmi_bits
      FROM bg b
      JOIN uni a ON a.term = b.w1
      JOIN uni c ON c.term = b.w2, ntok n
      ORDER BY pmi_bits DESC, cnt_ab DESC, w1, w2
      LIMIT 20""")),
    QuerySpec("txt_ngram_diversity", TextOps.txtNgramDiversity _, DuckDb("""
      WITH words AS (
        SELECT source, list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '') AS w
        FROM documents
      ), grams AS (
        SELECT source, w[i+1] || ' ' || w[i+2] AS gram
        FROM words, unnest(range(0, len(w)-1)) t(i)
        WHERE len(w) >= 2
      ), g2 AS (
        SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams GROUP BY 1, 2
      )
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(cnt) AS BIGINT) AS n_grams,
             CAST((1000000 * COUNT(*)) // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS ttr_ppm
      FROM g2 GROUP BY 1""")),
    QuerySpec("txt_tfidf_topk", TextOps.txtTfidfTopK _, DuckDb("""
      WITH words AS (
        SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '') AS w
        FROM documents
      ), toks AS (
        SELECT doc_id, w[i+1] || ' ' || w[i+2] AS term
        FROM words, unnest(range(0, len(w)-1)) t(i)
        WHERE len(w) >= 2
      ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
      ), nd AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf
      ), dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
      ), wnz AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (CAST(len(bin(n.n_docs + 1)) AS BIGINT) - CAST(len(bin(d.df + 1)) AS BIGINT)) * 1000 AS w
        FROM tf JOIN dfreq d USING (term), nd n
        WHERE tf.tf * (CAST(len(bin(n.n_docs + 1)) AS BIGINT) - CAST(len(bin(d.df + 1)) AS BIGINT)) * 1000 > 0
      ), norms AS (
        SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm FROM wnz GROUP BY 1
      ), unitv AS (
        SELECT w.doc_id, w.term,
               (w.w * 1000) // GREATEST(CAST(FLOOR(SQRT(CAST(n.norm AS DOUBLE))) AS BIGINT), 1) AS u
        FROM wnz w JOIN norms n USING (doc_id)
      ), probes AS (
        SELECT doc_id AS probe_id, term, u AS pu FROM unitv WHERE doc_id < 10
      ), agg AS (
        SELECT p.probe_id, c.doc_id,
               CAST(SUM(c.u * p.pu) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM unitv c JOIN probes p USING (term)
        WHERE c.doc_id <> p.probe_id
        GROUP BY 1, 2
      )
      SELECT probe_id, doc_id, score_micro, n_terms, CAST(rn AS BIGINT) AS rn
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score_micro DESC, doc_id) AS rn
        FROM agg
      ) t WHERE rn <= 3""")),
    QuerySpec("txt_tfidf_route", TextOps.txtTfidfRoute _, DuckDb("""
      WITH words AS (
        SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '') AS w
        FROM documents
      ), toks AS (
        SELECT doc_id, w[i+1] || ' ' || w[i+2] AS term
        FROM words, unnest(range(0, len(w)-1)) t(i)
        WHERE len(w) >= 2
      ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
      ), nd AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf
      ), idf AS (
        SELECT term,
               (CAST(len(bin(n.n_docs + 1)) AS BIGINT) - CAST(len(bin(CAST(COUNT(*) AS BIGINT) + 1)) AS BIGINT)) * 1000 AS idf_milli
        FROM tf, nd n GROUP BY term, n.n_docs
      ), wnz AS (
        SELECT tf.doc_id, tf.term, tf.tf * i.idf_milli AS w
        FROM tf JOIN idf i USING (term)
        WHERE tf.tf * i.idf_milli > 0
      ), norms AS (
        SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm FROM wnz GROUP BY 1
      ), unitv AS (
        SELECT w.doc_id, w.term,
               (w.w * 1000) // GREATEST(CAST(FLOOR(SQRT(CAST(n.norm AS DOUBLE))) AS BIGINT), 1) AS u
        FROM wnz w JOIN norms n USING (doc_id)
      ), probes AS (
        SELECT doc_id AS probe_id, term, u AS pu FROM unitv WHERE doc_id < 10
      ), agg AS (
        SELECT c.doc_id, p.probe_id,
               CAST(SUM(c.u * p.pu) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM unitv c JOIN probes p USING (term)
        WHERE c.doc_id <> p.probe_id
        GROUP BY 1, 2
      )
      SELECT doc_id, probe_id, score_micro, n_terms
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, probe_id) AS rn
        FROM agg
      ) t WHERE rn = 1""")),
    // ftfy-style encoding-artifact signatures (TextOps.txtMojibake);
    // RE2 \x{...} classes match Java's on these BMP ranges
    QuerySpec("txt_mojibake", TextOps.txtMojibake _, DuckDb("""
      WITH f AS (
        SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_extract_all(text, 'Ã[\x{0080}-\x{00BF}]')) AS BIGINT) AS n_latin1_sig,
               CAST(len(regexp_extract_all(text, 'â€')) AS BIGINT) AS n_double_enc,
               CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT) AS n_replacement,
               CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x{0080}-\x{009F}]')) AS BIGINT) AS n_control
        FROM documents
      )
      SELECT doc_id, n_chars, n_latin1_sig, n_double_enc, n_replacement, n_control,
             CAST(n_latin1_sig + n_double_enc + n_replacement + n_control AS BIGINT) AS bad_total,
             CAST((1000 * (n_latin1_sig + n_double_enc + n_replacement + n_control))
                  // GREATEST(n_chars, 1) AS BIGINT) AS bad_per_kchar,
             CAST(n_latin1_sig + n_double_enc + n_replacement + n_control > 0 AS BIGINT) AS mojibake
      FROM f""")),
    // C4 line-level gate (Raffel et al. 2020 §2.2): per-line keep rules
    // replayed with list_filter, page verdict from the kept text
    QuerySpec("txt_c4_gate", TextOps.txtC4Gate _, DuckDb("""
      WITH l AS (
        SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents
      ), k AS (
        SELECT doc_id, text, lines,
               list_filter(lines, x ->
                 regexp_matches(x, '[.!?"'']$')
                 AND len(regexp_extract_all(x, '\S+')) >= 3
                 AND NOT regexp_matches(lower(x), 'javascript')) AS kept
        FROM l
      ), p AS (
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS kept_lines,
               CAST(len(COALESCE(array_to_string(kept, chr(10)), '')) AS BIGINT) AS kept_chars,
               CAST(len(regexp_extract_all(COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]')) AS BIGINT) AS n_sentences,
               CAST(regexp_matches(lower(text), 'lorem ipsum') AS BIGINT) AS has_lorem,
               CAST(contains(text, '{') AS BIGINT) AS has_brace
        FROM k
      )
      SELECT doc_id, n_lines, kept_lines, kept_chars, n_sentences, has_lorem, has_brace,
             CAST(n_sentences >= 5 AND has_lorem = 0 AND has_brace = 0 AS BIGINT) AS keep
      FROM p""")),
    // dedup
    QuerySpec("dedup_exact", DedupOps.dedupExact _, DuckDb("""
      SELECT doc_id, fp, keeper, CAST(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END AS BIGINT) AS keep,
             group_size
      FROM (
        SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS keeper,
               COUNT(*) OVER (PARTITION BY fp) AS group_size
        FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp FROM documents) a
      ) b""")),
    // CDC replayed positionally: boundary at 1-based end position p2
    // when the Karp-Rabin hash of the trailing 16 chars masks to zero —
    // coefficients Base^(16-j) mod 2^64 interpolated from the SAME
    // RollingMinHash.Base constant the engine's expression uses
    QuerySpec("dedup_cdc", DedupOps.dedupCdc _, DuckDb(CdcChunkCtes + """,
      f AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY 1
      )
      SELECT ch.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             CAST(SUM(len(ch.chunk)) AS BIGINT) AS chars_total,
             CAST(SUM(CASE WHEN f.nd >= 2 THEN len(ch.chunk) ELSE 0 END) AS BIGINT) AS chars_shared,
             CAST((1000 * SUM(CASE WHEN f.nd >= 2 THEN len(ch.chunk) ELSE 0 END))
                  // SUM(len(ch.chunk)) AS BIGINT) AS shared_millis
      FROM ch JOIN f USING (chunk) GROUP BY 1""")),
    // incremental CDC probe: new slice (doc_id % 10 >= 8) scored
    // against the DISTINCT chunk set of the reference slice
    QuerySpec("dedup_cdc_incremental", DedupOps.dedupCdcIncremental _, DuckDb(CdcChunkCtes + """,
      ref AS (
        SELECT DISTINCT chunk FROM ch WHERE doc_id % 10 < 8
      ), nu AS (
        SELECT ch.doc_id, ch.chunk,
               CASE WHEN ref.chunk IS NOT NULL THEN 1 ELSE 0 END AS seen
        FROM ch LEFT JOIN ref ON ref.chunk = ch.chunk
        WHERE ch.doc_id % 10 >= 8
      )
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(seen) AS BIGINT) AS n_shared,
             CAST(SUM(len(chunk)) AS BIGINT) AS chars_total,
             CAST(SUM(seen * len(chunk)) AS BIGINT) AS chars_shared,
             CAST((1000 * SUM(seen * len(chunk))) // SUM(len(chunk)) AS BIGINT) AS shared_millis
      FROM nu GROUP BY 1""")),
    // CDC pair mining: distinct (doc, chunk) postings, df <= 100 guard,
    // self-join, pair aggregate at minShared >= 2 — chunk identity is
    // the chunk STRING here (collisionless-hash equivalence, same as
    // the shingle oracles)
    QuerySpec("dedup_cdc_pairs", ((s, d) => DedupOps.dedupCdcPairs(s, d)), DuckDb(CdcChunkCtes + """,
      chd AS (
        SELECT doc_id, chunk, MAX(len(chunk)) AS len
        FROM ch GROUP BY 1, 2
      ), rare AS (
        SELECT chd.* FROM chd
        JOIN (SELECT chunk, COUNT(*) AS df FROM chd GROUP BY 1) f
          ON f.chunk = chd.chunk AND f.df <= 100
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             CAST(SUM(a.len) AS BIGINT) AS chars_shared
      FROM rare a JOIN rare b ON a.chunk = b.chunk AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2""")),
    QuerySpec("dedup_ngram_jaccard", DedupOps.dedupNgramJaccard _, DuckDb(NgramJaccardSql)),
    // incremental rare-shingle edge mining: the % 10 >= 8 slice probes
    // the postings index of the rest; "rare" = df <= 100 over the
    // FROZEN reference (the probe's documented contract), edges need
    // >= 2 shared rare shingles
    QuerySpec("dedup_edges_incremental", DedupOps.shingleShareEdgesIncremental _, DuckDb(ShinglePairCtes + """
      , old_sh AS (
        SELECT doc_id, s FROM sh WHERE doc_id % 10 < 8
      ), rare_ref AS (
        SELECT doc_id, s FROM old_sh
        WHERE s IN (SELECT s FROM old_sh GROUP BY s HAVING COUNT(*) <= 100)
      )
      SELECT n.doc_id AS doc_new, r.doc_id AS doc_ref,
             CAST(COUNT(*) AS BIGINT) AS n_rare
      FROM (SELECT doc_id, s FROM sh WHERE doc_id % 10 >= 8) n
      JOIN rare_ref r ON n.s = r.s
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2""")),
    // pair-level span localization: shared rare-8-gram matches grouped
    // into contiguous runs per (pair, diagonal i_a − i_b) — the islands
    // trick replayed verbatim
    QuerySpec("dedup_span_pairs", ((s, d) => DedupOps.dedupSpanPairs(s, d)), DuckDb("""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), starts AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
        FROM toks, UNNEST(range(0, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
      ), rare AS (
        SELECT doc_id, i, g FROM starts
        WHERE g IN (SELECT g FROM (
          SELECT g, COUNT(DISTINCT doc_id) AS nd FROM starts GROUP BY g) x
          WHERE nd > 1 AND nd <= 100)
      ), m AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS i_a, b.i AS i_b
        FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
      ), isl AS (
        SELECT doc_a, doc_b, i_a - i_b AS d,
               i_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, i_a - i_b ORDER BY i_a) AS grp
        FROM m
      ), rl AS (
        SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run
        FROM isl GROUP BY doc_a, doc_b, d, grp
      )
      SELECT doc_a, doc_b,
             CAST(SUM(run) AS BIGINT) AS n_shared_grams,
             CAST(MAX(run) AS BIGINT) AS longest_run_grams,
             CAST(MAX(run) + 7 AS BIGINT) AS longest_span_tokens
      FROM rl GROUP BY 1, 2
      HAVING SUM(run) >= 3""")),
    // incremental span probe: new slice vs the positional index of the
    // rest; rarity over the REFERENCE only (the probe's contract)
    QuerySpec("dedup_span_incremental", DedupOps.dedupSpanIncremental _, DuckDb("""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), starts AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
        FROM toks, UNNEST(range(0, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
      ), ref AS (
        SELECT doc_id, i, g FROM starts WHERE doc_id % 10 < 8
          AND g IN (SELECT g FROM (
            SELECT g, COUNT(DISTINCT doc_id) AS nd FROM starts
            WHERE doc_id % 10 < 8 GROUP BY g) x WHERE nd <= 100)
      ), m AS (
        SELECT DISTINCT n.doc_id AS doc_new, r.doc_id AS doc_ref,
               n.i AS i_new, r.i AS i_ref
        FROM starts n JOIN ref r ON n.g = r.g
        WHERE n.doc_id % 10 >= 8
      ), isl AS (
        SELECT doc_new, doc_ref, i_new - i_ref AS d,
               i_new - ROW_NUMBER() OVER (PARTITION BY doc_new, doc_ref, i_new - i_ref ORDER BY i_new) AS grp
        FROM m
      ), rl AS (
        SELECT doc_new, doc_ref, CAST(COUNT(*) AS BIGINT) AS run
        FROM isl GROUP BY doc_new, doc_ref, d, grp
      )
      SELECT doc_new, doc_ref,
             CAST(SUM(run) AS BIGINT) AS n_shared_grams,
             CAST(MAX(run) AS BIGINT) AS longest_run_grams,
             CAST(MAX(run) + 7 AS BIGINT) AS longest_span_tokens
      FROM rl GROUP BY 1, 2
      HAVING SUM(run) >= 3""")),
    // incremental (batch-vs-index) dedup: the SAME minhash pipeline
    // constants as dedup_minhash_lsh, restricted to (new=doc_id%10>=8,
    // index) pairs, plus the exact-fingerprint probe — replayed 1:1
    QuerySpec("dedup_recall_eval", DedupOps.dedupRecallEval _, DuckDb(RecallEvalSql)),
    QuerySpec("dedup_recall_sampled",
      (s, dir) => DedupOps.dedupRecallEvalSampledN(s, dir, targetDocs = 2000L, seed = 42),
      DuckDb(RecallEvalSampledSql)),
    // PPJoin prefix-filtered EXACT J >= 0.8 self-join: the oracle is the
    // brute-force all-pairs replay at the same threshold (the prefix/
    // length/positional filters are lossless, so the sets must be equal)
    QuerySpec("dedup_ppjoin", DedupOps.dedupPpjoin _, DuckDb(ShinglePairCtes + """
      SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b,
             CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 9 * n_inter >= 4 * (sa.n + sb.n)""")),
    QuerySpec("dedup_containment", ((s, dir) => DedupOps.dedupContainment(s, dir)), DuckDb(ContainmentSql)),
    // the ENTIRE MinHash-LSH pipeline replayed in DuckDB: md5-derived
    // base hash, the SAME affine permutation constants (MinHashAgg.A/B,
    // interpolated below), band keys, bucket join, exact-Jaccard verify
    QuerySpec("dedup_minhash_lsh", DedupOps.dedupMinHashLsh _, DuckDb {
      val al = graft.functions.MinHashAgg.A.take(32)
        .map(a => s"$a::HUGEINT").mkString("[", ",", "]")
      val mask = (BigInt(1) << 64) - 1
      val bl = graft.functions.MinHashAgg.B.take(32)
        .map(b => s"${BigInt(b) & mask}::HUGEINT").mkString("[", ",", "]")
      val bandKey = (0 until 8).map { b =>
        val str = s"CAST($b AS VARCHAR) || ',' || " + (1 to 4).map(r =>
          s"CAST(sig[${4 * b + r}] AS VARCHAR)").mkString(" || ',' || ")
        // same 8-byte band key the Spark side shuffles on (md5Hash64:
        // signed hi32 * 2^32 + lo32 — sign-correct, cannot overflow)
        val hi = s"('0x' || substr(md5($str), 1, 8))::BIGINT"
        s"($hi - CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END)" +
          s" * 4294967296 + ('0x' || substr(md5($str), 9, 8))::BIGINT"
      }.map(k => s"SELECT doc_id, $k AS bk FROM sigs")
        .mkString("\n        UNION ALL ")
      s"""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM toks WHERE len(w) >= 3) x
      ), dh AS (
        SELECT doc_id, list(('0x' || substr(md5(g), 1, 8))::BIGINT::HUGEINT * 4294967296
                          + ('0x' || substr(md5(g), 9, 8))::BIGINT::HUGEINT) AS hs
        FROM sh GROUP BY 1
      ), sigs AS (
        SELECT doc_id,
          list_transform(range(0, 32), p ->
            list_min(list_transform(
              list_transform(hs, x -> (x * $al[p+1] + $bl[p+1]) % 18446744073709551616::HUGEINT),
              m -> CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
                             THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT)))) AS sig
        FROM dh
      ), bands AS (
        $bandKey
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
      ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
      ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                    JOIN sh b ON b.doc_id = c.doc_b AND a.g = b.g
        GROUP BY 1, 2
      )
      SELECT i.doc_a, i.doc_b,
             CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
      FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                   JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE n_inter * 5 >= sa.n + sb.n - n_inter"""
    }),
    QuerySpec("dedup_simhash", DedupOps.dedupSimHash _, DuckDb("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS t
        FROM documents
      ), h AS (
        SELECT doc_id,
               (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS h
        FROM (
          SELECT doc_id,
                 ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                 ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
          FROM tok WHERE t <> '') x
      ), bits AS (
        SELECT doc_id, i, SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        FROM h, (SELECT unnest(range(0, 64)) AS i) r
        GROUP BY 1, 2
      )
      SELECT doc_id, simhash, CAST(bit_count(simhash) AS BIGINT) AS popcnt FROM (
        SELECT doc_id,
               CAST(SUM(CASE WHEN sgn > 0
                 THEN CASE WHEN i = 63 THEN -9223372036854775807 - 1 ELSE 1::BIGINT << CAST(i AS INT) END
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id) s""")),
    QuerySpec("dedup_simhash_pairs", DedupOps.dedupSimHashPairs _, DuckDb(SimhashPairsSql)),
    QuerySpec("dedup_clusters", GraphOps.dedupClusters _, DuckDb(s"""
      WITH RECURSIVE pairs AS ($SimhashPairsSql
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), reach(node, lab) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
      ), cl AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
      )
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
             CAST(doc_id = cluster_id AS BIGINT) AS keep
      FROM cl""")),
    QuerySpec("dedup_cluster_sizes", GraphOps.dedupClusterSizes _, DuckDb(s"""
      WITH RECURSIVE pairs AS ($SimhashPairsSql
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), reach(node, lab) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
      ), cl AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
      ), sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM cl GROUP BY 1
      )
      SELECT CAST(len(bin(sz)) AS BIGINT) - 1 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(sz) AS BIGINT) AS n_docs
      FROM sizes GROUP BY 1""")),
    QuerySpec("graph_label_prop", ((s, d) => GraphOps.graphLabelProp(s, d)), DuckDb(s"""
      WITH pairs AS MATERIALIZED ($SimhashPairsSql
      ), edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), nodes AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM edges
      ), seeds AS MATERIALIZED (
        SELECT n.node, d.lang AS seed_label
        FROM nodes n JOIN documents d ON d.doc_id = n.node
        WHERE n.node % 3 = 0
      ), l0 AS MATERIALIZED (
        SELECT n.node, s.seed_label AS label FROM nodes n LEFT JOIN seeds s USING (node)
      ), c1 AS MATERIALIZED (
        SELECT node, label FROM (
          SELECT g.node, g.label,
                 ROW_NUMBER() OVER (PARTITION BY g.node ORDER BY g.cnt DESC, g.label) AS rn
          FROM (SELECT e.dst AS node, l.label, COUNT(*) AS cnt
                FROM edges e JOIN l0 l ON l.node = e.src
                WHERE l.label IS NOT NULL GROUP BY 1, 2) g
        ) t WHERE rn = 1
      ), l1 AS MATERIALIZED (
        SELECT n.node, COALESCE(s.seed_label, c.label, l.label) AS label
        FROM nodes n
        LEFT JOIN seeds s USING (node)
        LEFT JOIN c1 c USING (node)
        LEFT JOIN l0 l USING (node)
      ), c2 AS MATERIALIZED (
        SELECT node, label FROM (
          SELECT g.node, g.label,
                 ROW_NUMBER() OVER (PARTITION BY g.node ORDER BY g.cnt DESC, g.label) AS rn
          FROM (SELECT e.dst AS node, l.label, COUNT(*) AS cnt
                FROM edges e JOIN l1 l ON l.node = e.src
                WHERE l.label IS NOT NULL GROUP BY 1, 2) g
        ) t WHERE rn = 1
      ), l2 AS (
        SELECT n.node, COALESCE(s.seed_label, c.label, l.label) AS label
        FROM nodes n
        LEFT JOIN seeds s USING (node)
        LEFT JOIN c2 c USING (node)
        LEFT JOIN l1 l USING (node)
      )
      SELECT node AS doc_id, label,
             CAST(CASE WHEN node % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_seed
      FROM l2""")),
    // transitive closure of the simhash pair graph: DuckDB replays the
    // distributed label propagation as a recursive CTE (min reachable
    // doc_id == hash-to-min fixpoint, both are the component minimum)
    QuerySpec("graph_pagerank", ((s, d) => GraphOps.graphPageRank(s, d)), DuckDb {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (
        SELECT e.dst AS id,
               CAST(150000 + (850 * CAST(SUM(r.pr // d.deg) AS BIGINT)) // 1000 AS BIGINT) AS pr
        FROM edges e JOIN r${i - 1} r ON r.id = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      )"""
      }.mkString(", ")
      s"""
      WITH pairs AS ($SimhashPairsSql
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
      ), r0 AS (
        SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg
      ), $rounds
      SELECT d.src AS doc_id, d.deg, r3.pr
      FROM r3 JOIN deg d ON d.src = r3.id"""
    }),
    // triangles replayed by id-order edge chaining (u<v<w each triangle
    // once) — orientation-free, so it matches Spark's degree-ordered
    // node-iterator bit-for-bit
    QuerySpec("graph_triangles", GraphOps.graphTriangles _, DuckDb(s"""
      WITH pairs AS ($SimhashPairsSql
      ), e AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
      ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT a AS node FROM e UNION ALL SELECT b FROM e) n
        GROUP BY node
      ), tri AS (
        SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      ), cnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
          SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri) t
        GROUP BY node
      )
      SELECT d.node AS doc_id, d.deg,
             COALESCE(c.tri, 0) AS tri,
             CASE WHEN d.deg > 1
               THEN (2000000 * COALESCE(c.tri, 0)) // (d.deg * (d.deg - 1))
               ELSE 0 END AS cc_ppm
      FROM deg d LEFT JOIN cnt c ON c.node = d.node""")),
    QuerySpec("graph_kcore", ((s, d) => GraphOps.graphKCore(s, d)), DuckDb(KcoreSql)),
    // link prediction replayed neighbor-set-first: wedges through every
    // common neighbor w with deg(w) <= 64 (the hub guard), grouped on
    // the (u, v) candidate pair, existing edges anti-joined away; edge
    // basis = the rare-shingle co-occurrence graph (>= 2 shared shingles
    // of df <= 100 — guard-faithful: hot shingles excluded from the
    // count, exactly like shingleShareEdges)
    QuerySpec("graph_linkpred", ((s, d) => GraphOps.graphLinkPred(s, d)), DuckDb(ShinglePairCtes + s""",
      $RareShareEdgeCtes, nb AS (
        SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e
      ), deg AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS deg FROM nb GROUP BY w
      ), nbc AS (
        SELECT nb.w, nb.n, d.deg FROM nb JOIN deg d USING (w) WHERE d.deg <= 64
      ), sc AS (
        SELECT x.n AS u, y.n AS v,
               CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(SUM(1000000 // x.deg) AS BIGINT) AS ra_ppm
        FROM nbc x JOIN nbc y ON x.w = y.w AND x.n < y.n
        GROUP BY 1, 2
      ), ne AS (
        SELECT sc.* FROM sc
        LEFT JOIN e ON e.a = sc.u AND e.b = sc.v
        WHERE e.a IS NULL AND sc.cn >= 2
      )
      SELECT ne.u AS doc_u, ne.v AS doc_v, ne.cn, ne.ra_ppm,
             CAST(1000000 * ne.cn // (du.deg + dv.deg - ne.cn) AS BIGINT) AS jac_ppm
      FROM ne JOIN deg du ON du.w = ne.u JOIN deg dv ON dv.w = ne.v""")),
    // modularity terms per source over the shingle-share graph; exp_ppm
    // in HUGEINT mirrors Spark's DECIMAL(38) (d_sum^2 can pass a long)
    QuerySpec("graph_modularity", GraphOps.graphModularity _, DuckDb(ShinglePairCtes + s""",
      $RareShareEdgeCtes, tagged AS (
        SELECT sa.source AS src_a, sb.source AS src_b
        FROM e p
        JOIN documents sa ON sa.doc_id = p.a
        JOIN documents sb ON sb.doc_id = p.b
      ), halves AS (
        SELECT src_a AS source FROM tagged
        UNION ALL SELECT src_b FROM tagged
      ), dsum AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS d_sum FROM halves GROUP BY 1
      ), mi AS (
        SELECT src_a AS source, CAST(COUNT(*) AS BIGINT) AS m_intra
        FROM tagged WHERE src_a = src_b GROUP BY 1
      ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM tagged
      )
      SELECT d.source, t.m, COALESCE(mi.m_intra, 0) AS m_intra, d.d_sum,
             CAST(1000000 * COALESCE(mi.m_intra, 0) // t.m AS BIGINT) AS cov_ppm,
             CAST((1000000 * CAST(d.d_sum AS HUGEINT) * d.d_sum)
                  // (4 * CAST(t.m AS HUGEINT) * t.m) AS BIGINT) AS exp_ppm
      FROM dsum d LEFT JOIN mi USING (source) CROSS JOIN tot t""")),
    QuerySpec("dedup_canonical_quality", GraphOps.dedupCanonicalQuality _, DuckDb(s"""
      WITH RECURSIVE pairs AS ($SimhashPairsSql
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), reach(node, lab) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
      ), cl AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
      ), q AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')) AS BIGINT) * 1000
                 + (1000 * CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)) // GREATEST(LENGTH(text), 1)
                 AS quality
        FROM documents
      ), members AS (
        SELECT cl.cluster_id, cl.doc_id, q.quality FROM cl JOIN q ON q.doc_id = cl.doc_id
      ), keepers AS (
        SELECT cluster_id, doc_id AS keeper_id, quality AS keeper_quality FROM (
          SELECT cluster_id, doc_id, quality,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rk
          FROM members
        ) WHERE rk = 1
      )
      SELECT m.doc_id, m.cluster_id, m.quality, k.keeper_id,
             CAST(m.doc_id = k.keeper_id AS BIGINT) AS keep
      FROM members m JOIN keepers k ON k.cluster_id = m.cluster_id""")),
    QuerySpec("dedup_decontaminate", CurateOps.dedupDecontaminate _, DuckDb(DecontaminateSql)),
    // the Bloom prefilter is exact-by-construction (no false negatives;
    // false positives die in the verify join) → same oracle
    QuerySpec("dedup_decontaminate_bloom", CurateOps.dedupDecontaminateBloom _, DuckDb(DecontaminateSql)),
    QuerySpec("dedup_semantic", SimilarityOps.semDedup _, DuckDb {
      // SemDeDup replay: same k-means CTEs as sim_ivf_topk, then the
      // within-cell pair join — a vector is dropped iff some lower-id
      // cell-mate has cosine >= 0.3 against it.
      val pairDot = "CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT)"
      s"""
      WITH $IvfCellCtes,
      rm AS (
        SELECT DISTINCT cb.vec_id
        FROM cells ca
        JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
        JOIN en a ON a.vec_id = ca.vec_id
        JOIN en b ON b.vec_id = cb.vec_id
        WHERE CAST($pairDot AS DOUBLE)
              / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) >= 0.3
      )
      SELECT c.vec_id, c.cell,
             CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM cells c LEFT JOIN rm r ON r.vec_id = c.vec_id"""
    }),
    QuerySpec("dedup_substring_spans", DedupOps.dedupSubstringSpans _, DuckDb("""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), starts AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
        FROM toks, UNNEST(range(0, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
      ), dup AS (
        SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM starts GROUP BY g) x WHERE nd > 1
      ), ds AS (
        SELECT doc_id, i FROM starts WHERE g IN (SELECT g FROM dup)
      ), perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams FROM ds GROUP BY 1
      ), cov AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_positions FROM (
          SELECT DISTINCT doc_id, p FROM ds, UNNEST(range(i, i + 8)) AS u(p)
        ) y GROUP BY 1
      )
      SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             COALESCE(n_dup_grams, 0) AS n_dup_grams,
             COALESCE(n_dup_positions, 0) AS n_dup_positions,
             CAST((1000 * COALESCE(n_dup_positions, 0)) // len(w) AS BIGINT) AS dup_frac_millis
      FROM toks t
      LEFT JOIN perdoc USING (doc_id)
      LEFT JOIN cov USING (doc_id)""")),
    QuerySpec("dedup_substring_remove", DedupOps.dedupSubstringRemove _, DuckDb("""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), starts AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
        FROM toks, UNNEST(range(0, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
      ), gstat AS (
        SELECT g, MIN(doc_id) AS keeper
        FROM starts GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
      ), rm AS (
        SELECT DISTINCT s.doc_id, p
        FROM starts s JOIN gstat t USING (g), UNNEST(range(s.i, s.i + 8)) AS u(p)
        WHERE s.doc_id <> t.keeper
      ), pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS p, w[CAST(i+1 AS INT)] AS tok
        FROM toks, UNNEST(range(0, len(w))) AS t(i)
      ), kept AS (
        SELECT pos.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(pos.tok, ' ' ORDER BY pos.p) AS cleaned
        FROM pos LEFT JOIN rm ON pos.doc_id = rm.doc_id AND pos.p = rm.p
        WHERE rm.p IS NULL
        GROUP BY pos.doc_id
      )
      SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
             COALESCE(cleaned, '') AS cleaned_text
      FROM toks t LEFT JOIN kept USING (doc_id)""")),
    QuerySpec("dedup_span_remove_incremental", DedupOps.dedupSpanRemoveIncremental _, DuckDb("""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents WHERE doc_id % 10 >= 8
      ), refg AS (
        SELECT DISTINCT array_to_string(w[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
        FROM (SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
              FROM documents WHERE doc_id % 10 < 8) r,
             UNNEST(range(0, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
      ), starts AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
        FROM toks, UNNEST(range(0, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
      ), rm AS (
        SELECT DISTINCT s.doc_id, p
        FROM starts s JOIN refg USING (g), UNNEST(range(s.i, s.i + 8)) AS u(p)
      ), pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS p, w[CAST(i+1 AS INT)] AS tok
        FROM toks, UNNEST(range(0, len(w))) AS t(i)
      ), kept AS (
        SELECT pos.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(pos.tok, ' ' ORDER BY pos.p) AS cleaned
        FROM pos LEFT JOIN rm ON pos.doc_id = rm.doc_id AND pos.p = rm.p
        WHERE rm.p IS NULL
        GROUP BY pos.doc_id
      )
      SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(w) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
             COALESCE(cleaned, '') AS cleaned_text
      FROM toks t LEFT JOIN kept USING (doc_id)""")),
    QuerySpec("dedup_fuzzy_parts", DedupOps.dedupFuzzyParts _, DuckDb("""
      WITH counts AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts FROM part GROUP BY 1
      ), nm AS (
        SELECT p_name, n_parts, string_split(p_name, ' ')[2] AS blk
        FROM counts WHERE len(string_split(p_name, ' ')) = 2
      )
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
             a.n_parts AS n_a, b.n_parts AS n_b
      FROM nm a JOIN nm b ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3""")),
    QuerySpec("dedup_token_share", DedupOps.dedupTokenShare _, DuckDb("""
      WITH toks AS (
        SELECT doc_id, source,
               string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), starts AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
        FROM toks, UNNEST(range(0, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
      ), dup AS (
        SELECT g FROM starts GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
      ), covered AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup FROM (
          SELECT DISTINCT s.doc_id, p
          FROM starts s JOIN dup USING (g), UNNEST(range(s.i, s.i + 8)) AS u(p)
        ) x GROUP BY doc_id
      )
      SELECT t.source,
             CAST(SUM(len(w)) AS BIGINT) AS n_tokens,
             CAST(SUM(COALESCE(n_dup, 0)) AS BIGINT) AS n_dup_tokens,
             CAST((1000000 * SUM(COALESCE(n_dup, 0))) // SUM(len(w)) AS BIGINT) AS dup_ppm
      FROM toks t LEFT JOIN covered USING (doc_id)
      GROUP BY t.source""")),
    QuerySpec("dedup_incremental", DedupOps.dedupIncremental _,
      DuckDb(minhashProbeSql("doc_id % 10 >= 8", "doc_id % 10 < 8"))),
    QuerySpec("dedup_decontaminate_fuzzy", DedupOps.dedupDecontaminateFuzzy _,
      DuckDb(minhashProbeSql("doc_id % 20 <> 0", "doc_id % 20 = 0"))),
    // corpus curation
    QuerySpec("txt_repetition", CurateOps.txtRepetition _, DuckDb("""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), g2 AS (
        SELECT doc_id, MAX(c) AS top_2gram_n, CAST(SUM(c) AS BIGINT) AS n_2grams FROM (
          SELECT doc_id, g, COUNT(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
            FROM toks WHERE len(w) >= 2) x GROUP BY 1, 2) y GROUP BY 1
      ), g3 AS (
        SELECT doc_id, COUNT(*) AS n_3grams, COUNT(DISTINCT g) AS nd FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM toks WHERE len(w) >= 3) x GROUP BY 1
      )
      SELECT d.doc_id,
             COALESCE(n_2grams, 0) AS n_2grams,
             COALESCE(top_2gram_n, 0) AS top_2gram_n,
             CASE WHEN n_2grams > 0 THEN CAST(top_2gram_n AS DOUBLE) / n_2grams ELSE 0.0 END AS top_2gram_frac,
             COALESCE(n_3grams, 0) AS n_3grams,
             COALESCE(n_3grams - nd, 0) AS n_dup_3grams,
             CASE WHEN n_3grams > 0 THEN CAST(n_3grams - nd AS DOUBLE) / n_3grams ELSE 0.0 END AS dup_3gram_frac
      FROM documents d LEFT JOIN g2 ON d.doc_id = g2.doc_id LEFT JOIN g3 ON d.doc_id = g3.doc_id""")),
    QuerySpec("curate_gopher_gate", CurateOps.curateGopherGate _, DuckDb(GopherGateSql)),
    QuerySpec("txt_pii_scrub", CurateOps.txtPiiScrub _, DuckDb("""
      WITH a AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com phone 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
        FROM documents
      )
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrubbed_md5
      FROM a""")),
    QuerySpec("split_assign", CurateOps.splitAssign _, DuckDb("""
      SELECT doc_id, bucket,
             CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        FROM documents) b""")),
    QuerySpec("emb_cluster_assign", CurateOps.embClusterAssign _, DuckDb("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM e
      ), s AS (
        SELECT a.vec_id, c.vec_id AS cell,
               CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * c.q[i])) AS BIGINT) AS dot,
               a.nq AS na, c.nq AS nc
        FROM en a CROSS JOIN (SELECT vec_id, q, nq FROM en WHERE vec_id < 8) c
      )
      SELECT vec_id, cell, cos FROM (
        SELECT vec_id, cell,
               CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) AS cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) DESC, cell) AS rn
        FROM s
      ) t WHERE rn = 1""")),
    QuerySpec("curate_pack_sequences", ((s, dir) => CurateOps.curatePackSequences(s, dir)), DuckDb("""
      WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents
      ), cum AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        FROM toks
      )
      SELECT doc_id, n_tokens, tok_before,
             tok_before // 256 AS start_seq,
             tok_before % 256 AS start_offset,
             (tok_before + GREATEST(n_tokens, 1) - 1) // 256 AS end_seq
      FROM cum""")),
    QuerySpec("curate_length_batches", ((s, dir) => CurateOps.curateLengthBatches(s, dir)), DuckDb("""
      WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) % 8 AS shard
        FROM documents
      ), a AS (
        SELECT shard, n_tok,
               (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n_tok DESC, doc_id) - 1) // 16 AS batch_id
        FROM d
      )
      SELECT shard, batch_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MAX(n_tok) AS BIGINT) AS max_tok,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
             CAST(MAX(n_tok) * COUNT(*) - SUM(n_tok) AS BIGINT) AS pad_tokens
      FROM a GROUP BY shard, batch_id""")),
    QuerySpec("curate_sample_stratified", ((s, dir) => CurateOps.curateSampleStratified(s, dir)), DuckDb("""
      SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rnk
        FROM documents
      ) t WHERE rnk <= 50""")),
    QuerySpec("curate_weighted_sample", ((s, dir) => CurateOps.curateWeightedSample(s, dir)), DuckDb("""
      WITH keyed AS (
        SELECT doc_id, n_chars,
               -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE) + 1.0)
                   / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS k
        FROM documents
      )
      SELECT doc_id, n_chars, CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS rk
      FROM keyed ORDER BY k, doc_id LIMIT 100""")),
    QuerySpec("curate_temperature_sample", CurateOps.curateTemperatureSample _, DuckDb("""
      WITH stats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM documents GROUP BY source
      ), mn AS (
        SELECT MIN(n_src) AS n_min FROM stats
      )
      SELECT d.doc_id, d.source, stats.n_src,
             CAST(((CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE) + 1.0)
                     / 4503599627370496.0
                   < sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE))) AS BIGINT) AS selected
      FROM documents d JOIN stats USING (source) CROSS JOIN mn""")),
    QuerySpec("txt_top_terms", CurateOps.txtTopTerms _, DuckDb("""
      WITH dw AS (
        SELECT DISTINCT doc_id, term
        FROM (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS term
          FROM documents
        ) x WHERE len(term) >= 3
      ), dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dw GROUP BY term
      )
      SELECT doc_id, term, df, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT dw.doc_id, dw.term, dfreq.df,
               ROW_NUMBER() OVER (PARTITION BY dw.doc_id ORDER BY dfreq.df, dw.term) AS rnk
        FROM dw JOIN dfreq USING (term)
      ) t WHERE rnk <= 3""")),
    QuerySpec("txt_inverted_index", CurateOps.txtInvertedIndex _, DuckDb("""
      WITH dw AS (
        SELECT DISTINCT doc_id, term
        FROM (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS term
          FROM documents
        ) x WHERE len(term) >= 3
      )
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             list_aggregate(list_sort(list(doc_id))[1:20], 'string_agg', ',') AS postings
      FROM dw GROUP BY term""")),
    QuerySpec("txt_bm25_topk", TextOps.txtBm25TopK _, DuckDb(Bm25Sql)),
    QuerySpec("curate_budget_select", ((s, dir) => CurateOps.curateBudgetSelect(s, dir)), DuckDb("""
      WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents
      )
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 20000 AS BIGINT) AS selected
      FROM toks""")),
    QuerySpec("curate_source_quota", ((s, dir) => CurateOps.curateSourceQuota(s, dir)), DuckDb("""
      WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents
      )
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 1000 AS BIGINT) AS admitted
      FROM toks""")),
    QuerySpec("curate_resample_lang", CurateOps.curateResampleLang _, DuckDb("""
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
             CASE WHEN lang = 'en' THEN 100 WHEN lang = 'zh' THEN 25 ELSE 50 END::BIGINT AS quota,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                  < CASE WHEN lang = 'en' THEN 100 WHEN lang = 'zh' THEN 25 ELSE 50 END AS BIGINT) AS kept
      FROM documents""")),
    QuerySpec("curate_corpus_shuffle", CurateOps.curateCorpusShuffle _, DuckDb("""
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS hk,
             CAST(ROW_NUMBER() OVER (ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 16), doc_id) - 1 AS BIGINT) AS rank
      FROM documents""")),
    QuerySpec("curate_shard_assign", ((s, dir) => CurateOps.curateShardAssign(s, dir)), DuckDb("""
      WITH r AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 16), doc_id) - 1 AS BIGINT) AS rank
        FROM documents)
      SELECT doc_id, rank, rank % 8 AS shard, rank // 8 AS pos_in_shard FROM r""")),
    QuerySpec("curate_k_anonymity", ((s, dir) => CurateOps.curateKAnonymity(s, dir)), DuckDb("""
      WITH toks AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents
      ), b AS (
        SELECT doc_id, lang, source, n_tokens // 32 AS tok_band FROM toks
      ), c AS (
        SELECT lang, source, tok_band, CAST(COUNT(*) AS BIGINT) AS class_size
        FROM b GROUP BY 1, 2, 3
      )
      SELECT doc_id, b.lang, b.source, b.tok_band, class_size,
             CAST(class_size < 5 AS BIGINT) AS suppress
      FROM b JOIN c USING (lang, source, tok_band)""")),
    // l-diversity over the same QI space; sensitive attr = argmax
    // lexicon topic ('none' when the doc hits no lexicon term)
    QuerySpec("curate_l_diversity", ((s, dir) => CurateOps.curateLDiversity(s, dir)), DuckDb {
      val lexVals = graft.operators.TextOps.TopicLexicon
        .flatMap { case (t, ks) => ks.map(k => s"('$k', '$t')") }.mkString(", ")
      s"""
      WITH b AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) // 32 AS tok_band
        FROM documents
      ), toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                      x -> x <> '')) AS term
        FROM documents
      ), lex(term, topic) AS (
        SELECT * FROM (VALUES $lexVals) v(term, topic)
      ), hits AS (
        SELECT doc_id, topic, CAST(COUNT(*) AS BIGINT) AS hits
        FROM toks JOIN lex USING (term) GROUP BY 1, 2
      ), tt AS (
        SELECT doc_id, topic
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, topic) AS rn FROM hits) t
        WHERE rn = 1
      ), sens AS (
        SELECT b.lang, b.source, b.tok_band, COALESCE(tt.topic, 'none') AS topic
        FROM b LEFT JOIN tt USING (doc_id)
      ), per_topic AS (
        SELECT lang, source, tok_band, topic, CAST(COUNT(*) AS BIGINT) AS n
        FROM sens GROUP BY 1, 2, 3, 4
      )
      SELECT lang, source, tok_band,
             CAST(SUM(n) AS BIGINT) AS class_size,
             CAST(COUNT(*) AS BIGINT) AS distinct_topics,
             CAST((1000000 * MAX(n)) // SUM(n) AS BIGINT) AS top_share_ppm,
             CAST(COUNT(*) >= 3 AS BIGINT) AS l_diverse
      FROM per_topic GROUP BY 1, 2, 3"""
    }),
    // t-closeness: per-class TV distance to the corpus topic
    // distribution over FLOORED ppm shares (absent topics contribute
    // their full global share via the class × topic grid)
    QuerySpec("curate_t_closeness", ((s, dir) => CurateOps.curateTCloseness(s, dir)), DuckDb {
      val lexVals = graft.operators.TextOps.TopicLexicon
        .flatMap { case (t, ks) => ks.map(k => s"('$k', '$t')") }.mkString(", ")
      s"""
      WITH b AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) // 32 AS tok_band
        FROM documents
      ), toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                      x -> x <> '')) AS term
        FROM documents
      ), lex(term, topic) AS (
        SELECT * FROM (VALUES $lexVals) v(term, topic)
      ), hits AS (
        SELECT doc_id, topic, CAST(COUNT(*) AS BIGINT) AS hits
        FROM toks JOIN lex USING (term) GROUP BY 1, 2
      ), tt AS (
        SELECT doc_id, topic
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, topic) AS rn FROM hits) t
        WHERE rn = 1
      ), sens AS (
        SELECT b.lang, b.source, b.tok_band, COALESCE(tt.topic, 'none') AS topic
        FROM b LEFT JOIN tt USING (doc_id)
      ), pct AS (
        SELECT lang, source, tok_band, topic, CAST(COUNT(*) AS BIGINT) AS n
        FROM sens GROUP BY 1, 2, 3, 4
      ), tg AS (
        SELECT topic, CAST(SUM(n) AS BIGINT) AS n_global FROM pct GROUP BY 1
      ), g AS (
        SELECT topic, n_global,
               CAST((1000000 * n_global) // (SELECT CAST(SUM(n_global) AS BIGINT) FROM tg) AS BIGINT) AS share_global_ppm
        FROM tg
      ), cs AS (
        SELECT lang, source, tok_band, CAST(SUM(n) AS BIGINT) AS class_size
        FROM pct GROUP BY 1, 2, 3
      ), grid AS (
        SELECT cs.lang, cs.source, cs.tok_band, cs.class_size, g.topic, g.share_global_ppm,
               CAST((1000000 * COALESCE(pct.n, 0)) // cs.class_size AS BIGINT) AS share_class_ppm
        FROM cs CROSS JOIN g
        LEFT JOIN pct ON pct.lang = cs.lang AND pct.source = cs.source
                     AND pct.tok_band = cs.tok_band AND pct.topic = g.topic
      )
      SELECT lang, source, tok_band, class_size,
             CAST(SUM(ABS(share_class_ppm - share_global_ppm)) // 2 AS BIGINT) AS tv_ppm,
             CAST(CAST(SUM(ABS(share_class_ppm - share_global_ppm)) // 2 AS BIGINT) <= 500000 AS BIGINT) AS t_close
      FROM grid GROUP BY 1, 2, 3, 4"""
    }),
    // geometric-mechanism release replayed from the SAME threshold
    // constants the engine uses (interpolated from DpGeomThresholds —
    // one source of truth for the inverse CDF in both engines)
    QuerySpec("curate_dp_release", ((s, dir) => CurateOps.curateDpRelease(s, dir)), DuckDb {
      val rows = graft.operators.CurateOps.DpGeomThresholds
        .map { case (k, lo, hi) => s"($k, $lo, $hi)" }.mkString(", ")
      s"""
      WITH thr(noise, lo, hi) AS (VALUES $rows),
      c AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_true
        FROM documents GROUP BY 1, 2
      ), u AS (
        SELECT source, lang, n_true,
               (('0x' || substr(md5('dpv1:' || source || ':' || lang), 1, 8))::BIGINT
                 & 2147483647) * 3 AS t
        FROM c
      )
      SELECT source, lang,
             CAST(GREATEST(0, n_true + thr.noise) AS BIGINT) AS n_released,
             CAST(693 AS BIGINT) AS eps_milli_nominal
      FROM u JOIN thr ON u.t >= thr.lo AND u.t < thr.hi"""
    }),
    // concentration: rank window + divisions over the bounded source
    // table; HHI in HUGEINT mirrors Spark's DECIMAL(38)
    QuerySpec("curate_source_concentration", CurateOps.curateSourceConcentration _, DuckDb("""
      WITH bysrc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
      ), ranked AS (
        SELECT n_docs,
               CAST(ROW_NUMBER() OVER (ORDER BY n_docs, source) AS BIGINT) AS i
        FROM bysrc
      ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
               CAST(SUM(n_docs) AS BIGINT) AS n_total,
               CAST(MAX(n_docs) AS BIGINT) AS n_top,
               CAST(SUM((2 * i - 1) * n_docs) AS BIGINT) AS gini_num0,
               CAST(SUM(n_docs * n_docs) AS BIGINT) AS sq_sum
        FROM ranked
      )
      SELECT n_sources,
             CAST(1000000 * n_top // n_total AS BIGINT) AS top_share_ppm,
             CAST((1000000 * (CAST(gini_num0 AS HUGEINT) - CAST(n_sources AS HUGEINT) * n_total))
                  // (CAST(n_sources AS HUGEINT) * n_total) AS BIGINT) AS gini_ppm,
             CAST((1000000 * CAST(sq_sum AS HUGEINT))
                  // (CAST(n_total AS HUGEINT) * n_total) AS BIGINT) AS hhi_ppm
      FROM agg""")),
    QuerySpec("curate_curriculum", CurateOps.curateCurriculum _, DuckDb("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
               CAST(len(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS BIGINT) AS n_chars
        FROM documents
      ), d AS (
        SELECT doc_id, n_tokens,
               (1000 * n_chars) // GREATEST(n_tokens, 1) AS difficulty_milli
        FROM t
      ), h AS (
        SELECT difficulty_milli AS v, COUNT(*) AS cnt FROM d GROUP BY 1
      ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
      ), cum AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v) AS cu FROM h
      ), e AS (
        SELECT (SELECT MIN(v) FROM cum, c WHERE 100 * cu >= 25 * n) AS e1,
               (SELECT MIN(v) FROM cum, c WHERE 100 * cu >= 50 * n) AS e2,
               (SELECT MIN(v) FROM cum, c WHERE 100 * cu >= 75 * n) AS e3
      )
      SELECT doc_id, n_tokens, difficulty_milli,
             CAST(CASE WHEN difficulty_milli <= e1 THEN 0
                       WHEN difficulty_milli <= e2 THEN 1
                       WHEN difficulty_milli <= e3 THEN 2 ELSE 3 END AS BIGINT) AS stage,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS shuffle_key
      FROM d, e""")),
    // UniMax water-fill replay (CurateOps.curateUnimax): languages
    // sorted by capacity ascending; capped iff even granting every
    // remaining language this capacity fits the budget; uncapped
    // languages split the leftover equally, remainder to the smallest
    // first. Integer-exact throughout (B=30000, E=2).
    QuerySpec("curate_unimax", ((s, dir) => CurateOps.curateUnimax(s, dir)), DuckDb("""
      WITH t AS (
        SELECT lang,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents
      ), stats AS (
        SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS tok_lang FROM t GROUP BY 1
      ), ranked AS (
        SELECT lang, tok_lang, CAST(tok_lang * 2 AS BIGINT) AS capacity,
               CAST(ROW_NUMBER() OVER (ORDER BY tok_lang * 2, lang) AS BIGINT) AS i,
               CAST(COALESCE(SUM(tok_lang * 2) OVER (
                 ORDER BY tok_lang * 2, lang
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_langs
        FROM stats
      ), flagged AS (
        SELECT *, CAST(cum_before + capacity * (n_langs - i + 1) <= 30000 AS BIGINT) AS capped
        FROM ranked
      ), agg AS (
        SELECT *,
               CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN capacity END) OVER (), 0) AS BIGINT) AS used,
               CAST(n_langs - CAST(SUM(capped) OVER () AS BIGINT) AS BIGINT) AS n_uncapped,
               CAST(SUM(1 - capped) OVER (
                 ORDER BY capacity, lang
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS u
        FROM flagged
      ), alloc AS (
        SELECT *, CAST(CASE WHEN capped = 1 THEN capacity
               ELSE (30000 - used) // n_uncapped +
                    (CASE WHEN u <= (30000 - used) % n_uncapped THEN 1 ELSE 0 END)
               END AS BIGINT) AS alloc
        FROM agg
      )
      SELECT lang, tok_lang, capacity, capped, alloc,
             CAST(CASE WHEN tok_lang > 0 THEN (alloc * 1000) // tok_lang ELSE 0 END AS BIGINT) AS epochs_permille
      FROM alloc""")),
    QuerySpec("emb_quantize", CurateOps.embQuantize _, DuckDb("""
      WITH m AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        FROM embeddings
      ), q AS (
        SELECT vec_id,
               CAST(ROUND(maxabs * 1e9) AS BIGINT) AS scale_nano,
               list_transform(embedding, x ->
                 CAST(ROUND(CAST(x AS DOUBLE) * 127.0 / GREATEST(maxabs, 1e-30)) AS BIGINT)) AS qv
        FROM m
      )
      SELECT vec_id, scale_nano,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm,
             CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1,
             CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
      FROM q""")),
    QuerySpec("curate_pipeline_full", CurateOps.curatePipelineFull _, DuckDb("""
      WITH ded AS (
        SELECT doc_id,
               CAST(CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp FROM documents) a
      ), spl AS (
        SELECT doc_id,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b FROM documents) x
      ), lng AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                    < CASE WHEN lang = 'en' THEN 100 WHEN lang = 'zh' THEN 25 ELSE 50 END AS BIGINT) AS lang_kept
        FROM documents
      ), bud AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 20000 AS BIGINT) AS budget_selected
        FROM (SELECT doc_id,
                CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
              FROM documents) t
      )
      SELECT d.doc_id, d.is_canonical, s.split, l.lang, l.lang_kept, b.n_tokens, b.budget_selected,
             CAST(d.is_canonical = 1 AND l.lang_kept = 1 AND b.budget_selected = 1 AS BIGINT) AS admitted
      FROM ded d JOIN spl s USING (doc_id) JOIN lng l USING (doc_id) JOIN bud b USING (doc_id)""")),
    QuerySpec("curate_source_overlap", CurateOps.curateSourceOverlap _, DuckDb("""
      WITH toks AS (
        SELECT source, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), grams AS (
        SELECT DISTINCT source, g FROM (
          SELECT source, unnest(list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))) AS g
          FROM toks WHERE len(w) >= 8) x
      ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
      ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
      )
      SELECT src_a, src_b, n_common, sa.n_grams AS n_a, sb.n_grams AS n_b,
             CAST((1000 * n_common) // (sa.n_grams + sb.n_grams - n_common) AS BIGINT) AS jaccard_milli
      FROM inter
      JOIN sizes sa ON sa.source = src_a
      JOIN sizes sb ON sb.source = src_b""")),
    QuerySpec("curate_dsir_select", CurateOps.curateDsirSelect _, DuckDb("""
      WITH toks AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')) AS tok
        FROM documents
      ), tb AS (
        SELECT doc_id, lang, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b FROM toks
      ), buckets AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS q_cnt,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt
        FROM tb GROUP BY b
      ), wtab AS (
        SELECT b,
               1000 * (CAST(len(bin(p_cnt + 1)) AS BIGINT) - CAST(len(bin(q_cnt + 1)) AS BIGINT)) AS w_milli
        FROM buckets
      ), norm AS (
        SELECT 1000 * (CAST(len(bin(CAST(SUM(p_cnt) AS BIGINT) + 1)) AS BIGINT)
                     - CAST(len(bin(CAST(SUM(q_cnt) AS BIGINT) + 1)) AS BIGINT)) AS k_milli
        FROM buckets
      )
      SELECT doc_id, n_toks, score_milli,
             CAST(score_milli // n_toks AS BIGINT) AS avg_milli,
             CAST(CASE WHEN score_milli >= 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
      FROM (
        SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(CAST(SUM(w.w_milli) AS BIGINT)
                    - CAST(COUNT(*) AS BIGINT) * (SELECT k_milli FROM norm) AS BIGINT) AS score_milli
        FROM tb JOIN wtab w ON w.b = tb.b
        GROUP BY tb.doc_id
      ) t""")),
    QuerySpec("curate_split_leakfree", CurateOps.curateSplitLeakfree _, DuckDb(s"""
      WITH RECURSIVE pairs AS ($SimhashPairsSql
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), reach(node, lab) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
      ), cl AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
      ), assigned AS (
        SELECT d.doc_id,
               COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
               ('0x' || substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
      )
      SELECT doc_id, cluster_id, bucket,
             CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM assigned""")),
    QuerySpec("curate_quality_drift", CurateOps.curateQualityDrift _, DuckDb("""
      WITH lens AS (
        SELECT source,
               LEAST(CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')) AS BIGINT) // 32, 7) AS bucket
        FROM documents
      ), per_src AS (
        SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM lens GROUP BY 1, 2
      ), src_tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM lens GROUP BY 1
      ), corpus AS (
        SELECT bucket, CAST((1000000 * CAST(COUNT(*) AS BIGINT)) // (SELECT COUNT(*) FROM lens) AS BIGINT) AS ppm_corpus
        FROM lens GROUP BY 1
      ), scaffold AS (
        SELECT s.source, s.n_docs, b.bucket FROM src_tot s, (SELECT unnest(range(0, 8)) AS bucket) b
      )
      SELECT sc.source, sc.n_docs,
             CAST(SUM(ABS((1000000 * COALESCE(p.cnt, 0)) // sc.n_docs - c.ppm_corpus)) AS BIGINT) AS l1_ppm
      FROM scaffold sc
      LEFT JOIN per_src p ON p.source = sc.source AND p.bucket = sc.bucket
      JOIN corpus c ON c.bucket = sc.bucket
      GROUP BY 1, 2""")),
    QuerySpec("curate_datacard", CurateOps.curateDatacard _, DuckDb(s"""
      WITH gate AS ($GopherGateSql),
      d AS (
        SELECT doc_id, source, lang FROM documents
      ), fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents
      ), dup AS (
        SELECT fp FROM fp GROUP BY 1 HAVING COUNT(*) > 1
      ), perdoc AS (
        SELECT d.doc_id, d.source, g.n_tokens, g.admitted,
               CASE WHEN f.fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END AS is_dup
        FROM d JOIN gate g USING (doc_id) JOIN fp f USING (doc_id)
      ), base AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(admitted) AS BIGINT) AS n_admitted,
               CAST(SUM(is_dup) AS BIGINT) AS n_dup
        FROM perdoc GROUP BY 1
      ), lc AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
      ), tl AS (
        SELECT source, lang AS top_lang, c AS top_c
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn FROM lc) x
        WHERE rn = 1
      ), nl AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs FROM lc GROUP BY 1
      )
      SELECT b.source, b.n_docs, b.n_tokens,
             (1000000 * b.n_admitted) // b.n_docs AS gopher_pass_ppm,
             (1000000 * b.n_dup) // b.n_docs AS dup_ppm,
             nl.n_langs, tl.top_lang,
             (1000000 * tl.top_c) // b.n_docs AS top_lang_ppm
      FROM base b JOIN tl USING (source) JOIN nl USING (source)""")),
    QuerySpec("curate_quality_quantiles", CurateOps.curateQualityQuantiles _, DuckDb(s"""
      WITH scored AS ($QualityScoredSql),
      hist AS (
        SELECT d.source, s.score, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM scored s JOIN documents d USING (doc_id) GROUP BY 1, 2
      ), cum AS (
        SELECT source, score,
               SUM(cnt) OVER (PARTITION BY source ORDER BY score) AS cum,
               SUM(cnt) OVER (PARTITION BY source) AS n
        FROM hist
      ), qs(q) AS (VALUES (25), (50), (75))
      SELECT source, CAST(q AS BIGINT) AS q, MIN(score) AS score_milli
      FROM cum CROSS JOIN qs
      WHERE 100 * cum >= q * n
      GROUP BY 1, 2""")),
    QuerySpec("curate_filter_ensemble", CurateOps.curateFilterEnsemble _, DuckDb {
      val vals = graft.operators.TextOps.QualityWeights
        .map { case (t, w) => s"('$t', ${w}::BIGINT)" }.mkString(", ")
      val thr = graft.operators.TextOps.QualityThresholdMilli
      s"""
      WITH wts(term, w_milli) AS (VALUES $vals),
      d AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS w
        FROM documents
      ), base AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM d
      ), hits AS (
        SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS hit_milli
        FROM (SELECT doc_id, unnest(w) AS term FROM d) t JOIN wts USING (term)
        GROUP BY 1
      ), clf AS (
        SELECT b.doc_id,
               CAST(COALESCE(hit_milli, 0) >= $thr * b.n_tokens AS BIGINT) AS clf_keep
        FROM base b LEFT JOIN hits USING (doc_id)
      ), gate AS ($GopherGateSql),
      ccnet AS (
        WITH scored AS ($CharLmSql),
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
        h AS (SELECT avg_millibits AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM scored GROUP BY 1),
        cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cu FROM h),
        t AS (SELECT MIN(CASE WHEN 3 * cu >= (SELECT n FROM c) THEN v END) AS t1,
                     MIN(CASE WHEN 3 * cu >= 2 * (SELECT n FROM c) THEN v END) AS t2
              FROM cum)
        SELECT doc_id,
               CASE WHEN avg_millibits <= t.t1 THEN 'head'
                    WHEN avg_millibits <= t.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored, t
      ), joined AS (
        SELECT clf.doc_id, clf.clf_keep, gate.admitted, ccnet.bucket
        FROM clf JOIN gate USING (doc_id) JOIN ccnet USING (doc_id)
      ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM joined)
      SELECT clf_keep, admitted, bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             (1000000 * CAST(COUNT(*) AS BIGINT)) // tot.total AS share_ppm,
             CAST(clf_keep = 1 AND admitted = 1 AND bucket = 'head' AS BIGINT) AS keep_strict,
             CAST(clf_keep + admitted + (CASE WHEN bucket <> 'tail' THEN 1 ELSE 0 END) >= 2 AS BIGINT) AS keep_majority
      FROM joined, tot
      GROUP BY 1, 2, 3, tot.total"""
    }),
    QuerySpec("curate_dedup_weight", CurateOps.curateDedupWeight _, DuckDb(s"""
      WITH RECURSIVE pairs AS ($SimhashPairsSql
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), reach(node, lab) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
      ), cl AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
      ), sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM cl GROUP BY 1
      ), mem AS (
        SELECT cl.doc_id, s.sz FROM cl JOIN sizes s USING (cluster_id)
      )
      SELECT d.doc_id, d.source,
             COALESCE(m.sz, 1) AS cluster_size,
             1000000 // COALESCE(m.sz, 1) AS weight_ppm
      FROM documents d LEFT JOIN mem m USING (doc_id)""")),
    QuerySpec("curate_calibration", CurateOps.curateCalibration _, DuckDb(s"""
      WITH scored AS ($QualityScoredSql),
      gate AS ($GopherGateSql),
      b AS (
        SELECT s.doc_id,
               (GREATEST(LEAST(s.score, 499), -500) + 500) // 100 - 5 AS bucket,
               g.admitted
        FROM scored s JOIN gate g USING (doc_id)
      )
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(admitted) AS BIGINT) AS n_admitted,
             (1000000 * CAST(SUM(admitted) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS admit_ppm
      FROM b GROUP BY 1""")),
    QuerySpec("curate_epochs", CurateOps.curateEpochs _, DuckDb(s"""
      WITH RECURSIVE pairs AS ($SimhashPairsSql
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), reach(node, lab) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
      ), cl AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
      ), sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM cl GROUP BY 1
      ), mem AS (
        SELECT cl.doc_id, s.sz FROM cl JOIN sizes s USING (cluster_id)
      ), w AS (
        SELECT d.doc_id, d.source,
               1000000 // COALESCE(m.sz, 1) AS weight_ppm
        FROM documents d LEFT JOIN mem m USING (doc_id)
      ), toks AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents
      ), mass AS (
        SELECT w.source, CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM((w.weight_ppm * t.n_tokens) // 1000) AS BIGINT) AS dedup_mass
        FROM w JOIN toks t USING (doc_id) GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
               CAST(SUM(dedup_mass) AS BIGINT) AS tot_mass
        FROM mass
      ), calc0 AS (
        SELECT m.source, m.n_tokens, t.tot_tokens,
               CASE WHEN t.tot_mass < 9000000000000
                    THEN (1000000 * m.dedup_mass) // t.tot_mass
                    ELSE m.dedup_mass // (t.tot_mass // 1000000) END AS target_share_ppm
        FROM mass m CROSS JOIN tot t
      ), calc AS (
        SELECT source, n_tokens, target_share_ppm,
               ${graft.operators.CurateOps.BudgetMultiple} * ((tot_tokens // 1000000) * target_share_ppm
                 + ((tot_tokens % 1000000) * target_share_ppm) // 1000000) AS target_tokens
        FROM calc0
      )
      SELECT source, n_tokens,
             CAST(target_share_ppm AS BIGINT) AS target_share_ppm,
             CAST(target_tokens AS BIGINT) AS target_tokens,
             CAST(LEAST(${graft.operators.CurateOps.EpochCapMilli}, (1000 * target_tokens) // n_tokens) AS BIGINT) AS epochs_milli,
             CAST((LEAST(${graft.operators.CurateOps.EpochCapMilli}, (1000 * target_tokens) // n_tokens) * n_tokens) // 1000 AS BIGINT) AS planned_tokens
      FROM calc""")),
    QuerySpec("txt_fertility", TextOps.txtFertility _, DuckDb(s"""
      WITH seg AS ($BpeSegmentSql),
      occ AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS occ FROM (
          SELECT lang,
                 unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS word
          FROM documents) z
        GROUP BY 1, 2
      ), j AS (
        SELECT o.lang, o.occ, s.n_pieces FROM occ o JOIN seg s USING (word)
      )
      SELECT lang,
             CAST(SUM(occ) AS BIGINT) AS n_words,
             CAST(SUM(occ * n_pieces) AS BIGINT) AS n_pieces,
             (1000 * CAST(SUM(occ * n_pieces) AS BIGINT)) // CAST(SUM(occ) AS BIGINT) AS fertility_milli,
             (1000000 * CAST(SUM(CASE WHEN n_pieces = 1 THEN occ ELSE 0 END) AS BIGINT)) // CAST(SUM(occ) AS BIGINT) AS whole_ppm
      FROM j GROUP BY 1""")),
    // similarity search
    QuerySpec("sim_topk", SimilarityOps.simTopK _, DuckDb(ExactTopkSql)),
    QuerySpec("emb_neardup", SimilarityOps.embNearDup _, DuckDb("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), s AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               CAST(list_sum(list_transform(a.q, x -> x * x)) AS BIGINT) AS na,
               CAST(list_sum(list_transform(b.q, x -> x * x)) AS BIGINT) AS nb
        FROM e a, e b WHERE a.vec_id < b.vec_id
      )
      SELECT vec_a, vec_b, dot,
             CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
      FROM s
      WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.4""")),
    // sign-LSH with the SAME literal hyperplanes as the Spark plan
    // (SimilarityOps.planeSign), bucket equi-join, exact re-score
    QuerySpec("sim_lsh_topk", SimilarityOps.simLshTopK _, DuckDb(LshTopkSql)),
    QuerySpec("sim_ivf_topk", SimilarityOps.simIvfTopK _, DuckDb(IvfTopkSql)),
    QuerySpec("sim_ivf_radius", ((s, d) => SimilarityOps.simIvfRadius(s, d)), DuckDb(s"""
      WITH $IvfCellCtes,
      probes AS (
        SELECT qid, cell FROM (
          SELECT a.vec_id AS qid, c.centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   CAST($IvfDot AS DOUBLE) / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
                   c.centroid_id) AS rnk
          FROM en a, c3 c WHERE a.vec_id < 10
        ) WHERE rnk <= 4
      ), cand AS (
        SELECT p.qid, en2.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, 65), i -> q1.q[i] * en2.q[i])) AS BIGINT) AS dot,
               q1.nq AS qn, en2.nq AS cn2
        FROM probes p
        JOIN en q1 ON q1.vec_id = p.qid
        JOIN cells cl ON cl.cell = p.cell
        JOIN en en2 ON en2.vec_id = cl.vec_id
        WHERE en2.vec_id <> p.qid
      )
      SELECT qid, cid,
             CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cos
      FROM cand
      WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) >= 0.3""")),
    // radius search: identical probes + exact re-score as the IVF
    // top-k oracle, with a cosine-bar filter instead of the window
    QuerySpec("sim_index_drift", SimilarityOps.simIndexDrift _, DuckDb(IndexDriftSql)),
    QuerySpec("sim_cluster_sample",
      (s, dir) => SimilarityOps.simClusterSample(s, dir, budget = 800L), DuckDb {
      // cluster-balanced sampling replay: the shared k-means CTEs give
      // each vector's cell; per-cell admission = ROW_NUMBER by vec_id
      // within the cell, admitted iff ≤ ceil(800 / 16) = 50 (vec_ids
      // are distinct, so rank order equals the engine's min_k set)
      s"""
      WITH $IvfCellCtes,
      rk AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        FROM cells
      )
      SELECT vec_id, cell,
             CAST(CASE WHEN rn <= 50 THEN 1 ELSE 0 END AS BIGINT) AS picked
      FROM rk"""
    }),
    QuerySpec("sim_rrf_fusion", SimilarityOps.simRrfFusion _, DuckDb(s"""
      WITH la AS (SELECT * FROM ($LshTopkSql) x),
      ib AS (SELECT * FROM ($IvfTopkSql) y),
      fused AS (
        SELECT COALESCE(la.qid, ib.qid) AS qid, COALESCE(la.cid, ib.cid) AS cid,
               COALESCE(1000000000 // (60 + la.rn), 0) + COALESCE(1000000000 // (60 + ib.rn), 0) AS rrf
        FROM la FULL OUTER JOIN ib ON la.qid = ib.qid AND la.cid = ib.cid
      )
      SELECT qid, cid, CAST(rrf AS BIGINT) AS rrf, CAST(fused_rank AS BIGINT) AS fused_rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS fused_rank
        FROM fused
      ) t WHERE fused_rank <= 5""")),
    QuerySpec("sim_filtered_topk", ((s, d) => SimilarityOps.simFilteredTopK(s, d)), DuckDb("""
      WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), s AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(a.label AS BIGINT) AS label,
               CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               CAST(list_sum(list_transform(a.q, x -> x * x)) AS BIGINT) AS na,
               CAST(list_sum(list_transform(b.q, x -> x * x)) AS BIGINT) AS nb
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < 10 AND a.vec_id <> b.vec_id
      )
      SELECT qid, cid, label, cos, rn FROM (
        SELECT qid, cid, label,
               CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos,
               ROW_NUMBER() OVER (
                 PARTITION BY qid
                 ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, cid) AS rn
        FROM s
      ) t WHERE rn <= 5""")),
    QuerySpec("sim_pq_topk", SimilarityOps.simPqTopK _, DuckDb {
      // The full PQ pipeline replayed in SQL: subvector reshaping, the
      // joint (subspace, codeword)-keyed k-means (PqCodeCtes — strided
      // seed, two unrolled Lloyd iterations, final code assignment),
      // then the ADC lookup-table scoring — all integer-exact, so the
      // hashes match bit-for-bit.
      s"""
      WITH $PqCodeCtes,
      lut AS (
        SELECT s.vec_id AS qid, s.m, c.c, $PqDist AS pd
        FROM subsn s JOIN cb2 c ON s.m = c.m
        WHERE s.vec_id < 10
      ), scored AS (
        SELECT l.qid, k.vec_id AS cid, CAST(SUM(l.pd) AS BIGINT) AS adist
        FROM codes k JOIN lut l ON l.m = k.m AND l.c = k.c
        WHERE l.qid <> k.vec_id
        GROUP BY 1, 2
      )
      SELECT qid, cid, adist, rn FROM (
        SELECT qid, cid, adist,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
        FROM scored
      ) t WHERE rn <= 5"""
    }),
    QuerySpec("sim_ivfpq_topk", SimilarityOps.simIvfPqTopK _, DuckDb(IvfPqSql)),
    QuerySpec("sim_knn_graph", ((s, d) => SimilarityOps.simKnnGraph(s, d)), DuckDb("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), s AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr,
               CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               CAST(list_sum(list_transform(a.q, x -> x * x)) AS BIGINT) AS ns,
               CAST(list_sum(list_transform(b.q, x -> x * x)) AS BIGINT) AS nn
        FROM e a, e b WHERE a.vec_id <> b.vec_id
      )
      SELECT src, nbr, dot, CAST(dot AS DOUBLE) / (sqrt(CAST(ns AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE))) AS cos, rn
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY src
          ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(ns AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE))) DESC, nbr) AS rn
        FROM s
      ) t WHERE rn <= 5""")),
    QuerySpec("sim_knn_classify", ((s, d) => SimilarityOps.simKnnClassify(s, d)), DuckDb("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), l AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
      ), s AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr,
               CAST(CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(CAST(list_sum(list_transform(a.q, x -> x * x)) AS BIGINT) AS DOUBLE))
                    * sqrt(CAST(CAST(list_sum(list_transform(b.q, x -> x * x)) AS BIGINT) AS DOUBLE))) AS cos
        FROM e a, e b
        WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
      ), topk AS (
        SELECT src, nbr FROM (
          SELECT src, nbr, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rn
          FROM s
        ) t WHERE rn <= 5
      ), votes AS (
        SELECT tk.src, l.label AS nbr_label, CAST(COUNT(*) AS BIGINT) AS votes
        FROM topk tk JOIN l ON tk.nbr = l.vec_id GROUP BY 1, 2
      ), best AS (
        SELECT src, nbr_label, votes,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY votes DESC, nbr_label) AS rn
        FROM votes
      )
      SELECT b.src AS vec_id, l.label AS true_label, b.nbr_label AS pred_label, b.votes
      FROM best b JOIN l ON b.src = l.vec_id WHERE b.rn = 1""")),
    QuerySpec("sim_recall_eval", SimilarityOps.simRecallEval _, DuckDb(s"""
      WITH ex AS (SELECT qid, cid FROM ($ExactTopkSql) x),
      la AS (SELECT qid, cid FROM ($LshTopkSql) y),
      ib AS (SELECT qid, cid FROM ($IvfTopkSql) z),
      ne AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex GROUP BY qid),
      lh AS (SELECT la.qid, CAST(COUNT(*) AS BIGINT) AS lsh_hits
             FROM la JOIN ex ON la.qid = ex.qid AND la.cid = ex.cid GROUP BY la.qid),
      ih AS (SELECT ib.qid, CAST(COUNT(*) AS BIGINT) AS ivf_hits
             FROM ib JOIN ex ON ib.qid = ex.qid AND ib.cid = ex.cid GROUP BY ib.qid)
      SELECT ne.qid, ne.n_exact,
             CAST(COALESCE(lh.lsh_hits, 0) AS BIGINT) AS lsh_hits,
             CAST(COALESCE(ih.ivf_hits, 0) AS BIGINT) AS ivf_hits,
             CAST((1000 * COALESCE(lh.lsh_hits, 0)) // ne.n_exact AS BIGINT) AS lsh_recall_milli,
             CAST((1000 * COALESCE(ih.ivf_hits, 0)) // ne.n_exact AS BIGINT) AS ivf_recall_milli
      FROM ne LEFT JOIN lh ON lh.qid = ne.qid LEFT JOIN ih ON ih.qid = ne.qid""")),
    QuerySpec("sim_matryoshka_eval", SimilarityOps.simMatryoshkaEval _, DuckDb("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, q, q[1:16] AS q16,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq,
               CAST(list_sum(list_transform(q[1:16], x -> x * x)) AS BIGINT) AS nq16
        FROM e
      ), s AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT) AS d64,
               CAST(list_sum(list_transform(range(1, 17), i -> a.q16[i] * b.q16[i])) AS BIGINT) AS d16,
               a.nq AS na, b.nq AS nb, a.nq16 AS na16, b.nq16 AS nb16
        FROM en a, en b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
      ), ranked AS (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 CAST(d64 AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, cid) AS rn64,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 CAST(d16 AS DOUBLE) / (sqrt(CAST(na16 AS DOUBLE)) * sqrt(CAST(nb16 AS DOUBLE))) DESC, cid) AS rn16
        FROM s
      ), t64 AS (SELECT qid, cid, rn64 FROM ranked WHERE rn64 <= 5),
      t16 AS (SELECT qid, cid, rn16 FROM ranked WHERE rn16 <= 5)
      SELECT t64.qid,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN t16.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
             CAST(SUM(CASE WHEN t64.rn64 = 1 AND t16.rn16 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1_match,
             CAST((1000 * SUM(CASE WHEN t16.cid IS NOT NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS overlap_milli
      FROM t64 LEFT JOIN t16 ON t16.qid = t64.qid AND t16.cid = t64.cid
      GROUP BY t64.qid""")),
    QuerySpec("sim_hard_negatives", SimilarityOps.simHardNegatives _, DuckDb("""
      WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, label, q,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
        FROM e
      ), s AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CASE WHEN a.label = b.label THEN 'pos' ELSE 'neg' END AS kind,
               CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               a.nq AS na, b.nq AS nb
        FROM en a, en b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
      )
      SELECT qid, cid, kind,
             CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos,
             CAST(rn AS BIGINT) AS rn
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY qid, kind
          ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, cid) AS rn
        FROM s
      ) t WHERE rn <= 3""")),
    QuerySpec("sim_kcenter_select", ((s, d) => SimilarityOps.simKcenterSelect(s, d)), DuckDb(KcenterSql)),
    QuerySpec("sim_hybrid_search", SimilarityOps.simHybridSearch _, DuckDb(s"""
      WITH lex AS (SELECT * FROM ($Bm25Sql) b),
      dense AS (
        SELECT qid, cid AS doc_id, rn AS dense_rank
        FROM ($ExactTopkSql) e WHERE qid IN (1, 2, 3, 4, 5)
      ), j AS (
        SELECT COALESCE(l.qid, d.qid) AS qid,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               COALESCE(l.rn, 0) AS lex_rank,
               COALESCE(d.dense_rank, 0) AS dense_rank,
               COALESCE(1000000000 // (60 + l.rn), 0) +
               COALESCE(1000000000 // (60 + d.dense_rank), 0) AS rrf_micro
        FROM (SELECT qid, doc_id, rn FROM lex) l
        FULL OUTER JOIN dense d ON l.qid = d.qid AND l.doc_id = d.doc_id
      )
      SELECT qid, doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
             CAST(dense_rank AS BIGINT) AS dense_rank,
             CAST(rrf_micro AS BIGINT) AS rrf_micro,
             CAST(rk AS BIGINT) AS fused_rank
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, doc_id) AS rk
        FROM j
      ) t WHERE rk <= 5""")),
    QuerySpec("sim_mmr_select", ((s, d) => SimilarityOps.simMmrSelect(s, d)), DuckDb(MmrSql)),
    QuerySpec("sim_triplets", SimilarityOps.simTriplets _, DuckDb("""
      WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, label, q,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
        FROM e
      ), s AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CASE WHEN a.label = b.label THEN 'pos' ELSE 'neg' END AS kind,
               CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               a.nq AS na, b.nq AS nb
        FROM en a, en b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
      ), tk AS (
        SELECT qid, cid, kind,
               CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos,
               CAST(rn AS BIGINT) AS rn
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid, kind
            ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, cid) AS rn
          FROM s
        ) t WHERE rn <= 3
      ), p AS (
        SELECT qid AS anchor, cid AS pos_id, cos AS pos_cos, rn AS pos_rank FROM tk WHERE kind = 'pos'
      ), ng AS (
        SELECT qid AS anchor, cid AS neg_id, cos AS neg_cos, rn AS neg_rank FROM tk WHERE kind = 'neg'
      )
      SELECT anchor, pos_id, neg_id, pos_rank, neg_rank, pos_cos - neg_cos AS margin
      FROM p JOIN ng USING (anchor)
      WHERE neg_cos + CAST(0.2 AS DOUBLE) > pos_cos""")),
    QuerySpec("sim_diversity_eval", SimilarityOps.simDiversityEval _, DuckDb(s"""
      WITH kcsel AS MATERIALIZED (SELECT vec_id FROM ($KcenterSql) k),
      mmrsel AS MATERIALIZED (SELECT cid AS vec_id FROM ($MmrSql) mm),
      sel AS MATERIALIZED (
        SELECT 'kcenter' AS method, vec_id FROM kcsel
        UNION ALL SELECT 'mmr' AS method, vec_id FROM mmrsel
        UNION ALL SELECT 'first_k' AS method, CAST(u AS BIGINT) AS vec_id
                  FROM unnest(range(0, 8)) AS t(u)
      ), e2 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en2 AS (
        SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM e2
      ), mem AS (
        SELECT s.method, s.vec_id, en2.q, en2.nq FROM sel s JOIN en2 USING (vec_id)
      ), pr AS (
        SELECT a.method,
               CAST(FLOOR(1000000.0 * (CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE)
                    / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))))) AS BIGINT) AS cos_micro
        FROM mem a JOIN mem b ON a.method = b.method AND a.vec_id < b.vec_id
      )
      SELECT method, n_pairs,
             CAST((sum_cos_micro - (((sum_cos_micro % n_pairs) + n_pairs) % n_pairs)) // n_pairs AS BIGINT) AS mean_cos_micro
      FROM (
        SELECT method, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(cos_micro) AS BIGINT) AS sum_cos_micro
        FROM pr GROUP BY 1
      ) z""")),
    QuerySpec("emb_norm_stats", SimilarityOps.embNormStats _, DuckDb("""
      WITH e AS (
        SELECT vec_id, label,
               CAST(list_sum(list_transform(
                 list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)),
                 q -> q * q)) AS BIGINT) AS nq
        FROM embeddings
      )
      SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             MIN(nq) AS min_nq, MAX(nq) AS max_nq,
             CAST(SUM(nq) // COUNT(*) AS BIGINT) AS mean_nq,
             CAST(SUM(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      FROM e GROUP BY 1""")),
    QuerySpec("txt_boilerplate_remove", ((s, d) => TextOps.txtBoilerplateRemove(s, d)), DuckDb("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ), s AS (
        SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
      ), segs AS (
        SELECT doc_id, CAST(st // 8 AS BIGINT) AS seg_id,
               array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS seg_text
        FROM s, unnest(range(0, n, 8)) AS u(st)
      ), boiler AS (
        SELECT seg_text FROM (SELECT DISTINCT doc_id, seg_text FROM segs) d
        GROUP BY 1 HAVING COUNT(*) >= 3
      ), kept AS (
        SELECT * FROM segs WHERE seg_text NOT IN (SELECT seg_text FROM boiler)
      )
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(seg_text, ' ' ORDER BY seg_id) AS clean_text
      FROM kept GROUP BY 1""")),
    QuerySpec("txt_vocab_coverage", ((s, d) => TextOps.txtVocabCoverage(s, d)), DuckDb("""
      WITH toks AS (
        SELECT unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                      x -> x <> '')) AS term
        FROM documents
      ), counts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
      ), h AS (
        SELECT cnt AS f, CAST(SUM(cnt) AS BIGINT) AS mass FROM counts GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(mass) AS BIGINT) AS total FROM h
      ), cum AS (
        SELECT f, SUM(mass) OVER (ORDER BY f DESC) AS cu FROM h
      ), fs AS (
        SELECT CAST(MAX(f) AS BIGINT) AS fstar
        FROM cum WHERE cu * 1000000 >= 950000 * (SELECT total FROM tot)
      )
      SELECT term, cnt,
             CAST(CASE WHEN cnt >= fstar THEN 1 ELSE 0 END AS BIGINT) AS in_vocab,
             fstar AS cutoff_freq
      FROM counts, fs""")),
    QuerySpec("txt_topic_tag", TextOps.txtTopicTag _, DuckDb {
      val lexVals = graft.operators.TextOps.TopicLexicon
        .flatMap { case (t, ks) => ks.map(k => s"('$k', '$t')") }.mkString(", ")
      s"""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                      x -> x <> '')) AS term
        FROM documents
      ), lex(term, topic) AS (
        SELECT * FROM (VALUES $lexVals) v(term, topic)
      ), hits AS (
        SELECT doc_id, topic, CAST(COUNT(*) AS BIGINT) AS hits
        FROM toks JOIN lex USING (term) GROUP BY 1, 2
      )
      SELECT doc_id, topic, hits
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, topic) AS rn FROM hits) t
      WHERE rn = 1"""
    }),
    QuerySpec("txt_prefix_groups", TextOps.txtPrefixGroups _, DuckDb("""
      WITH p AS (
        SELECT doc_id,
               substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), 1, 32) AS prefix
        FROM documents
      )
      SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM p GROUP BY 1 HAVING COUNT(*) >= 2""")),
    QuerySpec("txt_novelty", TextOps.txtNovelty _, DuckDb("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS w
        FROM documents
      ), s AS (
        SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) >= 8
      ), gr AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(w, i + 1, i + 8), ' ') AS gm
        FROM s, unnest(range(0, n - 8 + 1)) AS u(i)
      ), f AS (
        SELECT gm, MIN(doc_id) AS first_doc FROM gr GROUP BY 1
      )
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST((1000000 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS novelty_ppm
      FROM gr JOIN f USING (gm) GROUP BY 1""")),
    QuerySpec("txt_lang_confusion", TextOps.txtLangConfusion _, DuckDb(s"""
      WITH l AS ($LangIdSql),
      cm AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n FROM l GROUP BY 1, 2
      ), t AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total FROM cm GROUP BY 1
      )
      SELECT cm.lang, cm.pred_lang, cm.n, t.lang_total,
             (1000000 * cm.n) // t.lang_total AS share_ppm
      FROM cm JOIN t USING (lang)""")),
    QuerySpec("txt_readability", TextOps.txtReadability _, DuckDb("""
      SELECT doc_id, words, sentences, syllables,
             206835 - (1015 * words) // sentences - (84600 * syllables) // words AS fre_milli
      FROM (
        SELECT doc_id,
               CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS BIGINT) AS words,
               CAST(GREATEST(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT) AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
        FROM documents
      ) b WHERE words > 0""")),
    QuerySpec("q_session_text", Events.qSessionText _, DuckDb("""
      SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(us) AS start_us,
             string_agg(event_type, ' ' ORDER BY us, event_id) AS session_text
      FROM (
        SELECT user_id, event_id, event_type, us,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM (
          SELECT user_id, event_id, event_type, us,
                 CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events) e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ) b
      ) c GROUP BY 1, 2""")),
    QuerySpec("q_event_debounce", Events.qEventDebounce _, DuckDb(s"""
      SELECT event_id, user_id, event_type, us AS ts_us,
             COALESCE(us - prev_us, -1) AS gap_us
      FROM (
        SELECT event_id, user_id, event_type, us,
               LAG(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) AS prev_us
        FROM (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events) e
      ) t WHERE prev_us IS NULL OR us - prev_us > ${Events.DebounceMinGapUs}""")),
    QuerySpec("q_rfm_segments", Events.qRfmSegments _, DuckDb("""
      WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
      ), mx AS (
        SELECT MAX(ts_us) AS m FROM e
      ), pu AS (
        SELECT user_id,
               MIN((m - ts_us) // 86400000000) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(cents) AS BIGINT) AS monetary_cents,
               CAST(SUM(cents >> CAST(LEAST(((m - ts_us) // 86400000000) // 30, 62) AS INT)) AS BIGINT) AS decay_cents
        FROM e, mx GROUP BY 1
      ), sc AS (
        SELECT user_id, recency_days, frequency, monetary_cents, decay_cents,
               CASE WHEN recency_days <= 7 THEN 5 WHEN recency_days <= 30 THEN 4
                    WHEN recency_days <= 90 THEN 3 WHEN recency_days <= 180 THEN 2
                    ELSE 1 END AS r_score,
               CASE WHEN frequency >= 50 THEN 5 WHEN frequency >= 20 THEN 4
                    WHEN frequency >= 10 THEN 3 WHEN frequency >= 5 THEN 2
                    ELSE 1 END AS f_score,
               CASE WHEN monetary_cents >= 500000 THEN 5 WHEN monetary_cents >= 100000 THEN 4
                    WHEN monetary_cents >= 20000 THEN 3 WHEN monetary_cents >= 5000 THEN 2
                    ELSE 1 END AS m_score
        FROM pu
      )
      SELECT user_id, recency_days, frequency, monetary_cents, decay_cents,
             CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
             CAST(m_score AS BIGINT) AS m_score,
             CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                  WHEN r_score >= 4 AND f_score >= 2 THEN 'loyal'
                  WHEN r_score >= 3 THEN 'active'
                  WHEN f_score >= 4 THEN 'at_risk'
                  ELSE 'hibernating' END AS segment
      FROM sc""")),
    QuerySpec("q_event_anomaly", Events.qEventAnomaly _, DuckDb("""
      WITH daily AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
      ), dn AS (
        SELECT event_type, day, n,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(strptime(day, '%Y-%m-%d') AS DATE)) AS BIGINT) AS day_num
        FROM daily
      ), wnd AS (
        SELECT event_type, day, n,
               CAST(COALESCE(SUM(n) OVER (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev7_sum,
               CAST(COUNT(n) OVER (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS prev7_days
        FROM dn
      )
      SELECT event_type, day, n, prev7_sum, prev7_days,
             CAST(CASE WHEN prev7_days = 7 AND n * 7 > prev7_sum * 2
                  THEN 1 ELSE 0 END AS BIGINT) AS is_spike
      FROM wnd""")),
    QuerySpec("txt_bitext_mine", ((s, d) => TextOps.txtBitextMine(s, d)), DuckDb(BitextSql)),
    QuerySpec("txt_bitext_align", TextOps.txtBitextAlign _, DuckDb(s"""
      WITH cand AS ($BitextSql),
      t2 AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ), s2 AS (
        SELECT doc_id, toks, len(toks) AS n FROM t2 WHERE len(toks) > 0
      ), segs AS (
        SELECT doc_id, CAST(st // 8 AS BIGINT) AS seg_id,
               array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS seg_text
        FROM s2, unnest(range(0, n, 8)) AS u(st)
      ), ns AS (
        SELECT doc_id, MAX(seg_id) + 1 AS n_segs FROM segs GROUP BY 1
      ), aside AS (
        SELECT c.doc_a, c.doc_b, sa.seg_id AS seg_a_id, sa.seg_text AS seg_a,
               (sa.seg_id * nb.n_segs) // na.n_segs AS seg_b_id
        FROM cand c
        JOIN ns na ON na.doc_id = c.doc_a
        JOIN ns nb ON nb.doc_id = c.doc_b
        JOIN segs sa ON sa.doc_id = c.doc_a
      ), j AS (
        SELECT a.doc_a, a.doc_b, a.seg_a_id, a.seg_b_id, a.seg_a,
               sb.seg_text AS seg_b
        FROM aside a
        JOIN segs sb ON sb.doc_id = a.doc_b AND sb.seg_id = a.seg_b_id
      )
      SELECT doc_a, doc_b, seg_a_id, seg_b_id, seg_a, seg_b,
             CAST(len(list_intersect(
               CASE WHEN len(string_split(seg_a, ' ')) >= 5
                 THEN list_transform(range(1, len(string_split(seg_a, ' ')) - 3),
                      i -> array_to_string(string_split(seg_a, ' ')[i:i+4], ' '))
                 ELSE [] END,
               CASE WHEN len(string_split(seg_b, ' ')) >= 5
                 THEN list_transform(range(1, len(string_split(seg_b, ' ')) - 3),
                      i -> array_to_string(string_split(seg_b, ' ')[i:i+4], ' '))
                 ELSE [] END)) AS BIGINT) AS n_anchor
      FROM j""")),
    QuerySpec("txt_paragraph_dedup", ((s, d) => TextOps.txtParagraphDedup(s, d)), DuckDb("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ), s AS (
        SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
      ), segs AS (
        SELECT doc_id, CAST(st // 8 AS BIGINT) AS seg_id,
               array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS seg_text
        FROM s, unnest(range(0, n, 8)) AS u(st)
      ), agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
               CAST(COUNT(*) - COUNT(DISTINCT seg_text) AS BIGINT) AS n_dupes
        FROM segs GROUP BY 1
      ), firsts AS (
        SELECT doc_id, seg_text, MIN(seg_id) AS seg_id FROM segs GROUP BY 1, 2
      ), ct AS (
        SELECT doc_id, string_agg(seg_text, ' ' ORDER BY seg_id) AS clean_text
        FROM firsts GROUP BY 1
      )
      SELECT doc_id, n_segs, n_dupes, clean_text FROM agg JOIN ct USING (doc_id)""")),
    QuerySpec("txt_trigram_lm", TextOps.txtTrigramLm _, DuckDb("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ), uni AS (
        SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1
      ), bi AS (
        SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
          SELECT toks[i-1] || ' ' || toks[i] AS bg
          FROM t, unnest(range(2, len(toks) + 1)) AS u(i)
          WHERE len(toks) >= 2
        ) GROUP BY 1
      ), tri AS (
        SELECT tg, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
          SELECT toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i] AS tg
          FROM t, unnest(range(3, len(toks) + 1)) AS u(i)
          WHERE len(toks) >= 3
        ) GROUP BY 1
      ), tt AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS tot FROM uni
      ), tg AS (
        SELECT doc_id, toks[i-2] AS w1, toks[i-1] AS w2, toks[i] AS w3
        FROM t, unnest(range(3, len(toks) + 1)) AS u(i)
        WHERE len(toks) >= 3
      ), sc AS (
        SELECT g.doc_id, tri.c3,
               CASE WHEN tri.c3 IS NOT NULL
                      THEN length(bin(hbi.c2)) - length(bin(tri.c3))
                    WHEN bi2.c2 IS NOT NULL
                      THEN 1 + length(bin(mu.c1)) - length(bin(bi2.c2))
                    ELSE 2 + length(bin(tt.tot)) - length(bin(COALESCE(wu.c1, 1)))
               END AS bits
        FROM tg g
        LEFT JOIN tri ON tri.tg = g.w1 || ' ' || g.w2 || ' ' || g.w3
        LEFT JOIN bi bi2 ON bi2.bg = g.w2 || ' ' || g.w3
        LEFT JOIN bi hbi ON hbi.bg = g.w1 || ' ' || g.w2
        LEFT JOIN uni mu ON mu.w = g.w2
        LEFT JOIN uni wu ON wu.w = g.w3
        CROSS JOIN tt
      )
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
             CAST(SUM(bits) AS BIGINT) AS total_bits,
             CAST(SUM(CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
             (1000 * CAST(SUM(bits) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS milli_bits_per_tri
      FROM sc GROUP BY 1""")),
    QuerySpec("txt_heaps", TextOps.txtHeaps _, DuckDb("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ), b AS (
        SELECT MIN(doc_id) AS mn, MAX(doc_id) - MIN(doc_id) + 1 AS span FROM t
      ), dd AS (
        SELECT doc_id, CAST(LEAST(9, ((doc_id - mn) * 10) // span) AS BIGINT) AS dec, toks
        FROM t, b
      ), td AS (
        SELECT dec, term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT dec, unnest(toks) AS term FROM dd) GROUP BY 1, 2
      ), axis AS (
        SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS k
      ), cum AS (
        SELECT term, dec,
               CAST(SUM(cnt) OVER (PARTITION BY term ORDER BY dec) AS BIGINT) AS cum
        FROM td
      ), state AS (
        SELECT a.k, c.term, CAST(arg_max(c.cum, c.dec) AS BIGINT) AS cum
        FROM cum c JOIN axis a ON c.dec <= a.k GROUP BY 1, 2
      ), vh AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN cum = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        FROM state GROUP BY 1
      ), tok AS (
        SELECT dec, CAST(SUM(len(toks)) AS BIGINT) AS dec_tokens,
               CAST(COUNT(*) AS BIGINT) AS dec_docs
        FROM dd GROUP BY 1
      ), tc AS (
        SELECT a.k, CAST(SUM(t2.dec_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(t2.dec_docs) AS BIGINT) AS n_docs
        FROM tok t2 JOIN axis a ON t2.dec <= a.k GROUP BY 1
      )
      SELECT k, n_docs, n_tokens, vocab, hapax FROM tc JOIN vh USING (k)""")),
    QuerySpec("txt_zipf", TextOps.txtZipf _, DuckDb("""
      WITH toks AS (
        SELECT unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                      x -> x <> '')) AS term
        FROM documents
      ), tf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
      ), hist AS (
        SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_terms FROM tf GROUP BY 1
      ), iv AS (
        SELECT cnt, n_terms,
               CAST(SUM(n_terms) OVER (ORDER BY cnt DESC) AS BIGINT) AS hi,
               CAST(SUM(n_terms) OVER (ORDER BY cnt DESC) AS BIGINT) - n_terms + 1 AS lo
        FROM hist
      ), axis AS (
        SELECT CAST(k AS BIGINT) AS k,
               (1::BIGINT << k) AS blo,
               (1::BIGINT << (k + 1)) - 1 AS bhi
        FROM (SELECT unnest(range(0, 41)) AS k)
      )
      SELECT a.k,
             CAST(SUM(LEAST(iv.hi, a.bhi) - GREATEST(iv.lo, a.blo) + 1) AS BIGINT) AS n_terms,
             CAST(SUM((LEAST(iv.hi, a.bhi) - GREATEST(iv.lo, a.blo) + 1) * iv.cnt) AS BIGINT) AS total_cnt,
             CAST(MAX(iv.cnt) AS BIGINT) AS max_cnt,
             CAST(MIN(iv.cnt) AS BIGINT) AS min_cnt
      FROM iv JOIN axis a ON a.blo <= iv.hi AND iv.lo <= a.bhi
      GROUP BY 1""")),
    // RAKE replayed with the identical double-space phrase splitter
    // (stopword pattern interpolated from the same constant)
    QuerySpec("txt_rake", TextOps.txtRake _, DuckDb {
      val stopPat = graft.operators.TextOps.RakeStopwords.mkString(" (", "|", ") ")
      s"""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
      ), segs AS (
        SELECT doc_id,
               unnest(string_split(
                 regexp_replace(replace(' ' || t || ' ', ' ', '  '), '$stopPat', '|', 'g'),
                 '|')) AS seg
        FROM d WHERE t <> ''
      ), ph AS (
        SELECT doc_id, trim(regexp_replace(seg, ' +', ' ', 'g')) AS phrase FROM segs
      ), php AS (
        SELECT doc_id, phrase FROM ph
        WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 4
      ), words AS (
        SELECT doc_id, unnest(string_split(phrase, ' ')) AS w,
               CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
        FROM php
      ), stats AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS deg
        FROM words GROUP BY 1, 2
      ), phd AS (
        SELECT DISTINCT doc_id, phrase FROM php
      ), wordsd AS (
        SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS w FROM phd
      ), scored AS (
        SELECT wd.doc_id, wd.phrase,
               CAST(SUM((1000 * s.deg) // s.freq) AS BIGINT) AS score_milli
        FROM wordsd wd JOIN stats s ON s.doc_id = wd.doc_id AND s.w = wd.w
        GROUP BY 1, 2
      )
      SELECT doc_id, rank, phrase, score_milli FROM (
        SELECT doc_id, phrase, score_milli,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score_milli DESC, phrase) AS BIGINT) AS rank
        FROM scored
      ) r WHERE rank <= 3"""
    }),
    QuerySpec("emb_outliers", SimilarityOps.embOutliers _, DuckDb(s"""
      WITH $IvfCellCtes,
      dst AS (
        SELECT en.vec_id, sc.cell,
               CAST(en.nq
                 - 2 * CAST(list_sum(list_transform(range(1, 65), i -> en.q[i] * c.cq[i])) AS BIGINT)
                 + c.cn AS BIGINT) AS dist2
        FROM en JOIN cells sc ON sc.vec_id = en.vec_id
        JOIN c3 c ON c.centroid_id = sc.cell
      ), hist AS (
        SELECT cell, CAST(length(bin(dist2)) AS BIGINT) AS b,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM dst GROUP BY 1, 2
      ), thr AS (
        SELECT cell, MIN(b) AS thr_bits FROM (
          SELECT cell, b,
                 CAST(SUM(n) OVER (PARTITION BY cell ORDER BY b) AS BIGINT) AS cum,
                 CAST(SUM(n) OVER (PARTITION BY cell) AS BIGINT) AS tot
          FROM hist) h
        WHERE cum * 10 >= tot * 9 GROUP BY 1
      )
      SELECT d.vec_id, d.cell, d.dist2,
             CAST(length(bin(d.dist2)) > t.thr_bits AS BIGINT) AS is_outlier
      FROM dst d JOIN thr t USING (cell)""")),
    QuerySpec("curate_snapshot_diff", CurateOps.curateSnapshotDiff _, DuckDb("""
      WITH d AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents
      ), o AS (
        SELECT * FROM d WHERE doc_id % 7 <> 0
      ), n AS (
        SELECT * FROM d WHERE doc_id % 5 <> 0
      ), j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               COALESCE(o.source, n.source) AS source,
               o.fp AS fp_o, n.fp AS fp_n
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ), rm AS (
        SELECT doc_id, source, fp_o AS fp FROM j
        WHERE fp_o IS NOT NULL AND fp_n IS NULL
      ), mv AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_moved
        FROM rm WHERE fp IN (SELECT DISTINCT fp FROM n) GROUP BY 1
      ), ag AS (
        SELECT source,
               CAST(SUM(CASE WHEN fp_o IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
               CAST(SUM(CASE WHEN fp_n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN fp_o IS NULL AND fp_n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
               CAST(SUM(CASE WHEN fp_o IS NOT NULL AND fp_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN fp_o IS NOT NULL AND fp_n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        FROM j GROUP BY 1
      )
      SELECT ag.source, n_old, n_new, n_added, n_removed, n_common,
             COALESCE(mv.n_moved, 0) AS n_moved
      FROM ag LEFT JOIN mv ON ag.source = mv.source""")),
    QuerySpec("dedup_source_matrix", DedupOps.dedupSourceMatrix _, DuckDb(s"""
      WITH pairs AS MATERIALIZED ($SimhashPairsSql
      ), m AS (
        SELECT LEAST(sa.source, sb.source) AS src_a,
               GREATEST(sa.source, sb.source) AS src_b
        FROM pairs p
        JOIN documents sa ON sa.doc_id = p.doc_a
        JOIN documents sb ON sb.doc_id = p.doc_b
      )
      SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM m GROUP BY 1, 2""")),
    QuerySpec("dedup_threshold_histogram", DedupOps.dedupThresholdHistogram _, DuckDb(s"""
      WITH pairs AS MATERIALIZED ($NgramJaccardSql
      ), b AS (
        SELECT ((1000 * n_inter) // (n_a + n_b - n_inter)) // 100 AS bucket
        FROM pairs
      ), h AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM b GROUP BY 1
      )
      SELECT CAST(bucket AS BIGINT) AS bucket, n_pairs,
             CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT) AS cum_pairs_at_or_above
      FROM h""")),
    // multimodal plumbing
    QuerySpec("mm_meta", Multimodal.mmMeta _, DuckDb("""
      SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest FROM documents""")),
    QuerySpec("mm_features", Multimodal.mmFeatures _, DuckDb("""
      WITH h AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
      ), b AS (
        SELECT doc_id, n, CAST(greatest(1, n // 8) AS INT) AS st,
               list_transform(range(0, CAST(n AS INT)), i ->
                 CAST((strpos('0123456789abcdef', hx[CAST(2*i+1 AS INT)]) - 1) * 16
                    + strpos('0123456789abcdef', hx[CAST(2*i+2 AS INT)]) - 1 AS BIGINT)) AS bs
      FROM h
      )
      SELECT doc_id, CAST(n AS INT) AS n_bytes,
             COALESCE(CAST(list_sum(bs[1 : st]) AS BIGINT), 0) AS f0,
             COALESCE(CAST(list_sum(bs[st+1 : 2*st]) AS BIGINT), 0) AS f1,
             COALESCE(CAST(list_sum(bs[2*st+1 : 3*st]) AS BIGINT), 0) AS f2,
             COALESCE(CAST(list_sum(bs[3*st+1 : 4*st]) AS BIGINT), 0) AS f3,
             COALESCE(CAST(list_sum(bs[4*st+1 : 5*st]) AS BIGINT), 0) AS f4,
             COALESCE(CAST(list_sum(bs[5*st+1 : 6*st]) AS BIGINT), 0) AS f5,
             COALESCE(CAST(list_sum(bs[6*st+1 : 7*st]) AS BIGINT), 0) AS f6,
             COALESCE(CAST(list_sum(bs[7*st+1 : CAST(n AS INT)]) AS BIGINT), 0) AS f7
      FROM b""")),
    QuerySpec("mm_resize", Multimodal.mmResize _, DuckDb("""
      WITH h AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
      )
      SELECT doc_id, n AS n_bytes,
      """ + (0 until 16).map { k =>
        s"""CASE WHEN n > 0 THEN
             (strpos('0123456789abcdef', hx[CAST(2*((n*$k)//16) + 1 AS INT)]) - 1) * 16
             + strpos('0123456789abcdef', hx[CAST(2*((n*$k)//16) + 2 AS INT)]) - 1
           ELSE 0 END AS t$k"""
      }.mkString(",\n") + "\nFROM h")),
    QuerySpec("mm_frame_sample", Multimodal.mmFrameSample _, DuckDb("""
      WITH p AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
        FROM documents
      )
      SELECT doc_id, frame_idx,
             CAST(length(substr(hx, CAST(frame_idx*512 + 1 AS INT), 512)) / 2 AS INT) AS frame_bytes,
             substr(hx, CAST(frame_idx*512 + 1 AS INT), 512) AS frame_hex
      FROM (SELECT doc_id, hx, unnest(range(0, n_frames, 4)) AS frame_idx
            FROM p WHERE n_frames > 0) f""")),
    QuerySpec("mm_phash", Multimodal.mmPhash _, DuckDb(PhashCte + """
      SELECT doc_id, phash, CAST(bit_count(phash) AS BIGINT) AS popcnt
      FROM ph""")),
    QuerySpec("mm_phash_pairs", ((s, d) => Multimodal.mmPhashPairs(s, d)), DuckDb(PhashCte + """
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
      FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 8""")),
    QuerySpec("mm_canonical", Multimodal.mmCanonical _,
      DuckDb(PhashCte.replaceFirst("WITH", "WITH RECURSIVE") + """
      , pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 8
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), reach(node, lab) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
      ), cl AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
      ), sizes AS (
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
      )
      SELECT cl.doc_id, cl.cluster_id, sizes.n_bytes,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY cl.cluster_id
               ORDER BY sizes.n_bytes DESC, cl.doc_id) = 1 AS BIGINT) AS keep
      FROM cl JOIN sizes USING (doc_id)""")),
    // Gate distillation: exact-integer least squares (Cramer adjugate,
    // multiply-through threshold) replayed over the shared gate SQL.
    QuerySpec("curate_quality_distill", CurateOps.curateQualityDistill _, DuckDb(s"""
      WITH gate AS ($GopherGateSql),
      feat AS (
        SELECT doc_id, admitted AS y,
               least(n_tokens // 32, 7) AS x1,
               least(mean_len_milli // 1000, 7) AS x2
        FROM gate
      ), st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(x1*x1) AS BIGINT) AS s11, CAST(SUM(x1*x2) AS BIGINT) AS s12,
               CAST(SUM(x2*x2) AS BIGINT) AS s22,
               CAST(SUM(y) AS BIGINT) AS b0, CAST(SUM(x1*y) AS BIGINT) AS b1,
               CAST(SUM(x2*y) AS BIGINT) AS b2
        FROM feat
      ), co AS (
        SELECT *,
               (s11*s22 - s12*s12) AS c00,
               (s12*s2 - s1*s22) AS c01,
               (s1*s12 - s11*s2) AS c02,
               (n*s22 - s2*s2) AS c11,
               (s1*s2 - n*s12) AS c12,
               (n*s11 - s1*s1) AS c22
        FROM st
      ), w AS (
        SELECT n, b0,
               (n*c00 + s1*c01 + s2*c02) AS det,
               (c00*b0 + c01*b1 + c02*b2) AS m0,
               (c01*b0 + c11*b1 + c12*b2) AS m1,
               (c02*b0 + c12*b1 + c22*b2) AS m2
        FROM co
      )
      SELECT f.doc_id, f.y,
             CAST(w.m0 + w.m1*f.x1 + w.m2*f.x2 AS BIGINT) AS score,
             CAST(CASE WHEN w.det > 0
                       THEN 2*(w.m0 + w.m1*f.x1 + w.m2*f.x2) >= w.det
                       ELSE 2*w.b0 >= w.n END AS BIGINT) AS pred,
             CAST((CASE WHEN w.det > 0
                        THEN 2*(w.m0 + w.m1*f.x1 + w.m2*f.x2) >= w.det
                        ELSE 2*w.b0 >= w.n END) = (f.y = 1) AS BIGINT) AS agree
      FROM feat f CROSS JOIN w""")),
    // DoReMi-style source reweighting over the shared char-LM SQL:
    // quarter-bit excess quantization, power-of-two weights by shift.
    QuerySpec("curate_doremi_weights", CurateOps.curateDoremiWeights _, DuckDb(s"""
      WITH lm AS ($CharLmSql),
      per AS (
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(lm.n_bigrams) AS BIGINT) AS nb,
               CAST(SUM(lm.surprisal_bits) AS BIGINT) AS sb
        FROM lm JOIN documents d USING (doc_id)
        GROUP BY d.source
      ), base AS (
        SELECT CAST(SUM(sb) AS BIGINT) AS tsb, CAST(SUM(nb) AS BIGINT) AS tnb FROM per
      ), ex AS (
        SELECT per.source, per.n_docs,
               (1000 * per.sb) // per.nb AS mean_millibits,
               (1000 * base.tsb) // base.tnb AS baseline_millibits,
               least(greatest(((1000 * per.sb) // per.nb - (1000 * base.tsb) // base.tnb) // 250,
                     0), 12) AS excess_q
        FROM per CROSS JOIN base
      ), wt AS (
        SELECT *, CAST(1 AS BIGINT) << excess_q AS w_raw FROM ex
      )
      SELECT source, n_docs,
             CAST(mean_millibits AS BIGINT) AS mean_millibits,
             CAST(baseline_millibits AS BIGINT) AS baseline_millibits,
             CAST(excess_q AS BIGINT) AS excess_q,
             CAST(w_raw AS BIGINT) AS w_raw,
             CAST((1000000 * w_raw) // CAST(SUM(w_raw) OVER () AS BIGINT) AS BIGINT) AS weight_ppm
      FROM wt""")),
    // JL signed projection: the 16x64 sign matrix materializes from the
    // SAME Scala definition (SimilarityOps.jlSign) as literal lists.
    QuerySpec("emb_random_projection", SimilarityOps.embRandomProjection _, DuckDb {
      val rows = (0 until SimilarityOps.JlOutDim).map { k =>
        val sgn = (0 until SimilarityOps.Dim)
          .map(j => s"${SimilarityOps.jlSign(k, j)}::BIGINT")
          .mkString("[", ",", "]")
        s"($k::BIGINT, $sgn)"
      }.mkString(",\n               ")
      s"""
      WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), m(out_dim, sgn) AS (
        SELECT * FROM (VALUES $rows)
      )
      SELECT e.vec_id, m.out_dim,
             CAST(list_sum(list_transform(range(1, ${SimilarityOps.Dim + 1}),
                  i -> e.q[i] * m.sgn[i])) AS BIGINT) AS proj
      FROM e CROSS JOIN m"""
    }),
  )

  /** Name-keyed projections of [[specs]], the shape the Verify/Bench mains
    * and the benchmark harness look queries and oracles up in. */
  lazy val queries: Map[String, Build] = specs.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(n, _, DuckDb(sql)) => n -> sql }.toMap

  /** Exact brute-force cosine top-5 oracle — the ground truth
    * (SimilarityOps.simTopK). Factored so the recall-eval oracle can
    * reuse it as a CTE body alongside the LSH/IVF oracles.
    */
  private lazy val ExactTopkSql: String = """
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), s AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               CAST(list_sum(list_transform(a.q, x -> x * x)) AS BIGINT) AS na,
               CAST(list_sum(list_transform(b.q, x -> x * x)) AS BIGINT) AS nb
        FROM e a, e b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
      )
      SELECT qid, cid, dot, CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos, rn
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY qid
          ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, cid) AS rn
        FROM s
      ) t WHERE rn <= 5"""

  /** Greedy k-center selection oracle: the seed plus 7 unrolled
    * farthest-point rounds (SimilarityOps.simKcenterSelect). Each round
    * r computes every unselected vector's min integer squared-L2
    * distance to the selected set s1..s(r-1) and takes the argmax
    * (ties by lower vec_id) — nested-CTE unrolling in the IvfCellCtes
    * style, integer-exact throughout.
    */
  /** Shared shingle-pair CTEs of the ngram-Jaccard and containment
    * oracles — one definition so both replay the same mining core.
    */
  private lazy val ShinglePairCtes: String = """
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          FROM toks WHERE len(w) >= 3
        ) raw
      ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
      ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )"""

  /** Shared CDC chunking CTEs: per-document chunk list replayed
    * positionally — boundary at 1-based end position p2 when the
    * Karp-Rabin hash of the trailing 16 chars masks to zero, with the
    * coefficients Base^(16-j) mod 2^64 interpolated from the SAME
    * RollingMinHash.Base constant the engine's cdc_chunks expression
    * uses. Yields CTE `ch(doc_id, chunk)`.
    */
  private lazy val CdcChunkCtes: String = {
    val w = 16
    val coefs = (1 to w).map { j =>
      var v = 1L
      (0 until (w - j)).foreach(_ => v *= graft.functions.RollingMinHash.Base)
      java.lang.Long.toUnsignedString(v) + "::HUGEINT"
    }.mkString("[", ", ", "]")
    s"""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
      ), p AS (
        SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0
      ), bnd AS (
        SELECT doc_id, t, n,
          list_filter(range(16, GREATEST(n + 1, 16)), p2 ->
            (list_sum(list_transform(range(1, 17), j -> ord(t[CAST(p2-16+j AS INT)]) * ($coefs)[CAST(j AS INT)]))
             % 18446744073709551616::HUGEINT) % 64 = 0) AS bs
        FROM p
      ), cs AS (
        SELECT doc_id, t,
          CASE WHEN len(bs) > 0 AND bs[-1] = n
               THEN list_concat([CAST(0 AS BIGINT)], bs)
               ELSE list_concat(list_concat([CAST(0 AS BIGINT)], bs), [CAST(n AS BIGINT)]) END AS cuts
        FROM bnd
      ), ch AS MATERIALIZED (
        SELECT doc_id, t[CAST(cuts[CAST(i AS INT)] + 1 AS INT):CAST(cuts[CAST(i+1 AS INT)] AS INT)] AS chunk
        FROM cs, UNNEST(range(1, len(cuts))) AS u(i)
      )"""
  }

  /** Guard-faithful rare-shingle edge CTEs (appended after
    * [[ShinglePairCtes]], whose `sh` it reuses): document pairs sharing
    * >= 2 distinct df <= 100 shingles — the same count
    * `DedupOps.shingleShareEdges` computes, hot shingles excluded from
    * the count itself. Yields CTE `e(a, b)`.
    */
  private lazy val RareShareEdgeCtes: String = """
      rare_sh AS (
        SELECT sh.doc_id, sh.s FROM sh
        JOIN (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1) f
          ON f.s = sh.s AND f.df <= 100
      ), e AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM rare_sh x JOIN rare_sh y ON x.s = y.s AND x.doc_id < y.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
      )"""

  /** Guard-faithful membership CTEs for the shingle-intersection
    * family (appended after [[ShinglePairCtes]], whose `sh`/`inter`
    * they reuse): replay of `DedupOps.shingleIntersections`' candidate
    * rule — a pair is reported iff the documents share at least one
    * shingle with df <= 100 (`DedupOps.HotShingleMaxDf`); surviving
    * pairs keep the exact FULL-set counts from `inter`. Until r15 the
    * jaccard/containment oracles computed the UNGUARDED join — the
    * sf2 spot gate (CORRECTNESS_SCALE.md) caught the divergence the
    * first time the corpus df crossed the cap, so the membership rule
    * is now hash-checked like the values are. Yields CTE
    * `ginter(doc_a, doc_b, n_inter)`.
    */
  private lazy val GuardedInterCtes: String = """
      , rare2 AS (
        SELECT sh.doc_id, sh.s FROM sh
        JOIN (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1) f
          ON f.s = sh.s AND f.df <= 100
      ), gcand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM rare2 x JOIN rare2 y ON x.s = y.s AND x.doc_id < y.doc_id
      ), ginter AS (
        SELECT i.doc_a, i.doc_b, i.n_inter
        FROM inter i JOIN gcand USING (doc_a, doc_b)
      )"""

  private lazy val NgramJaccardSql: String = ShinglePairCtes + GuardedInterCtes + """
      SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b,
             CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
      FROM ginter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_inter * 5 >= sa.n + sb.n - n_inter"""

  private lazy val ContainmentSql: String = ShinglePairCtes + GuardedInterCtes + """
      SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b,
             CAST((1000000 * n_inter) // LEAST(sa.n, sb.n) AS BIGINT) AS cont_ppm,
             CAST(CASE WHEN sa.n < sb.n THEN doc_a
                       WHEN sb.n < sa.n THEN doc_b
                       ELSE GREATEST(doc_a, doc_b) END AS BIGINT) AS contained_doc
      FROM ginter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE 5 * n_inter >= 4 * LEAST(sa.n, sb.n)"""

  private lazy val LangIdSql: String = """
      SELECT doc_id, lang, pred_lang,
             CAST(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
      FROM (
        SELECT doc_id, lang,
               CASE WHEN zh_hits > 0 THEN 'zh'
                    WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
                    WHEN es_hits >= fr_hits THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM (
          SELECT doc_id, lang,
                 len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh_hits,
                 len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|was|for|with)\b')) AS en_hits,
                 len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS de_hits,
                 len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|un|una|que|y)\b')) AS es_hits,
                 len(regexp_extract_all(lower(text), '\b(le|les|des|est|une|dans|et|du)\b')) AS fr_hits
          FROM documents
        ) h
      ) p"""

  /** Per-doc classifier score in milli-units — the quality-classify
    * pipeline reduced to (doc_id, n_tokens, score), shared by the
    * grouped-quantiles and calibration oracles. Positive-dividend
    * offset (+2000·n_tokens) keeps Spark `div` (truncating) and DuckDB
    * `//` (flooring) identical on the possibly-negative hit sums.
    */
  private lazy val QualityScoredSql: String = {
    val vals = graft.operators.TextOps.QualityWeights
      .map { case (t, w) => s"('$t', ${w}::BIGINT)" }.mkString(", ")
    s"""WITH wts(term, w_milli) AS (VALUES $vals),
      d AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS w
        FROM documents
      ), base AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM d
      ), hits AS (
        SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS hit_milli
        FROM (SELECT doc_id, unnest(w) AS term FROM d) t JOIN wts USING (term)
        GROUP BY 1
      )
      SELECT b.doc_id, b.n_tokens,
             (COALESCE(hit_milli, 0) + 2000 * b.n_tokens) // b.n_tokens - 2000 AS score
      FROM base b LEFT JOIN hits USING (doc_id)
      WHERE b.n_tokens > 0"""
  }

  private lazy val GopherGateSql: String = """
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), base AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS sum_len,
               CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha
        FROM toks
      ), g2 AS (
        SELECT doc_id, MAX(c) AS top2, CAST(SUM(c) AS BIGINT) AS n2 FROM (
          SELECT doc_id, g, COUNT(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
            FROM toks WHERE len(w) >= 2) x GROUP BY 1, 2) y GROUP BY 1
      ), g3 AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n3, COUNT(DISTINCT g) AS nd3 FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM toks WHERE len(w) >= 3) x GROUP BY 1
      ), sig AS (
        SELECT b.doc_id, b.n_tokens,
               CASE WHEN b.n_tokens > 0 THEN (1000 * b.sum_len) // b.n_tokens ELSE 0 END AS mean_len_milli,
               CASE WHEN b.n_tokens > 0 THEN (1000 * b.n_alpha) // b.n_tokens ELSE 0 END AS alpha_milli,
               CASE WHEN COALESCE(g2.n2, 0) > 0 THEN (1000 * g2.top2) // g2.n2 ELSE 0 END AS top2_milli,
               CASE WHEN COALESCE(g3.n3, 0) > 0 THEN (1000 * (g3.n3 - g3.nd3)) // g3.n3 ELSE 0 END AS dup3_milli
        FROM base b LEFT JOIN g2 ON b.doc_id = g2.doc_id LEFT JOIN g3 ON b.doc_id = g3.doc_id
      )
      SELECT doc_id, n_tokens,
             CAST(mean_len_milli AS BIGINT) AS mean_len_milli,
             CAST(alpha_milli AS BIGINT) AS alpha_milli,
             CAST(top2_milli AS BIGINT) AS top2_milli,
             CAST(dup3_milli AS BIGINT) AS dup3_milli,
             CAST(n_tokens BETWEEN 50 AND 100000
                  AND mean_len_milli BETWEEN 3000 AND 10000
                  AND alpha_milli >= 800
                  AND top2_milli <= 200
                  AND dup3_milli <= 300 AS BIGINT) AS admitted
      FROM sig"""

  /** MMR oracle (SimilarityOps.simMmrSelect): cosine top-10 for probe
    * vec_id 0, then rounds 2..4 unrolled KcenterSql-style — each
    * scores remaining candidates 0.7·rel − 0.3·max-sim-to-selected
    * and takes the argmax (ties by lower cid). All cosines from
    * integer milli-unit dots, so the doubles are bit-identical.
    */
  private lazy val MmrSql: String = {
    val nSel = 4
    val rounds = (2 to nSel).map { r =>
      val prior = (1 until r).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
      s"""m$r AS (
        SELECT t.vec_id, t.rel,
               0.7 * t.rel - 0.3 * (
                 SELECT MAX(pc.sim) FROM pc
                 WHERE pc.ai = t.vec_id AND pc.bi IN ($prior)
               ) AS mmr
        FROM top t WHERE t.vec_id NOT IN ($prior)
      ), s$r AS (
        SELECT $r AS r, vec_id, rel, mmr
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY mmr DESC, vec_id) AS rk FROM m$r) x
        WHERE rk = 1
      )"""
    }.mkString(",\n      ")
    val all = (1 to nSel).map(i => s"SELECT r, vec_id, rel, mmr FROM s$i")
      .mkString("\n        UNION ALL ")
    s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM e
      ), p AS (
        SELECT q, nq FROM en WHERE vec_id = 0
      ), cand AS (
        SELECT a.vec_id, a.q, a.nq,
               CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * p.q[i])) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(p.nq AS DOUBLE))) AS rel
        FROM en a, p WHERE a.vec_id <> 0
      ), top AS (
        SELECT vec_id, q, nq, rel
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rk FROM cand) x
        WHERE rk <= 10
      ), pc AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi,
               CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS sim
        FROM top a, top b WHERE a.vec_id <> b.vec_id
      ), m1 AS (
        SELECT vec_id, rel, 0.7 * rel - 0.3 * 0.0 AS mmr FROM top
      ), s1 AS (
        SELECT 1 AS r, vec_id, rel, mmr
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY mmr DESC, vec_id) AS rk FROM m1) x
        WHERE rk = 1
      ),
      $rounds
      SELECT CAST(r AS BIGINT) AS sel_round, vec_id AS cid, rel AS rel_cos, mmr AS mmr_score
      FROM ($all) u"""
  }

  private lazy val KcenterSql: String = {
    val k = 8
    val dist = "a.nq + c.nq - 2 * CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * c.q[i])) AS BIGINT)"
    val rounds = (2 to k).map { r =>
      val prior = (1 until r).map(i => s"SELECT vec_id, q, nq FROM s$i").mkString(" UNION ALL ")
      s"""m$r AS MATERIALIZED (
        SELECT a.vec_id, MIN($dist) AS mind
        FROM en a, ($prior) c
        WHERE a.vec_id NOT IN (SELECT vec_id FROM ($prior) x)
        GROUP BY a.vec_id
      ), s$r AS MATERIALIZED (
        SELECT en.vec_id, en.q, en.nq, m.mind AS d2, $r AS r
        FROM (SELECT vec_id, mind, ROW_NUMBER() OVER (ORDER BY mind DESC, vec_id) AS rk
              FROM m$r) m
        JOIN en ON en.vec_id = m.vec_id
        WHERE m.rk = 1
      )"""
    }.mkString(",\n      ")
    val all = (1 to k).map(i => s"SELECT vec_id, d2, r FROM s$i").mkString("\n        UNION ALL ")
    s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS MATERIALIZED (
        SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM e
      ), s1 AS MATERIALIZED (
        SELECT vec_id, q, nq, CAST(0 AS BIGINT) AS d2, 1 AS r
        FROM en WHERE vec_id = (SELECT MIN(vec_id) FROM en)
      ),
      $rounds
      SELECT CAST(r AS BIGINT) AS sel_round, vec_id, CAST(d2 AS BIGINT) AS d2
      FROM ($all) u"""
  }

  /** sign-LSH ANN oracle with the SAME literal hyperplanes as the Spark
    * plan (SimilarityOps.planeSign), bucket equi-join, exact re-score —
    * factored so the RRF fusion oracle can reuse it as a CTE body.
    */
  /** MinHash probe-vs-index oracle, parameterized by the probe/index
    * split predicates — the full replay (HUGEINT signature mixing, band
    * keys, candidate join, exact-Jaccard verify) shared by
    * dedup_incremental (new-batch % 10 split) and
    * dedup_decontaminate_fuzzy (eval-set % 20 split).
    */
  /** LSH recall-evaluation oracle: the full signature/band replay (same
    * HUGEINT mixing as minhashProbeSql), the unguarded exact-Jaccard
    * truth at J >= 0.5, per-decile catch counts, and the analytic
    * S-curve constants interpolated from the SAME Scala computation the
    * operator broadcasts ([[graft.operators.DedupOps.lshTheoryPpm]]).
    */
  /** [[graft.operators.DedupOps.md5Hash64]] replayed in DuckDB SQL. */
  private def duckMd5Hash64(x: String): String = {
    val hi = s"('0x' || substr(md5($x), 1, 8))::BIGINT"
    s"(($hi - CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END)" +
      s" * 4294967296 + ('0x' || substr(md5($x), 9, 8))::BIGINT)"
  }

  private lazy val RecallEvalSql: String = recallEvalSql("TRUE")

  /** Sampled variant: same evaluation restricted to the seeded
    * FIXED-SIZE document sample (targetDocs=2000, seed=42 — must mirror
    * the Spark call exactly: keep iff pmod(md5(doc_id:seed), n_docs) <
    * min(n_docs, 2000); corpora at or below the target evaluate in
    * full).
    */
  private lazy val RecallEvalSampledSql: String = {
    val h = duckMd5Hash64(s"CAST(doc_id AS VARCHAR) || ':' || '42'")
    val n = "(SELECT COUNT(*) FROM documents)"
    recallEvalSql(s"(($h % $n) + $n) % $n < LEAST($n, 2000)")
  }

  private def recallEvalSql(docPred: String): String = {
    val al = graft.functions.MinHashAgg.A.take(32)
      .map(a => s"$a::HUGEINT").mkString("[", ",", "]")
    val mask = (BigInt(1) << 64) - 1
    val bl = graft.functions.MinHashAgg.B.take(32)
      .map(b => s"${BigInt(b) & mask}::HUGEINT").mkString("[", ",", "]")
    val bandKey = (0 until 8).map { b =>
      val str = s"CAST($b AS VARCHAR) || ',' || " + (1 to 4).map(r =>
        s"CAST(sig[${4 * b + r}] AS VARCHAR)").mkString(" || ',' || ")
      val hi = s"('0x' || substr(md5($str), 1, 8))::BIGINT"
      s"($hi - CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END)" +
        s" * 4294967296 + ('0x' || substr(md5($str), 9, 8))::BIGINT"
    }.map(k => s"SELECT doc_id, $k AS bk FROM sigs")
      .mkString("\n        UNION ALL ")
    val theoryVals = graft.operators.DedupOps.lshTheoryPpm(8, 4)
      .map { case (b, t) => s"($b, $t)" }.mkString(", ")
    s"""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
        WHERE $docPred
      ), sh AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM toks WHERE len(w) >= 3) x
      ), dh AS (
        SELECT doc_id, list(('0x' || substr(md5(g), 1, 8))::BIGINT::HUGEINT * 4294967296
                          + ('0x' || substr(md5(g), 9, 8))::BIGINT::HUGEINT) AS hs
        FROM sh GROUP BY 1
      ), sigs AS (
        SELECT doc_id,
          list_transform(range(0, 32), p ->
            list_min(list_transform(
              list_transform(hs, x -> (x * $al[p+1] + $bl[p+1]) % 18446744073709551616::HUGEINT),
              m -> CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
                             THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT)))) AS sig
        FROM dh
      ), bands AS (
        $bandKey
      ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1
      ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), truth AS (
        SELECT doc_a, doc_b,
               CAST((10 * n_inter) // (sa.n + sb.n - n_inter) AS BIGINT) AS bucket
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter * 3 >= sa.n + sb.n
      ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
      ), caught AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_caught
        FROM truth t
        WHERE EXISTS (SELECT 1 FROM cand c
                      WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
        GROUP BY 1
      ), tb AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth GROUP BY 1
      )
      SELECT tb.bucket, tb.n_truth,
             CAST(COALESCE(ca.n_caught, 0) AS BIGINT) AS n_caught,
             CAST((1000000 * COALESCE(ca.n_caught, 0)) // tb.n_truth AS BIGINT) AS recall_ppm,
             CAST(th.theory_ppm AS BIGINT) AS theory_ppm
      FROM tb
      LEFT JOIN caught ca USING (bucket)
      JOIN (VALUES $theoryVals) th(bucket, theory_ppm) ON th.bucket = tb.bucket"""
  }

  private def minhashProbeSql(probePred: String, indexPred: String): String = {
    val al = graft.functions.MinHashAgg.A.take(32)
      .map(a => s"$a::HUGEINT").mkString("[", ",", "]")
    val mask = (BigInt(1) << 64) - 1
    val bl = graft.functions.MinHashAgg.B.take(32)
      .map(b => s"${BigInt(b) & mask}::HUGEINT").mkString("[", ",", "]")
    val bandKey = (0 until 8).map { b =>
      val str = s"CAST($b AS VARCHAR) || ',' || " + (1 to 4).map(r =>
        s"CAST(sig[${4 * b + r}] AS VARCHAR)").mkString(" || ',' || ")
      val hi = s"('0x' || substr(md5($str), 1, 8))::BIGINT"
      s"($hi - CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END)" +
        s" * 4294967296 + ('0x' || substr(md5($str), 9, 8))::BIGINT"
    }.map(k => s"SELECT doc_id, $k AS bk FROM sigs")
      .mkString("\n        UNION ALL ")
    s"""
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM toks WHERE len(w) >= 3) x
      ), fps AS (
        SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents
      ), exact_dup AS (
        SELECT n.doc_id, CAST(1 AS BIGINT) AS exact_dup
        FROM fps n
        WHERE n.$probePred
          AND EXISTS (SELECT 1 FROM fps i WHERE i.$indexPred AND i.fp = n.fp)
      ), dh AS (
        SELECT doc_id, list(('0x' || substr(md5(g), 1, 8))::BIGINT::HUGEINT * 4294967296
                          + ('0x' || substr(md5(g), 9, 8))::BIGINT::HUGEINT) AS hs
        FROM sh GROUP BY 1
      ), sigs AS (
        SELECT doc_id,
          list_transform(range(0, 32), p ->
            list_min(list_transform(
              list_transform(hs, x -> (x * $al[p+1] + $bl[p+1]) % 18446744073709551616::HUGEINT),
              m -> CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
                             THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT)))) AS sig
        FROM dh
      ), bands AS (
        $bandKey
      ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_idx
        FROM bands x JOIN bands y ON x.bk = y.bk
        WHERE x.$probePred AND y.$indexPred
      ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
      ), inter AS (
        SELECT c.doc_new, c.doc_idx, COUNT(*) AS n_inter
        FROM cand c JOIN sh a ON a.doc_id = c.doc_new
                    JOIN sh b ON b.doc_id = c.doc_idx AND a.g = b.g
        GROUP BY 1, 2
      ), near AS (
        SELECT i.doc_new, CAST(COUNT(*) AS BIGINT) AS n_near
        FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_new
                     JOIN sizes sb ON sb.doc_id = i.doc_idx
        WHERE n_inter * 5 >= sa.n + sb.n - n_inter
        GROUP BY 1
      )
      SELECT d.doc_id,
             CAST(COALESCE(e.exact_dup, 0) AS BIGINT) AS exact_dup,
             CAST(COALESCE(nr.n_near, 0) AS BIGINT) AS n_near,
             CAST(CASE WHEN COALESCE(e.exact_dup, 0) = 0 AND COALESCE(nr.n_near, 0) = 0
                       THEN 1 ELSE 0 END AS BIGINT) AS admit
      FROM documents d
      LEFT JOIN exact_dup e ON e.doc_id = d.doc_id
      LEFT JOIN near nr ON nr.doc_new = d.doc_id
      WHERE d.$probePred"""
  }

  /** Char-bigram LM scoring oracle — shared by txt_char_lm_score and
    * the ccnet-bucket query built on top of it.
    */
  private lazy val CharLmSql: String = """
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
      ), g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> substr(t, CAST(i AS INT), 2))) AS bg
        FROM d WHERE len(t) >= 2
      ), perdoc AS (
        SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS m FROM g GROUP BY 1, 2
      ), model AS (
        SELECT bg, CAST(SUM(m) AS BIGINT) AS cnt FROM perdoc GROUP BY bg
      ), ctx AS (
        SELECT substr(bg, 1, 1) AS c1, CAST(SUM(cnt) AS BIGINT) AS ctx FROM model GROUP BY 1
      ), scored AS (
        SELECT bg, CAST(len(bin(ctx.ctx)) - len(bin(model.cnt)) AS BIGINT) AS bits
        FROM model JOIN ctx ON substr(model.bg, 1, 1) = ctx.c1
      )
      SELECT doc_id,
             CAST(SUM(m) AS BIGINT) AS n_bigrams,
             CAST(SUM(m * bits) AS BIGINT) AS surprisal_bits,
             CAST((1000 * CAST(SUM(m * bits) AS BIGINT)) // CAST(SUM(m) AS BIGINT) AS BIGINT) AS avg_millibits
      FROM perdoc JOIN scored USING (bg)
      GROUP BY doc_id"""

  private lazy val LshTopkSql: String = {
    val bucketExpr = (0 until 8).map { p =>
      val w = (0 until SimilarityOps.Dim).map(i => SimilarityOps.planeSign(p, i))
        .map(v => s"$v::BIGINT").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${SimilarityOps.Dim + 1}), i -> q[i] * $w[i])) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n               + ")
    s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq,
               $bucketExpr AS bucket
        FROM e
      ), s AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, ${SimilarityOps.Dim + 1}), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               a.nq AS na, b.nq AS nb
        FROM en a JOIN en b ON a.bucket = b.bucket AND a.vec_id < 10 AND a.vec_id <> b.vec_id
      )
      SELECT qid, cid, cos, rn FROM (
        SELECT qid, cid,
               CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, cid) AS rn
        FROM s
      ) t WHERE rn <= 5"""
  }

  /** The full IVF pipeline replayed in SQL: the shared k-means CTEs
    * (IvfCellCtes — strided seed, three unrolled Lloyd iterations,
    * final cell assignment), then nProbe=4 probing, exact re-score,
    * top-5. Arithmetic mirrors SimilarityOps.simIvfTopK operation-
    * for-operation (integer dots; one double division per mean) so the
    * hashes match bit-for-bit. Factored for reuse by the fusion oracle.
    */
  private lazy val IvfTopkSql: String = {
    val dot = IvfDot
    s"""
      WITH $IvfCellCtes,
      probes AS (
        SELECT qid, cell FROM (
          SELECT a.vec_id AS qid, c.centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   CAST($dot AS DOUBLE) / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
                   c.centroid_id) AS rnk
          FROM en a, c3 c WHERE a.vec_id < 10
        ) WHERE rnk <= 4
      ), cand AS (
        SELECT p.qid, en2.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, 65), i -> q1.q[i] * en2.q[i])) AS BIGINT) AS dot,
               q1.nq AS qn, en2.nq AS cn2
        FROM probes p
        JOIN en q1 ON q1.vec_id = p.qid
        JOIN cells cl ON cl.cell = p.cell
        JOIN en en2 ON en2.vec_id = cl.vec_id
        WHERE en2.vec_id <> p.qid
      )
      SELECT qid, cid, cos, rn FROM (
        SELECT qid, cid,
               CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cos,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) DESC, cid) AS rn
        FROM cand
      ) t WHERE rn <= 5"""
  }

  /** Integer BM25 oracle — formulas and the literal query workload
    * shared with TextOps.txtBm25TopK (same milli-unit k1/b constants,
    * same floored-bits idf, same division order).
    */
  private lazy val Bm25Sql: String = {
    val qvals = TextOps.Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }.mkString(", ")
    s"""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')) AS term
        FROM documents
      ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
      ), dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1
      ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST((1000 * CAST(SUM(dl) AS BIGINT)) // COUNT(*) AS BIGINT) AS avgdl_milli
        FROM dl
      ), dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
      ), q(qid, term) AS (
        SELECT * FROM (VALUES $qvals) v(qid, term)
      ), scored AS (
        SELECT q.qid, tf.doc_id,
               (CAST(len(bin(s.n_docs + 1)) AS BIGINT) - CAST(len(bin(d.df + 1)) AS BIGINT)) * 1000 AS idf_milli,
               tf.tf, dl.dl, s.avgdl_milli
        FROM tf
        JOIN q ON q.term = tf.term
        JOIN dfreq d ON d.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id, stats s
      ), ts AS (
        SELECT qid, doc_id,
               idf_milli * ((tf * 2200 * 1000) // (tf * 1000 + (1200 * (250 + (750 * dl * 1000) // avgdl_milli)) // 1000)) AS term_score
        FROM scored
      ), agg AS (
        SELECT qid, doc_id, CAST(SUM(term_score) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM ts GROUP BY 1, 2
      )
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, score_micro, n_terms_hit, CAST(rn AS BIGINT) AS rn
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS rn
        FROM agg
      ) t WHERE rn <= 5"""
  }

  /** k-core peeling oracle: 8 unrolled rounds over the SimHash pair
    * graph (GraphOps.graphKCore) — round r computes alive degrees,
    * removes nodes below k=2, shrinking the alive set monotonically;
    * removal rounds are unioned into removed_round (0 = in core).
    */
  private lazy val KcoreSql: String = {
    val k = 2
    val rounds = (1 to 8).map { r =>
      val prev = s"a${r - 1}"
      s"""d$r AS MATERIALIZED (
        SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym e
        JOIN $prev x ON x.node = e.src
        JOIN $prev y ON y.node = e.dst
        GROUP BY 1
      ), rm$r AS MATERIALIZED (
        SELECT p.node, CAST($r AS BIGINT) AS rr
        FROM $prev p LEFT JOIN d$r USING (node)
        WHERE COALESCE(d$r.d, 0) < $k
      ), a$r AS MATERIALIZED (
        SELECT node FROM $prev WHERE node NOT IN (SELECT node FROM rm$r)
      )"""
    }.mkString(",\n      ")
    val removedUnion = (1 to 8).map(r => s"SELECT node, rr FROM rm$r").mkString("\n        UNION ALL ")
    s"""
      WITH pairs AS MATERIALIZED ($SimhashPairsSql
      ), sym AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
      ), deg0 AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg0 FROM sym GROUP BY 1
      ), a0 AS MATERIALIZED (
        SELECT node FROM deg0
      ),
      $rounds,
      removed AS ($removedUnion)
      SELECT deg0.node AS doc_id, deg0.deg0,
             CAST(COALESCE(removed.rr, 0) AS BIGINT) AS removed_round,
             CAST(CASE WHEN removed.rr IS NULL THEN 1 ELSE 0 END AS BIGINT) AS in_core
      FROM deg0 LEFT JOIN removed ON removed.node = deg0.node"""
  }

  private val SimhashPairsSql = """
      WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS t
        FROM documents
      ), h AS (
        SELECT doc_id,
               (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS h
        FROM (
          SELECT doc_id,
                 ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                 ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
          FROM tok WHERE t <> '') x
      ), bits AS (
        SELECT doc_id, i, SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        FROM h, (SELECT unnest(range(0, 64)) AS i) r
        GROUP BY 1, 2
      ), sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN sgn > 0
                 THEN CASE WHEN i = 63 THEN -9223372036854775807 - 1 ELSE 1::BIGINT << CAST(i AS INT) END
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

  /** BPE merge-training oracle: replays TextOps.txtBpeTrain's 8 merge
    * rounds as unrolled CTEs — word histogram → per-round weighted
    * pair counts (p_r) → argmax with the same (count DESC, pair ASC)
    * tie-break (b_r) → `replace` application preserving the
    * double-space symbol encoding (w_r). DuckDB's `replace` is the
    * same left-to-right non-overlapping scan as Spark's, so every
    * round's merge decision is bit-identical.
    */
  private val BpeRounds = 8

  /** WITH-body shared by the BPE train/segment oracles: word histogram
    * (words/w0), then per-round pair counts (p_r), argmax (b_r), and
    * merge application (w_r) up to round 8.
    */
  private lazy val BpeCtes: String = {
    val roundCtes = (1 to BpeRounds).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (
        SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pcnt FROM (
          SELECT cnt, unnest(list_transform(range(1, len(syms)), i -> syms[i] || '|' || syms[i+1])) AS pair
          FROM (SELECT cnt, list_filter(string_split(w, '  '), x -> x <> '') AS syms FROM $prev) s
          WHERE len(syms) >= 2
        ) x GROUP BY 1
      ), b$r AS (
        SELECT pair, pcnt FROM p$r ORDER BY pcnt DESC, pair ASC LIMIT 1
      ), w$r AS (
        -- LEFT JOIN ON TRUE so an exhausted round (empty b_r) passes
        -- words through unchanged instead of emptying the table
        SELECT word, cnt,
               CASE WHEN pair IS NULL THEN w ELSE
                 replace(w, ' ' || split_part(pair, '|', 1) || '  ' || split_part(pair, '|', 2) || ' ',
                            ' ' || split_part(pair, '|', 1) || split_part(pair, '|', 2) || ' ') END AS w
        FROM $prev LEFT JOIN b$r ON TRUE
      )"""
    }.mkString(",\n      ")
    s"""WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
          FROM documents
        ) t WHERE word <> '' GROUP BY 1
      ), w0 AS (
        SELECT word, cnt, ' ' || regexp_replace(word, '(.)', ' \\1 ', 'g') || ' ' AS w FROM words
      ),
      $roundCtes"""
  }

  private lazy val BpeTrainSql: String = {
    val union = (1 to BpeRounds)
      .map(r => s"SELECT $r AS merge_rank, pair, pcnt FROM b$r")
      .mkString("\n        UNION ALL ")
    s"""
      $BpeCtes
      SELECT merge_rank, split_part(pair, '|', 1) AS lhs, split_part(pair, '|', 2) AS rhs,
             split_part(pair, '|', 1) || split_part(pair, '|', 2) AS merged, pcnt AS cnt
      FROM ($union) u"""
  }

  private lazy val BpeSegmentSql: String = s"""
      $BpeCtes
      SELECT word, cnt, CAST(len(syms) AS BIGINT) AS n_pieces, array_to_string(syms, ' ') AS pieces
      FROM (SELECT word, cnt, list_filter(string_split(w, '  '), x -> x <> '') AS syms FROM w$BpeRounds) f"""

  /** Integer dot product of a probe row `a` against centroid `c` in
    * DuckDB list arithmetic — shared by the k-means/IVF oracle family.
    */
  private val IvfDot = "CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * c.cq[i])) AS BIGINT)"

  private def ivfAssignCte(cent: String, name: String, src: String = "en") = s"""$name AS (
        SELECT vec_id, cell FROM (
          SELECT a.vec_id, c.centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   CAST($IvfDot AS DOUBLE) / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
                   c.centroid_id) AS rnk
          FROM $src a, $cent c
        ) WHERE rnk = 1
      )"""

  private def ivfRefineCte(asg: String, name: String, src: String = "en") = s"""$name AS (
        SELECT cell AS centroid_id, cq,
               CAST(list_sum(list_transform(range(1, 65), i -> cq[i] * cq[i])) AS BIGINT) AS cn
        FROM (
          SELECT cell, list(CAST(ROUND(m) AS BIGINT) ORDER BY pos) AS cq
          FROM (
            SELECT s.cell, t.i AS pos,
                   CAST(SUM($src.q[t.i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
            FROM $asg s JOIN $src ON $src.vec_id = s.vec_id,
                 UNNEST(range(1, 65)) AS t(i)
            GROUP BY s.cell, t.i
          ) GROUP BY cell
        )
      )"""

  /** WITH-body replaying SimilarityOps.kmeansCells: quantized vectors
    * (`en`), strided seed centroids (`c0`), three Lloyd iterations
    * (`a1..a3`/`c1..c3`), and the final per-vector assignment (`cells`).
    * Shared by the sim_ivf_topk and dedup_semantic oracles.
    */
  private lazy val IvfCellCtes: String = {
    val iters = (1 to 3).map { k =>
      val prev = if (k == 1) "c0" else s"c${k - 1}"
      ivfAssignCte(prev, s"a$k") + ", " + ivfRefineCte(s"a$k", s"c$k")
    }.mkString(",\n      ")
    s"""e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM e
      ), st AS (
        SELECT MIN(vec_id) AS mn,
               GREATEST(1, (MAX(vec_id) - MIN(vec_id) + 1) // 16) AS step
        FROM en
      ), c0 AS (
        SELECT vec_id AS centroid_id, q AS cq, nq AS cn FROM en, st
        WHERE (vec_id - mn) % step = 0 AND vec_id - mn < step * 16
      ),
      $iters,
      ${ivfAssignCte("c3", "cells")}"""
  }

  /** Index-drift oracle: the Lloyd chain trained on the % 10 < 8 slice
    * only (src = `eno`), the scored assignment of ALL vectors against
    * the frozen c3 centroids, and the per-cell old/new coverage
    * aggregates — ppm-floored cosines summed as integers, sentinel −1/0
    * for cells without new members.
    */
  private lazy val IndexDriftSql: String = {
    val iters = (1 to 3).map { k =>
      val prev = if (k == 1) "c0" else s"c${k - 1}"
      ivfAssignCte(prev, s"a$k", "eno") + ", " + ivfRefineCte(s"a$k", s"c$k", "eno")
    }.mkString(",\n      ")
    val cos = s"CAST($IvfDot AS DOUBLE) / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE)))"
    s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), en AS (
        SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM e
      ), eno AS (
        SELECT * FROM en WHERE vec_id % 10 < 8
      ), st AS (
        SELECT MIN(vec_id) AS mn,
               GREATEST(1, (MAX(vec_id) - MIN(vec_id) + 1) // 16) AS step
        FROM eno
      ), c0 AS (
        SELECT vec_id AS centroid_id, q AS cq, nq AS cn FROM eno, st
        WHERE (vec_id - mn) % step = 0 AND vec_id - mn < step * 16
      ),
      $iters,
      asg AS (
        SELECT vec_id, cell, CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_ppm FROM (
          SELECT a.vec_id, c.centroid_id AS cell, $cos AS cos,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                   ORDER BY $cos DESC, c.centroid_id) AS rnk
          FROM en a, c3 c
        ) WHERE rnk = 1
      ), o AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_old, CAST(SUM(cos_ppm) AS BIGINT) AS sum_old
        FROM asg WHERE vec_id % 10 < 8 GROUP BY 1
      ), nn AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_new, CAST(SUM(cos_ppm) AS BIGINT) AS sum_new
        FROM asg WHERE vec_id % 10 >= 8 GROUP BY 1
      ), tot AS (
        SELECT (SELECT SUM(n_old) FROM o) AS tot_old,
               (SELECT SUM(n_new) FROM nn) AS tot_new
      )
      SELECT cell,
             CAST(COALESCE(o.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new,
             CAST(COALESCE(o.sum_old // o.n_old, -1) AS BIGINT) AS avg_cos_old_ppm,
             CAST(COALESCE(nn.sum_new // nn.n_new, -1) AS BIGINT) AS avg_cos_new_ppm,
             CAST(COALESCE(o.sum_old // o.n_old - nn.sum_new // nn.n_new, -1) AS BIGINT) AS cos_drift_ppm,
             CAST(CASE WHEN o.n_old IS NULL THEN -1
                       ELSE COALESCE((1000000::HUGEINT * nn.n_new * tot.tot_old)
                             // (CAST(o.n_old AS HUGEINT) * tot.tot_new), 0) END AS BIGINT) AS load_ratio_ppm
      FROM o FULL JOIN nn USING (cell), tot"""
  }

  /** Integer squared-L2 distance of subvector row `s` against codeword
    * `c` in DuckDB list arithmetic: |sv|² − 2⟨sv,cv⟩ + |cv|² — the PQ
    * oracle's per-subspace distance (mirrors SimilarityOps.nearestCode).
    */
  private val PqDist =
    "s.sn - 2 * CAST(list_sum(list_transform(range(1, 9), i -> s.sv[i] * c.cv[i])) AS BIGINT) + c.cn"

  private def pqAssignCte(cbk: String, name: String, subs: String = "subsn") = s"""$name AS (
        SELECT vec_id, m, c FROM (
          SELECT s.vec_id, s.m, c.c,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY $PqDist, c.c) AS rnk
          FROM $subs s JOIN $cbk c ON s.m = c.m
        ) WHERE rnk = 1
      )"""

  private def pqRefineCte(asg: String, name: String, subs: String = "subsn") = s"""$name AS (
        SELECT m, c, cv,
               CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cn
        FROM (
          SELECT m, c, list(CAST(ROUND(mv) AS BIGINT) ORDER BY pos) AS cv
          FROM (
            SELECT a.m, a.c, t.i AS pos,
                   CAST(SUM(s.sv[t.i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mv
            FROM $asg a JOIN $subs s ON s.vec_id = a.vec_id AND s.m = a.m,
                 UNNEST(range(1, 9)) AS t(i)
            GROUP BY a.m, a.c, t.i
          ) GROUP BY m, c
        )
      )"""

  /** IVF-PQ oracle (SimilarityOps.simIvfPqTopK): the IVF cell CTEs,
    * integer residuals vs the refined centroids, residual PQ training
    * (two unrolled Lloyd iterations over `psubsn`), per-(probe, cell)
    * residual ADC LUTs, and candidate scoring restricted to the probed
    * cells' members.
    */
  private lazy val IvfPqSql: String = {
    val iters = (1 to 2).map { k =>
      val prev = if (k == 1) "pcb0" else s"pcb${k - 1}"
      pqAssignCte(prev, s"ppa$k", "psubsn") + ", " + pqRefineCte(s"ppa$k", s"pcb$k", "psubsn")
    }.mkString(",\n      ")
    s"""
      WITH $IvfCellCtes,
      resid AS (
        SELECT en.vec_id,
               list_transform(range(1, 65), i -> en.q[i] - c.cq[i]) AS q
        FROM en JOIN cells sc ON sc.vec_id = en.vec_id
        JOIN c3 c ON c.centroid_id = sc.cell
      ), psubsn AS (
        SELECT vec_id, CAST(t.j AS BIGINT) AS m,
               q[CAST(t.j*8+1 AS INT):CAST(t.j*8+8 AS INT)] AS sv,
               CAST(list_sum(list_transform(q[CAST(t.j*8+1 AS INT):CAST(t.j*8+8 AS INT)], x -> x * x)) AS BIGINT) AS sn
        FROM resid, UNNEST(range(0, 8)) AS t(j)
      ), pst AS (
        SELECT MIN(vec_id) AS mn,
               GREATEST(1, (MAX(vec_id) - MIN(vec_id) + 1) // 8) AS step
        FROM resid
      ), pcb0 AS (
        SELECT m, vec_id AS c, sv AS cv, sn AS cn FROM psubsn, pst
        WHERE (vec_id - mn) % step = 0 AND vec_id - mn < step * 8
      ),
      $iters,
      ${pqAssignCte("pcb2", "pcodes", "psubsn")},
      probes AS (
        SELECT qid, cell FROM (
          SELECT a.vec_id AS qid, c.centroid_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   CAST($IvfDot AS DOUBLE) / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) DESC,
                   c.centroid_id) AS rnk
          FROM en a, c3 c WHERE a.vec_id < 10
        ) WHERE rnk <= 4
      ), qresid AS (
        SELECT p.qid, p.cell,
               list_transform(range(1, 65), i -> en.q[i] - c.cq[i]) AS qr
        FROM probes p JOIN en ON en.vec_id = p.qid
        JOIN c3 c ON c.centroid_id = p.cell
      ), qsub AS (
        SELECT qid, cell, CAST(t.j AS BIGINT) AS m,
               qr[CAST(t.j*8+1 AS INT):CAST(t.j*8+8 AS INT)] AS sv,
               CAST(list_sum(list_transform(qr[CAST(t.j*8+1 AS INT):CAST(t.j*8+8 AS INT)], x -> x * x)) AS BIGINT) AS sn
        FROM qresid, UNNEST(range(0, 8)) AS t(j)
      ), lut AS (
        SELECT s.qid, s.cell, s.m, c.c,
               $PqDist AS pd
        FROM qsub s JOIN pcb2 c ON s.m = c.m
      ), cand AS (
        SELECT p.qid, p.cell, cl.vec_id AS cid
        FROM probes p JOIN cells cl ON cl.cell = p.cell
        WHERE cl.vec_id <> p.qid
      ), scoredq AS (
        SELECT cand.qid, cand.cid, CAST(SUM(l.pd) AS BIGINT) AS adist
        FROM cand
        JOIN pcodes k ON k.vec_id = cand.cid
        JOIN lut l ON l.qid = cand.qid AND l.cell = cand.cell
                  AND l.m = k.m AND l.c = k.c
        GROUP BY 1, 2
      )
      SELECT qid, cid, adist, rn FROM (
        SELECT qid, cid, adist,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
        FROM scoredq) t
      WHERE rn <= 5"""
  }

  /** WITH-body replaying SimilarityOps.simPqTopK's codebook training:
    * quantized subvectors (`subsn`), strided seed codebooks (`cb0`,
    * jointly keyed (m, c)), two unrolled Lloyd iterations, and the
    * final per-(vector, subspace) code assignment (`codes`).
    */
  private lazy val PqCodeCtes: String = {
    val iters = (1 to 2).map { k =>
      val prev = if (k == 1) "cb0" else s"cb${k - 1}"
      pqAssignCte(prev, s"pa$k") + ", " + pqRefineCte(s"pa$k", s"cb$k")
    }.mkString(",\n      ")
    s"""e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings
      ), subsn AS (
        SELECT vec_id, CAST(t.j AS BIGINT) AS m,
               q[CAST(t.j*8+1 AS INT):CAST(t.j*8+8 AS INT)] AS sv,
               CAST(list_sum(list_transform(q[CAST(t.j*8+1 AS INT):CAST(t.j*8+8 AS INT)], x -> x * x)) AS BIGINT) AS sn
        FROM e, UNNEST(range(0, 8)) AS t(j)
      ), st AS (
        SELECT MIN(vec_id) AS mn,
               GREATEST(1, (MAX(vec_id) - MIN(vec_id) + 1) // 8) AS step
        FROM e
      ), cb0 AS (
        SELECT m, vec_id AS c, sv AS cv, sn AS cn FROM subsn, st
        WHERE (vec_id - mn) % step = 0 AND vec_id - mn < step * 8
      ),
      $iters,
      ${pqAssignCte("cb2", "codes")}"""
  }

  private val DecontaminateSql = """
      WITH toks AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        FROM documents
      ), grams AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))) AS g
          FROM toks WHERE len(w) >= 8) x
      ), ev AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
      ), tr AS (
        SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0
      ), shared AS (
        SELECT doc_id, COUNT(*) AS n_shared FROM tr JOIN ev USING (g) GROUP BY 1
      ), perdoc AS (
        SELECT doc_id, COUNT(*) AS n_8grams FROM tr GROUP BY 1
      )
      SELECT d.doc_id, COALESCE(n_8grams, 0) AS n_8grams, COALESCE(n_shared, 0) AS n_shared,
             CAST(COALESCE(n_shared, 0) > 0 AS BIGINT) AS contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
      LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id
      LEFT JOIN shared ON d.doc_id = shared.doc_id"""

  /** Bitext candidate SQL — factored so the alignment oracle can
    * nest it as a CTE (the CharLmSql pattern). */
  private lazy val BitextSql: String = """
      WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ), tk AS (
        SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tok, toks FROM t
      ), p AS (
        SELECT DISTINCT doc_id, lang, n_tok, gram FROM (
          SELECT doc_id, lang, n_tok,
                 array_to_string(toks[i:i+4], ' ') AS gram
          FROM tk, unnest(range(1, len(toks) - 3)) AS u(i)
          WHERE len(toks) >= 5
        ) u
      ), rare AS (
        SELECT gram FROM p GROUP BY 1 HAVING COUNT(*) <= 5
      ), rp AS (
        SELECT p.* FROM p JOIN rare USING (gram)
      ), pr AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.lang AS lang_a, b.lang AS lang_b,
               a.n_tok AS n_a, b.n_tok AS n_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM rp a JOIN rp b ON a.gram = b.gram AND a.lang < b.lang
        GROUP BY 1, 2, 3, 4, 5, 6
      )
      SELECT doc_a, doc_b, lang_a, lang_b, n_a, n_b, n_shared
      FROM pr
      WHERE n_shared >= 2 AND LEAST(n_a, n_b) * 2 >= GREATEST(n_a, n_b)"""

  /** Byte-4-gram simhash over the raw payload, mirroring
    * `Multimodal.mmPhashOf` exactly: grams are 8-hex-char windows of
    * `hex(payload)` (both engines' hex() is uppercase), md5-mixed to a
    * signed 64-bit hash, one ±1 vote per gram per bit.
    */
  private lazy val PhashCte: String = s"""
      WITH pay AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
      ), g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, CAST(n - 3 AS INT) + 1),
                 i -> substr(hx, CAST(2*i - 1 AS INT), 8))) AS g
        FROM pay WHERE n >= 4
      ), hh AS (
        SELECT doc_id,
               (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS h
        FROM (
          SELECT doc_id,
                 ('0x' || substr(md5(g), 1, 8))::BIGINT AS hi,
                 ('0x' || substr(md5(g), 9, 8))::BIGINT AS lo
          FROM g) x
      ), bits AS (
        SELECT doc_id, i, SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        FROM hh, (SELECT unnest(range(0, 64)) AS i) r
        GROUP BY 1, 2
      ), ph AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN sgn > 0
                 THEN CASE WHEN i = 63 THEN -9223372036854775807 - 1 ELSE 1::BIGINT << CAST(i AS INT) END
                 ELSE 0 END) AS BIGINT) AS phash
        FROM bits GROUP BY doc_id
      )
      """
}
