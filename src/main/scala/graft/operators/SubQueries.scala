package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Subquery surface (TPC-H q4/q17/q18/q22 shapes adapted to the test
  * schema): correlated EXISTS / NOT EXISTS, null-aware NOT IN, IN over
  * an aggregated subquery, and correlated scalar subqueries.
  *
  * These run through `spark.sql` deliberately — the value under test is
  * Catalyst's subquery decorrelation (reference: dbt delegates exactly
  * this SQL to the warehouse, core/dbt/context/providers.py execute
  * path): EXISTS becomes a left-semi join, NOT IN a null-aware anti
  * join (BroadcastNestedLoopJoin only when nullability forces it),
  * correlated scalars become an aggregate + equi-join. All shapes stay
  * shuffle-bounded at 100 TB: every decorrelated join keys on the
  * correlation column, so there is no nested-loop re-execution per
  * outer row as in a naive interpreter.
  *
  * Numeric hygiene: money/average comparisons are integer-exact
  * (cents × counts, never float AVG) so the DuckDB oracle hashes
  * bit-for-bit — a float AVG boundary could flip a row between
  * engines (see the SparkEntry.specs scaladoc).
  */
object SubQueries {
  private def views(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))

  /** TPC-H q4 shape — correlated EXISTS: orders having at least one
    * line item shipped more than 100 days after the order date.
    * Plan: left-semi join on l_orderkey = o_orderkey with the date
    * predicate as the residual condition; one shuffle pair.
    */
  def qExistsLateShip(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "orders", "lineitem")
    s.sql("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 100 DAY)
      GROUP BY o_orderpriority""")
  }

  /** Null-aware NOT IN: market-segment counts of customers with no
    * urgent order. o_custkey is nullable in the catalog, so Catalyst
    * must preserve three-valued NOT IN semantics (any NULL in the
    * subquery empties the result) — planned as a null-aware anti join
    * with the subquery side broadcast when small.
    */
  def qNotInUrgent(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "customer", "orders")
    s.sql("""
      SELECT c_mktsegment, COUNT(*) AS n_cust
      FROM customer
      WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment""")
  }

  /** TPC-H q18 shape — IN over an aggregated subquery: large orders
    * (total quantity > 200) with customer detail. The IN subquery is
    * itself a groupBy+HAVING; Catalyst plans it as an aggregate
    * feeding a left-semi join on the group key.
    */
  def qInLargeOrders(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "customer", "orders", "lineitem")
    s.sql("""
      SELECT c_name, o_orderkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 200)
      GROUP BY c_name, o_orderkey""")
  }

  /** TPC-H q17 shape — correlated scalar subqueries: per-brand count
    * of line items whose quantity is below 20% of that part's average
    * quantity. The average is compared in exact integer form
    * (qty * 5 * count < sum) via TWO correlated scalars; Catalyst
    * decorrelates both into one aggregate over lineitem joined on
    * l_partkey, so lineitem is scanned twice, not once per outer row.
    */
  def qScalarSmallQty(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "part", "lineitem")
    s.sql("""
      SELECT p_brand, COUNT(*) AS n_small,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE CAST(l_quantity AS BIGINT) * 5 *
            (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
            < (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
               FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      GROUP BY p_brand""")
  }

  /** TPC-H q22 shape — uncorrelated scalar subquery + NOT EXISTS:
    * customers with above-average positive balance and no urgent
    * orders. The global average is exact integer math (cents × count
    * vs sum-of-cents); NOT EXISTS plans as a left-anti join on custkey.
    */
  def qScalarIdleCustomers(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "customer", "orders")
    s.sql("""
      SELECT c_mktsegment, COUNT(*) AS n_cust,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
      FROM customer
      WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
            (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
            > (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment""")
  }

  /** LATERAL correlated subquery with LIMIT: each nation's two
    * highest-balance suppliers. The per-group top-k via LATERAL is the
    * SQL-standard spelling of what qWindowTop3 does with a window —
    * Catalyst rewrites it to a window under DecorrelateInnerQuery, so
    * the physical plan is the same single shuffle on the group key.
    */
  /** TPC-H q2 shape — correlated scalar MIN over a join: for each part
    * of the size filter, the shipper(s) holding the minimum account
    * balance among that part's suppliers. The (part, supplier) bridge
    * is a DISTINCT projection of lineitem (this schema has no
    * partsupp); the correlated MIN decorrelates into an aggregate
    * joined back on the part key — one pass, no per-part re-execution.
    */
  def qMinBalanceSupplier(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "part", "supplier", "lineitem")
    s.sql("""
      WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      SELECT p_partkey, s_suppkey, s_name,
             CAST(ROUND(s_acctbal*100) AS BIGINT) AS acct_cents
      FROM part
      JOIN ps ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_size = 10
        AND CAST(ROUND(s_acctbal*100) AS BIGINT) = (
          SELECT MIN(CAST(ROUND(s2.s_acctbal*100) AS BIGINT))
          FROM ps ps2 JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
          WHERE ps2.l_partkey = p_partkey)""")
  }

  /** TPC-H q11 shape — HAVING against a global scalar of the same
    * aggregate: parts whose lineitem value exceeds 1/1500 of the total.
    * The threshold is a multiply-compare (1500·v > Σv), the CTE
    * aggregates once, and the scalar total is a single-row broadcast.
    */
  def qImportantParts(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "lineitem")
    s.sql("""
      WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS value_cents
        FROM lineitem GROUP BY l_partkey)
      SELECT l_partkey, value_cents
      FROM pv
      WHERE 1500 * value_cents > (SELECT SUM(value_cents) FROM pv)""")
  }

  /** TPC-H q16 shape — COUNT(DISTINCT) per group with a NOT IN
    * exclusion list: how many distinct suppliers shipped each
    * (brand, type) for the size filter, excluding negative-balance
    * suppliers. The NOT IN side is metadata-sized → broadcast anti
    * join; the distinct count is one (brand, type, suppkey) shuffle.
    */
  def qSupplierCount(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "part", "supplier", "lineitem")
    s.sql("""
      SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM part JOIN lineitem ON p_partkey = l_partkey
      WHERE p_size IN (1, 5, 10, 15, 20)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type""")
  }

  /** TPC-H q20 shape — IN over a multi-join aggregated subquery:
    * suppliers who shipped more than an eighth of some red part's total
    * quantity (the "dominant supplier" adaptation of q20's
    * availability test; this schema has no partsupp). The share test
    * is the integer comparison 8·sq > tq; both aggregates group on
    * the part key, so the subquery is two co-keyed shuffles + a
    * broadcast part filter, then a semi join into supplier.
    */
  def qDominantSupplier(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "part", "supplier", "lineitem")
    s.sql("""
      WITH pq AS (
        SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS sq
        FROM lineitem GROUP BY l_partkey, l_suppkey),
      pt AS (
        SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS tq
        FROM lineitem GROUP BY l_partkey)
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_suppkey IN (
        SELECT pq.l_suppkey
        FROM pq JOIN pt USING (l_partkey) JOIN part ON p_partkey = pq.l_partkey
        WHERE p_name LIKE 'red%' AND 8 * sq > tq)""")
  }

  /** TPC-H q15 shape — argmax over an aggregated derived table: the
    * supplier(s) with the maximum recent revenue. The CTE aggregates
    * once; the scalar MAX subquery over it becomes a single-row
    * broadcast, so the "top" filter costs one more pass over the
    * 100-row aggregate, never over the fact table.
    */
  def qTopRevenueSupplier(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "supplier", "lineitem")
    s.sql("""
      WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= DATE '2000-01-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_cents
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE total_cents = (SELECT MAX(total_cents) FROM rev)""")
  }

  /** TPC-H q21 shape — double correlated quantifier (EXISTS + NOT
    * EXISTS on the same correlation key): suppliers that were the SOLE
    * late supplier on a multi-supplier order ("late" adapted to this
    * schema: shipped >60 days after the order date; the NOT EXISTS
    * correlates on both l1.l_orderkey and the outer o_orderdate).
    * Catalyst decorrelates both quantifiers into semi/anti joins keyed
    * on the order key — no per-row re-execution at any scale.
    */
  def qSoleLateSupplier(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "supplier", "lineitem", "orders")
    s.sql("""
      SELECT s_name, COUNT(*) AS numwait
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
      GROUP BY s_name""")
  }

  def qLateralTopSupp(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "nation", "supplier")
    s.sql("""
      SELECT n_name, s_name,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS bal_cents
      FROM nation,
      LATERAL (
        SELECT s_name, s_acctbal FROM supplier
        WHERE s_nationkey = n_nationkey
        ORDER BY s_acctbal DESC, s_name LIMIT 2)""")
  }
}
