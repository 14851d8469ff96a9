package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational query battery over the TPC-H-style tables.
  *
  * Every query here is a `(SparkSession, sfDir) => DataFrame` registered
  * in [[graft.SparkEntry.specs]] with its DuckDB oracle (the approximate
  * `qApproxSketch` with the reason it has none).
  *
  * Numeric discipline (applies to the whole file): any aggregate over a
  * floating-point money column is computed in integer cents
  * (`round(x*100)::long`) so sums are exact and order-independent — a
  * parallel engine cannot reproduce another engine's double-summation
  * order, but integer sums hash-match bit-for-bit at any scale and any
  * partitioning. Per-row double arithmetic (same IEEE ops in both
  * engines) is fine; cross-row double reduction is not.
  *
  * Scale notes: joins below let Catalyst choose the strategy; dimension
  * tables (region/nation/customer at these SFs) are marked `broadcast`
  * where a 100 TB fact-side would otherwise shuffle. Aggregations are
  * plain `groupBy` → partial (map-side) aggregation + AQE-coalesced
  * exchange, which scales linearly with executors.
  */
object Relational {
  /** money → exact integer cents. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** TPC-H Q1-style pricing summary: single shuffle, map-side combine. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))))
          .as("sum_charge_cents"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: filter-pushdown + broadcast dim join + top-k.
    * customer is the small side → broadcast; lineitem⋈orders shuffles on
    * the join key only after both scans pruned columns + pushed filters.
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: 6-way join, region/nation/supplier broadcast. */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val su = t(s, dir, "supplier")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
  }

  /** TPC-H Q10-style returned-item report: which customers returned the
    * most revenue. Fact-side filter pushed to the scan, nation
    * broadcast, top-20 via TakeOrdered — no full sort.
    */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q12-style shipping-lateness report (adapted to this schema's
    * columns: no commit/receipt dates, so "late" = shipped more than 60
    * days after the order date), bucketed by order priority. The
    * classic two-CASE-sum single-shuffle shape.
    */
  def q12LateByPriority(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(late, 1L).otherwise(0L)).as("late_lines"),
        sum(when(late, 0L).otherwise(1L)).as("ontime_lines"))
  }

  /** TPC-H Q14-style promotion-revenue share: fraction of revenue from
    * PROMO parts, as an exact integer ratio (milli-units via integer
    * division — no cross-engine double division in the output). Global
    * two-CASE aggregate; part joins on its key (broadcast at dim scale).
    */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO",
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).otherwise(0L))
          .as("promo_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("total_cents"))
      .withColumn("promo_millis", expr("(1000 * promo_cents) div total_cents"))
  }

  /** TPC-H Q7-style volume shipping: revenue flowing between a pair of
    * nations (customer nation vs supplier nation), by ship year. Two
    * distinct dimension paths out of the same fact row — supplier side
    * and customer side each broadcast; the only big shuffle is
    * lineitem⋈orders on the order key. The symmetric-pair disjunction
    * is applied AFTER both nation names are in scope, as one residual
    * filter on broadcast-joined rows.
    */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val n2 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .filter((col("cust_nation") === "NATION_1" && col("supp_nation") === "NATION_2") ||
        (col("cust_nation") === "NATION_2" && col("supp_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
  }

  /** TPC-H Q9-style product-type profit (adapted: no partsupp table, so
    * supply cost is modeled as half the part's retail price). Profit is
    * computed per-row in doubles (identical IEEE ops both engines) and
    * rounded to cents BEFORE the sum, keeping the aggregate exact under
    * any partitioning. p_name filter prunes the broadcast part side
    * before the fact join.
    */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_name").contains("widget"))
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val l = t(s, dir, "lineitem")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        - col("p_retailprice") * col("l_quantity") * lit(0.5))).as("profit_cents"))
  }

  /** TPC-H Q19-style discounted revenue under a disjunction of
    * (brand, size-range, quantity-range) triples. The join key
    * (l_partkey = p_partkey) is common to every disjunct, so Catalyst
    * keeps a single broadcast hash join and evaluates the OR as a
    * residual — the shape that verifies disjunctive predicates don't
    * degrade the join into a cartesian.
    */
  def q19DisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val d1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1, 20)
    val d2 = col("p_brand") === "Brand#2" && col("p_size").between(5, 25) &&
      col("l_quantity").between(10, 30)
    val d3 = col("p_brand") === "Brand#3" && col("p_size").between(10, 40) &&
      col("l_quantity").between(20, 40)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey") && (d1 || d2 || d3))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q6-style forecasting revenue: the pure-scan aggregate — every
    * predicate (date range, discount band, quantity cap) is a
    * conjunctive filter the scan can evaluate, so the plan is scan →
    * filter → partial agg → one-row exchange. The 100 TB shape where
    * pushdown IS the query plan.
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q8-style market share: one nation's fraction of yearly
    * revenue into a region, as a two-CASE aggregate over the same
    * joined rows (never two passes) with the share as an exact integer
    * ratio. Region restriction travels customer→nation→region, the
    * measured nation comes from the supplier path.
    */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nCust = t(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val nSupp = t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val p = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val vol = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("c_nk"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_3", vol).otherwise(0L)).as("nation_cents"),
        sum(vol).as("total_cents"))
      .withColumn("share_millis", expr("(1000 * nation_cents) div total_cents"))
  }

  /** Window functions: rank + running total inside each customer. */
  def qWindowTop3(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("price_cents").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .withColumn("run_cents", sum(col("price_cents")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("rn") <= 3)
  }

  /** Full window-function surface in one query: ranking, distribution,
    * tiling, offsets, and frame-bounded first/last — all over a
    * deterministic (price, key) ordering so results are reproducible
    * under any partitioning.
    */
  def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("pc"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("pc"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.select(col("o_custkey"), col("o_orderkey"), col("pc"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("prank"),
      cume_dist().over(w).as("cdist"),
      first(col("pc")).over(full).as("min_pc"),
      last(col("pc")).over(full).as("max_pc"),
      lag(col("pc"), 1).over(w).as("prev_pc"),
      lead(col("pc"), 1).over(w).as("next_pc"))
  }

  /** Exact median over integer cents: both engines linearly interpolate
    * percentiles over sorted exact integers → identical doubles.
    */
  def qMedian(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderstatus"), cents(col("o_totalprice")).as("pc"))
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(pc, 0.5)").as("median_cents"),
        expr("percentile(pc, 0.9)").as("p90_cents"),
        count(lit(1)).as("n"))

  /** ROLLUP aggregate (subtotal + grand-total rows). */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(cents(col("o_totalprice"))).as("sum_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("cnt"), col("sum_cents"))

  /** CUBE aggregate. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("cnt"))

  /** GROUPING SETS via the SQL surface (temp views → spark.sql). */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(1) AS cnt
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)
  }

  /** Set operators: EXCEPT / INTERSECT / UNION (distinct semantics). */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    f.except(open).union(f.intersect(p)).distinct()
  }

  /** COUNT(DISTINCT) + plain count per group. */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))

  /** Left-semi join (EXISTS). */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Scalar string/math functions + CASE WHEN, row-parallel (no shuffle). */
  def qScalarPart(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      length(col("p_name")).as("name_len"),
      substring(col("p_type"), 1, 5).as("type5"),
      (col("p_size") % 7).as("size_mod"),
      cents(abs(col("p_retailprice") - 1000.0)).as("absdiff_cents"),
      when(col("p_size") > 25, "L").when(col("p_size") > 10, "M").otherwise("S").as("size_class"))

  /** Date/time scalar functions. */
  def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dom"),
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
      datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"))

  /** Conditional aggregation + HAVING. */
  def qCaseHaving(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(when(col("c_acctbal") > 0, cents(col("c_acctbal"))).otherwise(0L)).as("pos_bal_cents"),
        sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("n_neg"))
      .filter(col("n_cust") >= 5)

  /** "Above this customer's average" — correlated-subquery semantics done
    * with window aggregates, compared in exact integer space
    * (pc*n > sum  ⇔  pc > avg) so no float boundary ambiguity exists.
    */
  def qAboveAvg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), cents(col("o_totalprice")).as("pc"))
    val w = Window.partitionBy(col("o_custkey"))
    o.withColumn("s", sum(col("pc")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("pc") * col("n") > col("s"))
      .select(col("o_orderkey"), col("o_custkey"), col("pc"))
  }

  /** TPC-H Q13-style: outer join + two-level aggregation. */
  def qCustDist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** Top-k by sort (TakeOrderedAndProject — no full sort at scale). */
  def qTopKParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), cents(col("p_retailprice")).as("price_cents"))
      .orderBy(col("price_cents").desc, col("p_partkey"))
      .limit(20)

  /** UNION ALL (duplicates preserved) vs the distinct set ops above. */
  def qUnionAll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"), lit("urgent").as("bucket"))
    val high = o.filter(col("o_orderpriority") === "2-HIGH")
      .select(col("o_custkey"), lit("high").as("bucket"))
    urgent.union(high)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
  }

  /** Cross join (small dims — the legitimate use). */
  def qCrossJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"),
        (col("r_regionkey") === col("n_regionkey")).cast("long").as("is_home"))

  /** NULL semantics: coalesce / nullif / null-safe equality / counts. */
  def qNullHandling(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.select(
      col("c_custkey"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(bldg)")).as("seg_or_default"),
      when(col("c_acctbal") < 0, col("c_acctbal")).otherwise(lit(null)).isNull.cast("long").as("non_neg"),
      (col("c_nationkey") <=> lit(0)).cast("long").as("is_nation0"))
  }

  /** Ordered string aggregation (listagg): deterministic via sorted
    * distinct sets — collect_set order is partition-dependent, so the
    * sort is what makes this reproducible on any cluster.
    */
  def qListAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"),
        count(lit(1)).as("n"))

  /** Pivot (orderstatus → columns). */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("O").cast("long").as("n_open"),
        col("F").cast("long").as("n_fulfilled"), col("P").cast("long").as("n_pending"))

  /** UNPIVOT (wide → long): the inverse of [[qPivot]], via the codegen'd
    * `stack` table generator — one narrow scan, no shuffle before the
    * aggregate that follows in a real pipeline.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    qPivot(s, dir).select(col("o_orderpriority"),
      expr("stack(3, 'open', n_open, 'fulfilled', n_fulfilled, 'pending', n_pending) AS (status, n)"))
      .filter(col("n") > 0)

  /** Approximate sketches next to their exact answers: HyperLogLog++
    * distinct counts and an approximate median per return flag. At
    * 100 TB the approx forms are the only affordable ones (mergeable
    * fixed-size sketches, one map-side pass, no distinct shuffle);
    * the exact columns exist so OpsSpec can bound the relative error.
    * No DuckDB oracle — sketch values are implementation-defined.
    */
  def qApproxSketch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("approx_p50_qty"),
        expr("percentile(l_quantity, 0.5)").as("exact_p50_qty"))

  // ---- data-test operators (dbt generic tests as DataFrame ops) ----

  /** `unique` test: failing rows (keys occurring more than once). */
  def tUnique(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("value"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** `not_null` test: null counts over the checked columns. */
  def tNotNull(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdate"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"))

  /** `accepted_values` test: rows outside the allowed set. */
  def tAcceptedValues(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(!col("o_orderstatus").isin("O", "F", "P"))
      .groupBy(col("o_orderstatus").as("value"))
      .agg(count(lit(1)).as("n"))

  /** `relationships` (FK) test: child keys missing from parent. */
  def tRelationships(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
}
