package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-schema join/aggregate queries over the TPC-H-ish testdata tables.
  *
  * These exercise the relational surface beyond the reference (which has no
  * joins — SURVEY.md §2.1): multi-way joins, broadcast of dimension tables,
  * partial aggregation, top-k. Written scale-first:
  *
  *  - dimension tables (`region`, `nation`, `customer`, `supplier`) are
  *    explicitly `broadcast()` — at 100 TB the fact tables shuffle on the
  *    join key otherwise, and customer at SF-100k is still ≪ the 8 GB
  *    broadcast ceiling after filters;
  *  - aggregates are plain `groupBy` — Catalyst plans partial (map-side)
  *    aggregation automatically, so each shuffle moves pre-combined rows;
  *  - top-k uses `orderBy(...).limit(k)` → `TakeOrderedAndProject`, which
  *    never materializes a global sort.
  *
  * Money sums are rounded to 2 decimals in BOTH engines so double
  * summation-order noise (~1e-9 at sf0.1) can't flip the comparison.
  * Q1 and Q5 — whose groups aggregate millions of rows, crossing that
  * margin one decade past the bench SF — sum on the exact DECIMAL grid
  * instead (the [[TpchAdapted.q9ProductProfit]] convention; sf1-verified).
  */
object Tpch {

  /** TPC-H Q1 shape: pricing summary over lineitem (scan + one hash agg). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      // money/averages on the exact DECIMAL grid (q9ProductProfit
      // convention): Q1's groups aggregate millions of rows, where the
      // double-sum reordering bound n·ε·Σ|x| crosses the 2-dp rounding
      // margin at sf1. Decimal sums are reorder-invariant; each average
      // is ONE double division of an exact sum, bit-identical in both
      // engines.
      .agg(
        round(sum(col("l_quantity").cast("decimal(12,2)")), 2)
          .cast("double").as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(15,2)")), 2)
          .cast("double").as("sum_base_price"),
        round(sum(col("l_extendedprice").cast("decimal(15,2)") *
            (lit(1) - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("sum_disc_price"),
        round(sum(col("l_extendedprice").cast("decimal(15,2)") *
            (lit(1) - col("l_discount").cast("decimal(4,2)")) *
            (lit(1) + col("l_tax").cast("decimal(4,2)"))), 2)
          .cast("double").as("sum_charge"),
        round(sum(col("l_quantity").cast("decimal(12,2)")).cast("double") /
          count(lit(1)), 4).as("avg_qty"),
        round(sum(col("l_extendedprice").cast("decimal(15,2)")).cast("double") /
          count(lit(1)), 4).as("avg_price"),
        round(sum(col("l_discount").cast("decimal(4,2)")).cast("double") /
          count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(round(sum(l_quantity::DECIMAL(12,2)), 2) AS DOUBLE) AS sum_qty,
      |  CAST(round(sum(l_extendedprice::DECIMAL(15,2)), 2) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(l_extendedprice::DECIMAL(15,2)
      |    * (1 - l_discount::DECIMAL(4,2))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(round(sum(l_extendedprice::DECIMAL(15,2)
      |    * (1 - l_discount::DECIMAL(4,2))
      |    * (1 + l_tax::DECIMAL(4,2))), 2) AS DOUBLE) AS sum_charge,
      |  round(CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) / count(*), 4) AS avg_qty,
      |  round(CAST(sum(l_extendedprice::DECIMAL(15,2)) AS DOUBLE) / count(*), 4) AS avg_price,
      |  round(CAST(sum(l_discount::DECIMAL(4,2)) AS DOUBLE) / count(*), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: shipping-priority join — one broadcast dim (customer
    * after segment filter) + fact-fact join, top-10 revenue orders.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li   = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  o_orderpriority,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1997-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: 6-table star join, revenue per nation for one region
    * and a one-year order window. All four dims broadcast; the only shuffle
    * left is orders⋈lineitem plus the final tiny aggregate.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = Tables(spark, dir, "nation")
    val cust   = Tables(spark, dir, "customer")
    val supp   = Tables(spark, dir, "supplier")
    val ord = Tables(spark, dir, "orders").filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
      col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
    val li = Tables(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      // money on the exact DECIMAL grid (the q9ProductProfit convention):
      // at sf1 the double-sum reordering error crosses the 2-dp rounding
      // margin; decimal summation is reorder-invariant at any scale
      .agg(round(sum(col("l_extendedprice").cast("decimal(15,2)") *
          (lit(1) - col("l_discount").cast("decimal(4,2)"))), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(round(sum(l_extendedprice::DECIMAL(15,2)
      |    * (1 - l_discount::DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q4 shape: order-priority checking via EXISTS → left-semi join. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
    val li  = Tables(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Top-k customers by lifetime order value, nation name via broadcast. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(round(sum(col("o_totalprice")), 2).as("total_spent"),
        count(lit(1)).as("n_orders"))
    totals
      .join(broadcast(Tables(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("total_spent"), col("n_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(10)
  }

  val topCustomersSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  round(sum(o_totalprice), 2) AS total_spent,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY total_spent DESC, c_custkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q6 shape: forecast-revenue-change — pure scan + filter + scalar
    * aggregate, the canonical predicate-pushdown benchmark (every filter
    * reaches the parquet scan; no shuffle at all beyond the final combine).
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.04) &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  val q6Sql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.04
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q10 shape: returned-item reporting — fact-fact join restricted
    * by a quarter window, customer/nation broadcast, top-20 by revenue.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders").filter(
      col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
      col("o_orderdate") <  lit("1997-04-01").cast("timestamp"))
    val li = Tables(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q14 shape: promotion-revenue share — lineitem⋈part for one
    * month, conditional aggregation over the joined rows. Part is
    * broadcast; the promo share is a ratio of two sums from one pass.
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").filter(
      col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
      col("l_shipdate") <  lit("1997-04-01").cast("timestamp"))
    val part = Tables(spark, dir, "part")
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))) * 100.0
          / sum(rev), 4).as("promo_revenue_pct"))
  }

  val q14Sql: String =
    """SELECT round(
      |  sum(CASE WHEN p_type LIKE 'PROMO%'
      |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100.0
      |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin

  /** Set-operation query: customers who placed orders but never a
    * high-priority one — EXCEPT over key sets (hash-dedup'd set difference;
    * Spark plans it as a left-anti aggregate, no full sort).
    */
  def customersWithoutUrgent(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
    ord.select(col("o_custkey"))
      .except(ord.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  val customersWithoutUrgentSql: String =
    """SELECT o_custkey FROM orders
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin

  /** Set-operation query: parts shipped in BOTH early 1996 and early 1998
    * (Jan 1 – Mar 1 of each) — INTERSECT over key sets, completing the
    * set-op family next to the EXCEPT query (Spark plans it as a left-semi
    * aggregate over deduped sides). Windows chosen so the result is
    * non-empty and non-universal on the testdata (shipdates span
    * 1995–2001).
    */
  def partsInBothYears(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    def shippedEarly(year: Int) = li
      .filter(col("l_shipdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"$year-03-01").cast("timestamp"))
      .select(col("l_partkey"))
    shippedEarly(1996).intersect(shippedEarly(1998)).orderBy("l_partkey")
  }

  val partsInBothYearsSql: String =
    """SELECT l_partkey FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-03-01'
      |INTERSECT
      |SELECT l_partkey FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-03-01'
      |ORDER BY l_partkey""".stripMargin

  /** Multiset set operations — INTERSECT ALL / EXCEPT ALL, the bag forms
    * the DISTINCT set-ops above cannot express: per part, `common` keeps
    * min(n₉₆, n₉₇) shipment copies and `excess_96` keeps
    * max(0, n₉₆ − n₉₇) — multiplicities, not membership. Output is the
    * per-part copy count of each bag (compact and deterministic), one
    * query covering both operators.
    *
    * Plan note: Spark rewrites both ALL forms into counted unions (a
    * generate over per-key count deltas), never a join per duplicate —
    * the aggregate-after keeps the result bounded by the part universe.
    */
  def setopAllShipments(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    def shipped(year: Int) = li
      .filter(col("l_shipdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select(col("l_partkey"))
    val a = shipped(1996)
    val b = shipped(1997)
    val common = a.intersectAll(b).groupBy("l_partkey")
      .agg(count(lit(1)).as("n_copies"))
      .select(lit("common").as("op"), col("l_partkey"), col("n_copies"))
    val excess = a.exceptAll(b).groupBy("l_partkey")
      .agg(count(lit(1)).as("n_copies"))
      .select(lit("excess_96").as("op"), col("l_partkey"), col("n_copies"))
    common.unionAll(excess).orderBy("op", "l_partkey")
  }

  val setopAllShipmentsSql: String =
    """WITH a AS (
      |  SELECT l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |), b AS (
      |  SELECT l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |)
      |SELECT 'common' AS op, l_partkey, count(*) AS n_copies
      |FROM (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b)
      |GROUP BY l_partkey
      |UNION ALL
      |SELECT 'excess_96', l_partkey, count(*)
      |FROM (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
      |GROUP BY l_partkey
      |ORDER BY op, l_partkey""".stripMargin

  /** Anti-join query: suppliers with no high-quantity returns in 1999 —
    * an explicit `left_anti` join (NOT EXISTS), the join type the EXCEPT
    * query only reaches through set-op rewriting. Broadcast of the
    * (deduped) offending keys keeps the anti probe shuffle-free on the
    * supplier side; the filters push into the lineitem scan.
    */
  def suppliersNoReturns(spark: SparkSession, dir: String): DataFrame = {
    val returned = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") >= 48 &&
        col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .select(col("l_suppkey")).distinct()
    Tables(spark, dir, "supplier")
      .join(broadcast(returned), col("s_suppkey") === col("l_suppkey"), "left_anti")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  val suppliersNoReturnsSql: String =
    """SELECT s_suppkey, s_name FROM supplier s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_suppkey = s.s_suppkey AND l_returnflag = 'R'
      |    AND l_quantity >= 48
      |    AND l_shipdate >= TIMESTAMP '1999-01-01'
      |    AND l_shipdate < TIMESTAMP '2000-01-01')
      |ORDER BY s_suppkey""".stripMargin

  /** Market-basket co-occurrence with lift — "orders containing part A
    * also contain part B": candidate pairs form ONLY inside an order
    * (equi-join on the order key, fan-out bounded by basket size — never
    * part×part), and lift = P(A∧B)/(P(A)P(B)) re-scaled to the exact
    * integer form (n_ab·N)/(n_a·n_b), one IEEE division of exact
    * products (the [[TextAnalysis.pmiPairs]] exactness recipe applied to
    * baskets; PMI and lift are the same statistic in different clothes).
    *
    * Scale shape: distinct (order, part) projection, self-equi-join on
    * the order key, support filter BEFORE the marginal joins, broadcast
    * marginals, TakeOrderedAndProject.
    */
  def alsoBought(spark: SparkSession, dir: String,
      minSupport: Int = 3, k: Int = 50): DataFrame = {
    val items = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")), Seq("l_orderkey"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val marg = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val total = items.agg(countDistinct(col("l_orderkey")).as("nn"))
    pairs
      .join(broadcast(marg.select(col("l_partkey").as("p1"), col("n").as("n_a"))), Seq("p1"))
      .join(broadcast(marg.select(col("l_partkey").as("p2"), col("n").as("n_b"))), Seq("p2"))
      .crossJoin(total)
      .select(col("p1"), col("p2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab") * col("nn")).cast("double") / (col("n_a") * col("n_b")))
          .as("lift"))
      .orderBy(col("lift").desc, col("p1"), col("p2"))
      .limit(k)
  }

  val alsoBoughtSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_ab
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 3
      |), marg AS (
      |  SELECT l_partkey, count(*) AS n FROM items GROUP BY 1
      |), tot AS (
      |  SELECT count(DISTINCT l_orderkey) AS nn FROM items
      |)
      |SELECT p1, p2, n_ab, ma.n AS n_a, mb.n AS n_b,
      |  (n_ab * nn)::DOUBLE / (ma.n * mb.n) AS lift
      |FROM pairs JOIN marg ma ON ma.l_partkey = p1
      |JOIN marg mb ON mb.l_partkey = p2, tot
      |ORDER BY lift DESC, p1, p2 LIMIT 50""".stripMargin

  /** Distinct aggregation: distinct parts and suppliers per return flag. */
  def distinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val distinctPartsSql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
}
