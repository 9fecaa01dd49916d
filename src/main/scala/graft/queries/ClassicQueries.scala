package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The decision-support classics the fixture schema can express (TPC-H
  * Q2/Q7/Q8/Q13/Q14/Q15/Q18/Q19/Q21/Q22 shapes, adapted to the driver
  * tables — there is no partsupp, no comment columns, and no
  * receipt/commit dates, so each query keeps its canonical PLAN SHAPE
  * while drawing predicates from columns that exist). These exercise
  * optimizer paths the rest of the surface doesn't: decorrelated
  * EXISTS/NOT-EXISTS self-joins (Q21), anti-join + exact-decimal scalar
  * threshold (Q22), disjunctive multi-column predicate pushdown (Q19),
  * join-then-reaggregate distributions (Q13), and argmin-per-group
  * (Q2/Q15).
  *
  * Money arithmetic follows the repo-wide contract (SURVEY §7.4):
  * factors are cast to exact DECIMAL before multiplying, sums are
  * order-free decimal adds rounded once at the end, and ratios divide
  * the already-rounded doubles — bit-identical across engines. Where a
  * scalar threshold feeds a comparison (Q22's "above average balance"),
  * the division is eliminated algebraically (bal·n > Σbal) so no
  * engine-specific float division decides a boundary row.
  */
object ClassicQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** [[t]] + [[Tables.rebalanceForCompute]]: spread a few-row-group scan
    * before CPU-heavy downstream work (no-op on well-partitioned input). */
  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  private def moneySum(c: Column): Column =
    round(sum(c.cast("decimal(18,4)")), 2).cast("double")

  private def rev: Column =
    (col("l_extendedprice") * (lit(1) - col("l_discount")))

  lazy val registry: Registry = Registry(
    // TPC-H Q7 volume shipping: revenue flowing between two regions in
    // either direction, per shipment year. Five-way join; both nation
    // legs broadcast (25 rows), the fact-side joins shuffle on their
    // keys once each.
    "q36_volume_shipping" -> Query((s, dir) => {
      val n = t(s, dir, "nation")
      val n1 = n.select(col("n_nationkey").as("s_nk"),
        col("n_regionkey").as("supp_region"))
      val n2 = n.select(col("n_nationkey").as("c_nk"),
        col("n_regionkey").as("cust_region"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate").between(
          lit("1996-01-01 00:00:00").cast("timestamp"),
          lit("1999-12-31 23:59:59").cast("timestamp")))
      li.join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where((col("supp_region") === 0 && col("cust_region") === 1) ||
               (col("supp_region") === 1 && col("cust_region") === 0))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(moneySum(rev).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("supp_region", "cust_region", "l_year")
    },
      """SELECT n1.n_regionkey AS supp_region, n2.n_regionkey AS cust_region,
        |  year(l_shipdate) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_regionkey = 0 AND n2.n_regionkey = 1)
        |    OR (n1.n_regionkey = 1 AND n2.n_regionkey = 0))
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |                     AND TIMESTAMP '1999-12-31 23:59:59'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q8 market share: region-0 customers buying PROMO parts —
    // what fraction of that revenue is served by region-1 suppliers,
    // per order year. Numerator and denominator are separately-rounded
    // decimal sums; the share divides the two doubles.
    "q37_market_share" -> Query((s, dir) => {
      val n = t(s, dir, "nation")
      val n1 = n.select(col("n_nationkey").as("s_nk"),
        col("n_regionkey").as("supp_region"))
      val n2 = n.select(col("n_nationkey").as("c_nk"),
        col("n_regionkey").as("cust_region"))
      val v = rev.cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").where(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where(col("cust_region") === 0)
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(
            round(sum(when(col("supp_region") === 1, v)
              .otherwise(lit(0).cast("decimal(18,4)"))), 2).cast("double")
              / round(sum(v), 2).cast("double"), 6).as("mkt_share"),
          round(sum(v), 2).cast("double").as("total_rev"))
        .orderBy("o_year")
    },
      """WITH vol AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS v,
        |    n1.n_regionkey AS sr
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE n2.n_regionkey = 0 AND p_type = 'PROMO')
        |SELECT o_year,
        |  round(CAST(round(sum(CASE WHEN sr = 1 THEN v
        |                            ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
        |      / CAST(round(sum(v), 2) AS DOUBLE), 6) AS mkt_share,
        |  CAST(round(sum(v), 2) AS DOUBLE) AS total_rev
        |FROM vol GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q13 customer distribution: orders per customer (priority
    // '4-NOT SPECIFIED' excluded IN THE JOIN, so customers keep their
    // zero row), then the histogram of those counts. Left join + two
    // reaggregations — the second group-by is tiny (distinct counts).
    "q38_customer_distribution" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q14 promo effect: share of June-1997 revenue from PROMO
    // parts. Part side broadcasts; one fact scan, one aggregate row.
    "q39_promo_effect" -> Query((s, dir) => {
      val v = rev.cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-06-01 00:00:00").cast("timestamp") &&
               col("l_shipdate") < lit("1997-07-01 00:00:00").cast("timestamp"))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100) *
            round(sum(when(col("p_type") === "PROMO", v)
              .otherwise(lit(0).cast("decimal(18,4)"))), 2).cast("double")
            / round(sum(v), 2).cast("double"), 6).as("promo_revenue"),
          count(lit(1)).as("n_rows"))
    },
      """WITH l AS (
        |  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS v,
        |    p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00')
        |SELECT round(100 * CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN v
        |                                  ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
        |    / CAST(round(sum(v), 2) AS DOUBLE), 6) AS promo_revenue,
        |  count(*) AS n_rows
        |FROM l""".stripMargin),

    // TPC-H Q15 top supplier: Q1-1997 revenue per supplier, keep the
    // max-revenue supplier(s). The max is a 1-row broadcast back onto
    // the (already tiny) revenue aggregate — no second fact scan.
    "q40_top_supplier" -> Query((s, dir) => {
      val revenue = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
               col("l_shipdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(moneySum(rev).as("total_revenue"))
      val top = revenue.agg(max("total_revenue").as("__max_rev"))
      revenue.crossJoin(broadcast(top))
        .where(col("total_revenue") === col("__max_rev"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q18 large-volume customers: orders whose total quantity
    // exceeds 300 (top ~0.1% of orders), with their customer. The
    // HAVING aggregate runs FIRST so only qualifying orderkeys join
    // back — the join input is a few rows, not the fact table.
    "q41_large_volume_customer" -> Query((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .where(col("sum_qty") > 300)
      big.join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    },
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin),

    // TPC-H Q19 disjunctive predicate: three (brand, size-range,
    // qty-range) conjunct groups OR'd together. One broadcast join;
    // the disjunction stays a single codegen'd filter — no union of
    // three scans.
    "q42_disjunctive_brand" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 40)))
        .agg(moneySum(rev).as("revenue"), count(lit(1)).as("n_rows")),
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    // TPC-H Q21 waiting orders, decorrelated: an 'R'-flagged item in a
    // finished multi-supplier order where NO other supplier returned.
    // The two correlated EXISTS collapse into one per-order aggregate
    // (distinct suppliers, distinct returning suppliers): EXISTS other
    // supplier ⇔ n_supp ≥ 2; NOT EXISTS other returner ⇔ n_supp_r = 1
    // (l1 itself returns, so it is the only one). Two shuffles on
    // l_orderkey replace two correlated per-row subqueries — the shape
    // that survives 100 TB.
    "q43_waiting_orders" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
      // Two-level pair aggregation instead of the double countDistinct:
      // the multi-distinct form Expands every lineitem row ×2 before the
      // exchange (1.2 M rows shuffled, then a full dedup hash build on
      // the reduce side — measured 9.3 CPU-s); grouping by
      // (order, supplier) first dedups map-side, shuffles at most one
      // row per pair, and the per-order distinct counts become plain
      // count/sum. n_supp ≡ countDistinct(l_suppkey) and n_supp_r ≡
      // countDistinct(when(R, l_suppkey)) — bit-identical (suppkey
      // null-rows are excluded from both, matching countDistinct's
      // null handling).
      val pairs = li.where(col("l_suppkey").isNotNull)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("has_r"))
      val stats = pairs.groupBy("l_orderkey").agg(
        count(lit(1)).as("n_supp"),
        sum("has_r").as("n_supp_r"))
      val l1 = li.where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey")
      l1.join(t(s, dir, "orders").where(col("o_orderstatus") === "F")
            .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(stats, "l_orderkey")
        .where(col("n_supp") >= 2 && col("n_supp_r") === 1)
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
    },
      """SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin),

    // TPC-H Q22 sales opportunity: well-funded customers with no open
    // orders, grouped by nation. "Above average positive balance" is
    // the exact-decimal cross-multiplication bal·n > Σbal (no float
    // division picks the boundary); the no-open-orders test is a
    // left-anti join, never a correlated probe.
    "q44_sales_opportunity" -> Query((s, dir) => {
      val c = t(s, dir, "customer")
      val thr = c.where(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast("decimal(18,4)")).as("__sum_bal"),
          count(lit(1)).as("__n_bal"))
      val open = t(s, dir, "orders").where(col("o_orderstatus") === "O")
        .select("o_custkey")
      c.crossJoin(broadcast(thr))
        .where(col("c_acctbal").cast("decimal(18,4)") * col("__n_bal") >
          col("__sum_bal"))
        .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          moneySum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_nationkey")
    },
      """SELECT c_nationkey, count(*) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
        |      (SELECT count(*) FROM customer WHERE c_acctbal > 0) >
        |      (SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) FROM customer
        |       WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q2 shape (no partsupp in the fixture): per part, the
    // supplier(s) offering the lowest observed price, for small parts.
    // Argmin-per-group as aggregate + self-equijoin on the group key —
    // min() over raw doubles is exact, so no float arithmetic crosses
    // engines. The part filter prunes before the final join.
    "q45_min_price_supplier" -> Query((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min("l_extendedprice").as("min_price"))
      val best = pairs.groupBy(col("l_partkey").as("b_partkey"))
        .agg(min("min_price").as("best_price"))
      pairs.join(best, col("l_partkey") === col("b_partkey") &&
          col("min_price") === col("best_price"))
        .join(broadcast(t(s, dir, "part").where(col("p_size") <= 5)),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("l_suppkey").as("s_suppkey"),
          col("min_price"))
        .orderBy("p_partkey", "s_suppkey")
    },
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_price
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (
        |  SELECT l_partkey, min(min_price) AS best_price FROM pairs GROUP BY 1)
        |SELECT p_partkey, l_suppkey AS s_suppkey, min_price
        |FROM pairs JOIN best USING (l_partkey)
        |JOIN part ON l_partkey = p_partkey
        |WHERE min_price = best_price AND p_size <= 5
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    // TPC-H Q4 shape (order priority checking): orders with at least
    // one lineitem shipped more than 60 days after the order date,
    // counted per priority. The EXISTS decorrelates to a LEFT-SEMI
    // join on the order key with the lateness predicate in the join
    // condition — the probe side never duplicates orders no matter how
    // many late items each has. Lateness compares exact epoch micros
    // (no engine date arithmetic).
    "q46_late_order_priority" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), unix_micros(col("l_shipdate")).as("ship_us"))
      o.join(li,
          o("o_orderkey") === li("l_orderkey") &&
            col("ship_us") - unix_micros(col("o_orderdate")) >
              lit(60L * 86400L * 1000000L),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND epoch_us(CAST(l_shipdate AS TIMESTAMP)) -
        |        epoch_us(CAST(o_orderdate AS TIMESTAMP)) > 5184000000000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q17 shape (small-quantity-order revenue): for one brand,
    // the revenue carried by lineitems whose quantity is below 20% of
    // the part's average quantity. The correlated scalar subquery
    // decorrelates to a per-part aggregate joined back onto the scan;
    // the 0.2·avg comparison is cleared of division algebraically
    // (5·qty·cnt < Σqty — quantities are integral), so no float
    // boundary decides row membership. Per-part rollup output keeps
    // the result auditable.
    "q47_small_qty_revenue" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          col("l_extendedprice"))
      val brandParts = broadcast(t(s, dir, "part")
        .where(col("p_brand") === "Brand#11").select("p_partkey"))
      val scoped = li.join(brandParts, li("l_partkey") === col("p_partkey"))
      val stats = scoped.groupBy(col("l_partkey").as("a_partkey"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      scoped.join(stats, col("l_partkey") === col("a_partkey"))
        .where(col("qty") * lit(5L) * col("cnt") < col("sum_qty"))
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_small"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .orderBy("p_partkey")
    },
      """WITH scoped AS (
        |  SELECT l_partkey AS p_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#11'),
        |stats AS (SELECT p_partkey, sum(qty)::BIGINT AS sum_qty,
        |    count(*)::BIGINT AS cnt
        |  FROM scoped GROUP BY 1)
        |SELECT p_partkey, count(*)::BIGINT AS n_small,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue
        |FROM scoped JOIN stats USING (p_partkey)
        |WHERE qty * 5 * cnt < sum_qty
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin),

    // TPC-H Q6 shape (forecasting revenue change): revenue that would
    // be gained by eliminating small discounts — one scan, every
    // predicate pushed to the parquet reader, exact-decimal money sum.
    // The canonical "is your filter pushdown working" query.
    "q48_forecast_revenue" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(moneySum(col("l_extendedprice") * col("l_discount"))
          .as("revenue"),
          count(lit(1)).as("n_items")),
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem
        |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q10 shape (returned-item reporting): the customers who
    // returned the most revenue in a quarter — returns join orders join
    // customer (nation denormalized to the raw key; the fixture carries
    // no n_name need here), top-20 under a TOTAL (revenue desc,
    // custkey) order so the cut line is deterministic.
    "q49_returned_items" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
        .agg(moneySum(rev).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
