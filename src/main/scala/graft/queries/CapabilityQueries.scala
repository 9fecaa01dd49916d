package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.types.UniversalType

/** Engine-capability breadth beyond the reference's own surface: the
  * reference delegates all expression evaluation to its backing stores
  * (SURVEY §2.6), so a user switching to this engine expects the full SQL
  * surface those stores provided. Each query exercises one family —
  * HAVING, conditional aggregation, UNION ALL, EXISTS (semi-join),
  * ROLLUP subtotals, and the uint64→DECIMAL(20,0) widening path.
  */
object CapabilityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** [[t]] + [[Tables.rebalanceForCompute]]: spread a few-row-group scan
    * before CPU-heavy downstream work (no-op on well-partitioned input). */
  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  private def moneySum(c: Column): Column =
    round(sum(c.cast("decimal(18,4)")), 2).cast("double")

  lazy val registry: Registry = Registry(
    "q17_having" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
        .where(col("n_items") > 70)
        .orderBy("l_suppkey"),
      """SELECT l_suppkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_suppkey HAVING count(*) > 70
        |ORDER BY l_suppkey""".stripMargin),

    "q18_case_agg" -> Query((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_open"),
          moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    "q19_union_all" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(lit("c").as("tag"), col("event_id"), col("user_id"))
      val views = ev.where(col("event_type") === "view")
        .select(lit("v").as("tag"), col("event_id"), col("user_id"))
      clicks.unionAll(views).orderBy("tag", "event_id")
    },
      """SELECT 'c' AS tag, event_id, user_id FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'v' AS tag, event_id, user_id FROM events WHERE event_type = 'view'
        |ORDER BY tag, event_id""".stripMargin),

    "q20_exists_semijoin" -> Query((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin),

    "q21_rollup" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // TPC-H Q3 shape: 3-way join, filter on both sides, grouped revenue,
    // top-10. Exercises AQE's broadcast/shuffle choice on a join chain.
    "q23_shipping_priority" -> Query((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") < expr("timestamp'1998-01-01 00:00:00'"))
      val l = t(s, dir, "lineitem")
        .where(col("l_shipdate") > expr("timestamp'1996-01-01 00:00:00'"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, o_orderdate,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q5 shape: 5-way star join down the region→nation→customer→
    // orders→lineitem chain, revenue per nation.
    "q24_local_supplier_volume" -> Query((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      broadcast(r).join(n, r("r_regionkey") === n("n_regionkey"))
        .join(c, n("n_nationkey") === c("c_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // Scalar subquery: orders above 90% of the global maximum price
    // (max is exact on doubles, so the threshold is bit-identical). The
    // threshold stays IN the plan as a broadcast single-row join — no
    // eager driver action at DataFrame-construction time.
    "q25_scalar_subquery" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
      val thr = o.agg((max("o_totalprice") * 0.9).as("__thr"))
      o.crossJoin(broadcast(thr))
        .where(col("o_totalprice") >= col("__thr"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >= (SELECT max(o_totalprice) * 0.9 FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // Exact interpolated percentiles (both engines use rank = p·(n-1) with
    // linear interpolation; integer-valued quantities keep it bit-exact).
    "q26_percentiles" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Histogram binning (nulls-first pinned: Spark and DuckDB default to
    // opposite NULL placement in ORDER BY).
    "q27_histogram" -> Query((s, dir) =>
      t(s, dir, "events")
        .groupBy(floor(col("value") / 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("bin")),
      """SELECT CAST(floor(value / 10) AS BIGINT) AS bin, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bin NULLS FIRST""".stripMargin),

    // Pivot (wide conditional aggregation).
    "q28_pivot" -> Query((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "error", "signup"))
        .count()
        .na.fill(0)
        .orderBy("user_id"),
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // NULL semantics parity: null-producing CASE, null-skipping aggregates.
    "q29_null_semantics" -> Query((s, dir) => {
      val v = when(col("value") < 5, lit(null)).otherwise(col("value"))
      t(s, dir, "events").select(v.as("v"))
        .agg(count(lit(1)).as("n_total"),
          count(col("v")).as("n_nonnull"),
          countDistinct(col("v")).as("n_distinct"),
          moneySum(col("v")).as("sum_v"))
    },
      """SELECT count(*) AS n_total, count(v) AS n_nonnull,
        |  count(DISTINCT v) AS n_distinct,
        |  CAST(round(sum(CAST(v AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_v
        |FROM (SELECT CASE WHEN value < 5 THEN NULL ELSE value END AS v
        |      FROM events) s""".stripMargin),

    // §1.3 unsigned-64 widening: DECIMAL(20,0) keeps the full uint64 range
    // exactly where a signed long would overflow.
    "q22_uint64_decimal" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .select((col("l_orderkey") + lit(Long.MaxValue).cast(
          UniversalType.toSpark("uint64"))).as("u64"))
        .agg(max(col("u64")).cast("string").as("max_u64"),
          count(lit(1)).as("n")),
      s"""SELECT CAST(max(CAST(l_orderkey AS DECIMAL(20,0)) + ${Long.MaxValue}) AS VARCHAR) AS max_u64,
         |  count(*) AS n
         |FROM lineitem""".stripMargin),

    // CUBE: all 2^k grouping-set combinations (q21's ROLLUP covers only
    // the prefix chain — CUBE adds the (∅, l_linestatus) slice).
    "q30_cube" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Navigation/distribution window-function suite: lag, lead, ntile,
    // cume_dist over each customer's order history — one shuffle by
    // custkey, all four functions share the single sorted window pass.
    // cents keeps the money integer; (o_orderdate, o_orderkey) is a
    // total order so every value is deterministic.
    "q31_window_suite" -> Query((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .where(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderdate"))
        .withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .withColumn("next_cents", lead(col("cents"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("cume_d", round(cume_dist().over(w), 6))
        .drop("o_orderdate")
        .orderBy("o_custkey", "o_orderkey")
    },
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    round(o_totalprice * 100)::BIGINT AS cents, o_orderdate
        |  FROM orders WHERE o_custkey <= 100)
        |SELECT o_custkey, o_orderkey, cents,
        |  lag(cents) OVER w AS prev_cents,
        |  lead(cents) OVER w AS next_cents,
        |  ntile(4) OVER w AS quartile,
        |  round(cume_dist() OVER w, 6) AS cume_d
        |FROM o WINDOW w AS (PARTITION BY o_custkey
        |                    ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // The TPC-H Q1 pricing-summary shape in full: the canonical wide
    // money aggregation. Every factor is cast to an EXACT decimal
    // BEFORE multiplying (prices/discounts/taxes are 2-decimal money by
    // contract), so the per-row products and the order-free decimal
    // sums are bit-identical in any engine — the double triple-product
    // would diverge at the 4th decimal between rounding implementations.
    // Averages divide the already-rounded sums.
    "q32_pricing_summary" -> Query((s, dir) => {
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val discF = (lit(1) - col("l_discount")).cast("decimal(4,2)")
      val taxF = (lit(1) + col("l_tax")).cast("decimal(4,2)")
      val base = round(sum(price), 2).cast("double")
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          base.as("sum_base_price"),
          round(sum(price * discF), 2).cast("double").as("sum_disc_price"),
          round(sum(price * discF * taxF), 2).cast("double").as("sum_charge"),
          round(sum("l_quantity") / count(lit(1)), 6).as("avg_qty"),
          round(base / count(lit(1)), 6).as("avg_price"),
          round(sum(col("l_discount").cast("decimal(4,2)")).cast("double")
            / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """WITH l AS (SELECT l_returnflag, l_linestatus, l_quantity,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
        |    CAST(1 - l_discount AS DECIMAL(4,2)) AS discf,
        |    CAST(1 + l_tax AS DECIMAL(4,2)) AS taxf,
        |    CAST(l_discount AS DECIMAL(4,2)) AS disc
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(round(sum(price), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(price * discf), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(price * discf * taxf), 2) AS DOUBLE) AS sum_charge,
        |  round(sum(l_quantity) / count(*), 6) AS avg_qty,
        |  round(CAST(round(sum(price), 2) AS DOUBLE) / count(*), 6)
        |    AS avg_price,
        |  round(CAST(sum(disc) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS n_rows
        |FROM l
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // INTERSECT ALL: multiset intersection (min multiplicity per value)
    // — q14 covers EXCEPT; this completes the bag-semantics set family.
    // Customers appearing among both open- and finished-order rows,
    // with min(open_count, finished_count) copies each.
    "q33_intersect_all" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_orderstatus") === "O").select("o_custkey")
        .intersectAll(
          o.where(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin),

    // Null-safe join (<=> / IS NOT DISTINCT FROM): the NULL bucket is a
    // JOIN KEY, not a dropped row — grouping dirty data by a nullable
    // derived key and full-outer joining two aggregates of it.
    "q34_null_safe_join" -> Query((s, dir) => {
      val k = when(col("value") < 5, lit(null))
        .otherwise(floor(col("value") / 50)).cast("long")
      val ev = t(s, dir, "events")
      val c = ev.where(col("event_type") === "click")
        .select(k.as("ck")).groupBy("ck").agg(count(lit(1)).as("n_click"))
      val v = ev.where(col("event_type") === "view")
        .select(k.as("vk")).groupBy("vk").agg(count(lit(1)).as("n_view"))
      c.join(v, col("ck") <=> col("vk"), "full_outer")
        .select(coalesce(col("ck"), col("vk")).as("k"),
          coalesce(col("n_click"), lit(0L)).as("n_click"),
          coalesce(col("n_view"), lit(0L)).as("n_view"))
        .orderBy(asc_nulls_first("k"))
    },
      """WITH e AS (SELECT event_type,
        |    CASE WHEN value < 5 THEN NULL
        |         ELSE floor(value / 50)::BIGINT END AS k
        |  FROM events),
        |c AS (SELECT k AS ck, count(*)::BIGINT AS n_click FROM e
        |      WHERE event_type = 'click' GROUP BY 1),
        |v AS (SELECT k AS vk, count(*)::BIGINT AS n_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1)
        |SELECT coalesce(ck, vk) AS k,
        |  coalesce(n_click, 0)::BIGINT AS n_click,
        |  coalesce(n_view, 0)::BIGINT AS n_view
        |FROM c FULL JOIN v ON ck IS NOT DISTINCT FROM vk
        |ORDER BY k NULLS FIRST""".stripMargin),

    // Relational division ("for all"): customers whose orders span
    // EVERY priority level — the universal-quantifier query shape SQL
    // expresses as count(distinct) against the domain size. One
    // aggregation plus a broadcast scalar.
    "q35_relational_division" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
      val domain = o.agg(countDistinct("o_orderpriority").as("n_prio"))
      o.groupBy("o_custkey")
        .agg(countDistinct("o_orderpriority").as("n_prio_cust"))
        .crossJoin(broadcast(domain))
        .where(col("n_prio_cust") === col("n_prio"))
        .select(col("o_custkey"), col("n_prio_cust"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey,
        |  count(DISTINCT o_orderpriority)::BIGINT AS n_prio_cust
        |FROM orders GROUP BY o_custkey
        |HAVING count(DISTINCT o_orderpriority) =
        |  (SELECT count(DISTINCT o_orderpriority) FROM orders)
        |ORDER BY o_custkey""".stripMargin),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
