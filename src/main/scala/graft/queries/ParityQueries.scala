package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.functions.RowHash
import graft.operators.IncrementalDedup
import graft.sources.Tables
import graft.types.UniversalType

/** SURVEY §2 operator inventory as driver-checkable queries, each with a
  * DuckDB oracle. Covers: S-scan, P1 projection, P2 window predicate,
  * P3/J1 incremental anti-join dedup, A1 row hash, A2 snapshot distinct,
  * A3 row accounting, O1 order passthrough, O2 limit/offset pagination,
  * W1 TSV sanitization, W2 SQL quoting, plus the engine capabilities the
  * reference delegates to its backing stores (join, group-by, window
  * functions, set ops) — subsumed here by Catalyst.
  *
  * Determinism rules for the oracle hash-compare:
  *   - every query has a total ORDER BY (unique key suffix breaks ties);
  *   - double sums go through DECIMAL (exact, order-independent) and are
  *     cast back to double, so both engines produce identical bits;
  *   - `events.ts` is TIMESTAMP(NANOS) in parquet: Spark reads it via
  *     Tables.load (floor to micros) and the oracle casts with
  *     `CAST(ts AS TIMESTAMP)` (same floor).
  */
object ParityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact order-independent money sum: double → decimal sum → round → double. */
  private def moneySum(c: Column): Column =
    round(sum(c.cast("decimal(18,4)")), 2).cast("double")

  /** DuckDB expression mirroring the reference row hash over events fields. */
  private val duckEventsHash =
    "md5(array_to_string(list_sort([lower(CAST(event_id AS VARCHAR)), " +
      "lower(CAST(user_id AS VARCHAR)), lower(event_type), " +
      "lower(CAST(value AS VARCHAR))]), ''))"

  private def eventsHashInput(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select("event_id", "user_id", "event_type", "value")

  lazy val registry: Registry = Registry(
    // A3 + TPC-H-Q1-shaped aggregation (group-by with exact sums).
    "q1_agg" -> Query((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          (sum("l_quantity") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // P1 column projection (pruned scan).
    "q2_projection" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P2 cursor-window range predicate on the stream-ish table.
    "q3_window_filter" -> Query((s, dir) =>
      t(s, dir, "events")
        .where(col("ts").between(
          expr("timestamp'2024-01-10 00:00:00'"),
          expr("timestamp'2024-01-20 00:00:00'")))
        .select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin),

    // O1 ORDER BY + top-k.
    "q4_orderby_limit" -> Query((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100),
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // A1 reference row hash (order/case-insensitive value-sorted MD5).
    "q5_row_hash" -> Query((s, dir) => {
      val ev = eventsHashInput(s, dir)
      ev.select(col("event_id"), RowHash.ofAllColumns(ev).as("row_hash"))
        .orderBy("event_id")
    },
      s"""SELECT event_id, $duckEventsHash AS row_hash
         |FROM events ORDER BY event_id""".stripMargin),

    // A2 snapshot distinct-hash build (GetSnapshot).
    "q6_snapshot_distinct" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("ts") <= expr("timestamp'2024-01-15 00:00:00'"))
        .select("event_id", "user_id", "event_type", "value")
      IncrementalDedup.snapshot(ev)
        .select(lower(hex(col("__graft_row_hash"))).as("row_hash"))
        .orderBy("row_hash")
    },
      s"""SELECT DISTINCT $duckEventsHash AS row_hash
         |FROM events WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-15 00:00:00'
         |ORDER BY row_hash""".stripMargin),

    // P3/J1 incremental dedup: source rows whose hash is absent from the
    // target window (left_anti join).
    "q7_incremental_antijoin" -> Query((s, dir) => {
      val src = eventsHashInput(s, dir)
      val tgt = t(s, dir, "events")
        .where(col("ts") <= expr("timestamp'2024-01-15 00:00:00'"))
        .select("event_id", "user_id", "event_type", "value")
      IncrementalDedup(src, tgt).select("event_id").orderBy("event_id")
    },
      s"""WITH src AS (SELECT event_id, $duckEventsHash AS rh FROM events),
         |tgt AS (SELECT $duckEventsHash AS rh FROM events
         |        WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-15 00:00:00')
         |SELECT event_id FROM src
         |WHERE NOT EXISTS (SELECT 1 FROM tgt WHERE tgt.rh = src.rh)
         |ORDER BY event_id""".stripMargin),

    // A3 row accounting.
    "q8_row_count" -> Query((s, dir) =>
      t(s, dir, "events").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users")),
      "SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users FROM events"),

    // §1.3 universal datetime encoding (RFC3339, optional millis).
    "q9_type_normalize" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          UniversalType.universalCell(col("l_shipdate"), TimestampType).as("ship_univ"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ') AS ship_univ
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // W1 TSV sanitization + W2 SQL quote escaping.
    "q10_sanitize_quote" -> Query((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "\t", "    ").as("tsv_safe"),
          regexp_replace(col("text"), "'", "''").as("sql_quoted"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  replace(text, chr(9), '    ') AS tsv_safe,
        |  replace(text, '''', '''''') AS sql_quoted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Join + group-by capability (broadcastable dims).
    "q11_join_agg" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("n_name")
    },
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Window function capability: top-3 events per user by time.
    "q12_window_fn" -> Query((s, dir) => {
      val w = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("event_id", "user_id", "rn")
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, rn FROM (
        |  SELECT event_id, user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events) sub
        |WHERE rn <= 3 ORDER BY event_id""".stripMargin),

    // DISTINCT capability.
    "q13_distinct" -> Query((s, dir) =>
      t(s, dir, "events").select("event_type").distinct().orderBy("event_type"),
      "SELECT DISTINCT event_type FROM events ORDER BY event_type"),

    // Set-operation capability (EXCEPT is distinct-based in both engines).
    "q14_set_except" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("ts") < expr("timestamp'2024-01-03 00:00:00'"))
      ev.where(col("event_type") === "purchase").select("user_id")
        .except(ev.where(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },
      """SELECT * FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'error'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00') sub
        |ORDER BY user_id""".stripMargin),

    // O1 raw ORDER BY text passthrough (reference splices the -order string
    // verbatim; SortSpec parses it into Catalyst sort columns).
    "q15_order_passthrough" -> Query((s, dir) =>
      t(s, dir, "events")
        .select("event_id", "value")
        .orderBy(graft.pipeline.SortSpec.parseList("value DESC, event_id"): _*)
        .limit(50),
      """SELECT event_id, value FROM events
        |ORDER BY value DESC, event_id LIMIT 50""".stripMargin),

    // O2 LIMIT offset,batch pagination (kept for API parity; partitioned
    // reads subsume it at scale).
    "q16_pagination" -> Query((s, dir) =>
      t(s, dir, "events")
        .select("event_id", "user_id")
        .orderBy("event_id")
        .offset(100).limit(50),
      """SELECT event_id, user_id FROM events
        |ORDER BY event_id LIMIT 50 OFFSET 100""".stripMargin),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
