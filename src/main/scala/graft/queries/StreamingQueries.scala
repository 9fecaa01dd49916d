package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.StreamingPipeline

/** Event-time transforms shared between Structured Streaming and batch.
  * The driver checks them in batch mode against DuckDB; StreamingSpec
  * proves the identical Column programs produce the same results behind
  * readStream with Trigger.AvailableNow.
  */
object StreamingQueries {

  lazy val registry: Registry = Registry(
    // Tumbling 1-day event-time windows (streaming: + watermark).
    "stream_tumbling_agg" -> Query((s, dir) =>
      StreamingPipeline.tumblingAgg(Tables.load(s, dir, "events"), "ts")
        .orderBy("window_start", "event_type"),
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // At-least-once → exactly-once dedup: the input is the event stream
    // REDELIVERED (unioned with itself); the program must emit each
    // event exactly once. The delivery key is the FULL row — the
    // reference's row-hash identity — so correctness needs no fixture
    // invariant (kept copy ≡ any copy) and the oracle is simply
    // SELECT DISTINCT. Streaming spec runs the same program behind
    // readStream with dropDuplicatesWithinWatermark.
    "stream_dedup" -> Query((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      StreamingPipeline.dedupExactlyOnce(ev.union(ev),
          Seq("event_id", "ts", "user_id", "event_type", "value"), "ts")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
    },
      """SELECT DISTINCT event_id, user_id, event_type, value,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin),

    // Sliding 1-day windows every 6 hours (each event in 4 windows).
    "stream_sliding_agg" -> Query((s, dir) =>
      StreamingPipeline.slidingAgg(Tables.load(s, dir, "events"), "ts",
          width = "1 day", slide = "6 hours")
        .orderBy("window_start", "event_type"),
      // Hopping windows replayed in micros arithmetic: 6h slide buckets,
      // each event expanded into k=0..3 preceding window starts. Spark
      // aligns windows to the 1970 epoch; midnight UTC is a whole multiple
      // of 6h, so explicit floor-division reproduces it exactly.
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |           FROM events),
        |w AS (SELECT
        |  make_timestamp(((epoch_us(ts) // 21600000000) - k) * 21600000000)
        |    AS window_start, event_type, value
        |FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k))
        |SELECT window_start, event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // Stream-static enrichment: events joined to broadcast customer and
    // nation dims (user_id keys into c_custkey on these fixtures).
    "stream_enrich" -> Query((s, dir) =>
      StreamingPipeline.enrich(
          Tables.load(s, dir, "events")
            .select("event_id", "user_id", "event_type", "value"),
          Seq(
            Tables.load(s, dir, "customer")
              .select("c_custkey", "c_mktsegment", "c_nationkey")
              -> (col("user_id") === col("c_custkey")),
            Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
              -> (col("c_nationkey") === col("n_nationkey"))))
        .select("event_id", "user_id", "event_type", "value",
          "c_mktsegment", "n_name")
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type, value, c_mktsegment, n_name
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY event_id""".stripMargin),

    // Stream-stream interval join shape (batch-checked): views within
    // 30 minutes after a click by the same user.
    "stream_interval_join" -> Query((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      StreamingPipeline.intervalJoin(clicks, views, "user_id", "v_user",
          "click_ts", "view_ts", maxDelaySeconds = 1800)
        .select(col("click_id"), col("view_id"), col("user_id"),
          (unix_micros(col("view_ts")) - unix_micros(col("click_ts")))
            .as("delay_us"))
        .orderBy("click_id", "view_id")
    },
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |            event_type FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM e
        |      WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM e
        |      WHERE event_type = 'view')
        |SELECT click_id, view_id, c.user_id,
        |  epoch_us(view_ts) - epoch_us(click_ts) AS delay_us
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND view_ts >= click_ts
        |  AND view_ts <= click_ts + INTERVAL 1800 SECONDS
        |ORDER BY click_id, view_id""".stripMargin),

    // Windowed heavy hitters: per 1-day window, top-5 users by event
    // count (streaming: stateful counts + foreachBatch rank).
    "stream_topk_hitters" -> Query((s, dir) => {
      val counts = StreamingPipeline.windowedCounts(
        Tables.load(s, dir, "events"), "ts", "user_id", "1 day")
      StreamingPipeline.topKPerWindow(counts, "user_id", 5)
        .select("window_start", "user_id", "n", "rank")
        .orderBy("window_start", "rank")
    },
      """WITH c AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP))
        |    AS window_start, user_id, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, user_id, n, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY window_start ORDER BY n DESC, user_id) AS rank
        |  FROM c) r
        |WHERE rank <= 5 ORDER BY window_start, rank""".stripMargin),

    // Gap-based sessionization (streaming: flatMapGroupsWithState).
    "stream_sessionize" -> Query((s, dir) =>
      StreamingPipeline.sessionizeBatch(
          Tables.load(s, dir, "events"), "user_id", "ts", lit(1800))
        .select("user_id", "session_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_id"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |lagged AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
        |flagged AS (SELECT user_id, ts,
        |  CASE WHEN prev IS NULL
        |    OR epoch_us(ts) - epoch_us(prev) > 1800 * 1000000 THEN 1
        |    ELSE 0 END AS is_new FROM lagged),
        |sess AS (SELECT user_id, ts,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM flagged)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    // Running per-user totals: the stateful scalar-accumulator shape —
    // batch is a ROWS-framed cumulative window sum; streaming carries
    // ONE long per user through flatMapGroupsWithState (StreamingSpec
    // proves the equivalence).
    "stream_running_total" -> Query((s, dir) =>
      StreamingPipeline.runningTotalsBatch(
          Tables.load(s, dir, "events")
            .select("user_id", "event_id", "ts", "value"))
        .orderBy("user_id", "ts_us", "event_id"),
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |  round(value * 100)::BIGINT AS cents,
        |  CAST(sum(round(value * 100)::BIGINT) OVER (
        |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
        |FROM events ORDER BY user_id, ts_us, event_id""".stripMargin),

    // Exact per-window distinct users: dedup-then-count (the streaming-
    // legal form of count_distinct — two watermark-bounded stateful
    // stages instead of one inexpressible one).
    "stream_window_uniques" -> Query((s, dir) =>
      StreamingPipeline.windowedUniques(
          Tables.load(s, dir, "events"), "ts", "user_id")
        .orderBy("window_start"),
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS window_start,
        |  count(DISTINCT user_id)::BIGINT AS n_unique
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin),

    // Sessionization via the BUILT-IN session_window aggregation — the
    // compose-existing-ops path: one groupBy, Spark-managed merge state,
    // watermark-bounded in streaming. Strict gap boundary (an event
    // exactly `gap` later opens a new session), which the oracle replays
    // with `>=`.
    "stream_session_window" -> Query((s, dir) =>
      StreamingPipeline.sessionWindowAgg(
          Tables.load(s, dir, "events"), "user_id", "ts", "30 minutes")
        .orderBy("user_id", "session_start"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |lagged AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
        |flagged AS (SELECT user_id, ts,
        |  CASE WHEN prev IS NULL
        |    OR epoch_us(ts) - epoch_us(prev) >= 1800 * 1000000 THEN 1
        |    ELSE 0 END AS is_new FROM lagged),
        |sess AS (SELECT user_id, ts,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
