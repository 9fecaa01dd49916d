package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.TextOps
import graft.operators.{Anomaly, Funnel, Merge, Profile, Redact, Search,
  TemporalJoins, TrainingOrder, Urls, Zorder}
import graft.sources.Tables

/** Warehouse-operations surface: semi-structured JSON extraction, the
  * ANALYZE-style column profiler, MERGE-INTO upsert, z-score telemetry
  * QA, BM25 lexical retrieval, PII redaction, and the left-outer
  * event-time interval join. Every query carries a DuckDB oracle; the
  * determinism tricks follow the house rules — integer fixed-point for
  * distributed sums, rational (log-free) idf for BM25, RE2-compatible
  * regex constants interpolated from the operator object.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  /** The fixture-vocabulary benchmark queries for BM25 (term rows). */
  private[queries] val bm25Terms: Seq[(Int, String)] = Seq(
    0 -> "hash", 0 -> "join",
    1 -> "window", 1 -> "stream", 1 -> "agg",
    2 -> "slow")

  /** The BM25 oracle CTE chain up to `ranked(query_id, doc_id, micro,
    * rank)` — ONE copy of the rational-idf replay, shared by the
    * `search_bm25` and `search_hybrid_rrf` oracles.
    */
  private[queries] def bm25RankedCte: String = {
    val values = bm25Terms
      .map { case (q, tm) => s"($q, '$tm')" }.mkString(", ")
    s"""q(query_id, term) AS (VALUES $values),
       |d AS (SELECT doc_id, ${ExtensionQueries.toksSql} AS toks
       |      FROM documents),
       |dl AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
       |stats AS (SELECT count(*) AS n, sum(dl) AS s FROM dl),
       |tf AS (SELECT doc_id, dl, tok AS term, count(*) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
       |       WHERE tok IN (SELECT DISTINCT term FROM q)
       |       GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (SELECT q.query_id, tf.doc_id,
       |    round(((2 * n - 2 * df + 1) * 22 * tf.tf * s)::DOUBLE /
       |      ((2 * df + 1) * (10 * tf.tf * s + 3 * s + 9 * tf.dl * n))::DOUBLE
       |      * 1000000.0)::BIGINT AS micro
       |  FROM q JOIN tf ON q.term = tf.term
       |  JOIN dfreq ON tf.term = dfreq.term, stats),
       |agg AS (SELECT query_id, doc_id, sum(micro) AS micro
       |        FROM scored GROUP BY 1, 2),
       |ranked AS (SELECT query_id, doc_id, micro, row_number() OVER (
       |    PARTITION BY query_id ORDER BY micro DESC, doc_id) AS rank
       |  FROM agg)""".stripMargin
  }

  /** Fixture-vocabulary blocklist for `text_blocklist` (term rows). */
  private[queries] val blockTerms: Seq[String] = Seq("slow", "big", "sort")

  /** DuckDB replay of `Bpe.merges`' training loop: CTE-body fragment
    * (no WITH keyword) defining `w0` (space-anchored symbol strings of
    * the `[a-z0-9]+` vocabulary with frequencies) and, per unrolled
    * round i, `p$i` (pair counts), `m$i` (the argmax merge) and `w$i`
    * (the vocabulary after applying it). Merge list = m1 ∪ … ∪ mK.
    */
  private[queries] def bpeCtesSql(numMerges: Int): String = {
    // NOTE: the enclosing oracle literal runs stripMargin over the
    // INTERPOLATED text, so no line here may start with `|` (a `||`
    // at a line start would lose its first pipe).
    val w0 =
      s"""w0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ') ||
         |    ' ' AS repr, c FROM (
         |  SELECT tok AS w, count(*) AS c FROM (
         |    SELECT unnest(${ExtensionQueries.toksSql}) AS tok FROM documents) u
         |  WHERE regexp_matches(tok, '^[a-z0-9]+$$') GROUP BY 1) v)""".stripMargin
    val iters = (1 to numMerges).map { i =>
      s"""p$i AS (SELECT a, b, sum(c)::BIGINT AS cnt FROM (
         |  SELECT s[j] AS a, s[j + 1] AS b, c FROM (
         |    SELECT s, c, unnest(range(1, len(s))) AS j FROM (
         |      SELECT string_split(trim(repr, ' '), '  ') AS s, c
         |      FROM w${i - 1}) x) y) z GROUP BY 1, 2),
         |m$i AS (SELECT $i AS merge_rank, a AS sym_a, b AS sym_b,
         |    cnt AS pair_count
         |  FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS (SELECT replace(repr, ' ' || sym_a || '  ' || sym_b || ' ',
         |    ' ' || sym_a || sym_b || ' ') AS repr, c
         |  FROM w${i - 1}, m$i)""".stripMargin
    }
    (w0 +: iters).mkString(",\n")
  }

  lazy val registry: Registry = Registry(
    // Semi-structured extraction: schema'd from_json over the props
    // column, then exact integer aggregates per event type.
    "json_extract_agg" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      ev.withColumn("k",
          from_json(col("props"),
            StructType(Seq(StructField("k", IntegerType)))).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("k")).as("nk"),
          min("k").as("min_k"), max("k").as("max_k"),
          sum("k").as("sum_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n, count(DISTINCT k) AS nk,
        |  min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ANALYZE-style profile of six heterogeneous lineitem columns:
    // one column-pruned aggregation subtree per column (no Expand).
    "profile_table" -> Query((s, dir) =>
      Profile.table(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate")),
      {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }),

    // MERGE INTO semantics: a 10%-price-bump update batch plus an
    // insert batch folded onto orders. Price arithmetic in exact cents
    // (cents*11+5 DIV 10 = half-up 1.1×) so both engines agree bitwise.
    "merge_upsert" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val upd = o.where(pmod(col("o_orderkey"), lit(97)) === 0)
        .withColumn("o_totalprice", expr(
          "CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5) DIV 10 AS DOUBLE) / 100.0"))
      val ins = o.where(pmod(col("o_orderkey"), lit(997)) === 0)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_custkey"), lit(1000.0).as("o_totalprice"))
      Merge.upsert(o, upd.unionByName(ins), Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey,
        |    ((round(o_totalprice * 100)::BIGINT * 11 + 5) // 10)::DOUBLE
        |      / 100.0 AS o_totalprice
        |  FROM o WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, 1000.0
        |  FROM o WHERE o_orderkey % 997 = 0)
        |SELECT coalesce(u.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  coalesce(u.o_custkey, o.o_custkey) AS o_custkey,
        |  coalesce(u.o_totalprice, o.o_totalprice) AS o_totalprice,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
        |       WHEN u.o_orderkey IS NOT NULL THEN 'updated'
        |       ELSE 'kept' END AS action
        |FROM o FULL OUTER JOIN upd u ON o.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    // CDC changelog apply: the event stream read as per-user change
    // records ('error' = delete, anything else = upsert), collapsed to
    // final state by last-writer-wins on (ts, event_id). One
    // partial-aggregated max_by shuffle — one row per key leaves each
    // map partition, vs the window formulation's full history sort.
    "cdc_apply" -> Query((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"), col("value"),
        (col("event_type") === "error").as("is_delete"))
      Merge.applyCdc(ev, keys = Seq("user_id"),
          orderCols = Seq("ts_us", "event_id"), deleteCol = "is_delete")
        .select("user_id", "ts_us", "event_id", "event_type", "value")
        .orderBy("user_id")
    },
      """WITH ranked AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
        |               event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts_us, event_id, event_type, value
        |FROM ranked WHERE rn = 1 AND event_type != 'error'
        |ORDER BY user_id""".stripMargin),

    // Robust outliers: modified z-score on median/MAD from the
    // deterministic histogram sketch — two bounded aggregation passes,
    // no sort; flags the heavy tail the mean/stddev z-score understates.
    "anomaly_mad" -> Query((s, dir) =>
      Anomaly.madOutliers(t(s, dir, "events"), "value", threshold = 3.5)
        .select("event_id", "event_type", "value", "mz")
        .orderBy("event_id"),
      // Replays the two-pass histogram median/MAD arithmetic verbatim
      // (same fixed-grid CTE shape as the sketch_quantile oracle, applied
      // to value and then to |value − median|), then the rounded modified
      // z-score filter.
      """WITH s1 AS (SELECT min(value)::DOUBLE AS mn, max(value)::DOUBLE AS mx,
        |    count(value) AS n FROM events),
        |b1 AS (SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(floor((value::DOUBLE - mn) / ((mx - mn) / 256.0)), 255)
        |    END::INT AS bin
        |  FROM events, s1 WHERE value IS NOT NULL),
        |c1 AS (SELECT bin, count(*) AS cnt FROM b1 GROUP BY bin),
        |cc1 AS (SELECT bin, cnt,
        |    sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c1),
        |p1 AS (SELECT min(bin) AS bin FROM s1, cc1 WHERE cum >= 0.5 * n),
        |med AS (SELECT round(CASE WHEN mx = mn THEN mn
        |    ELSE mn + ((mx - mn) / 256.0) *
        |      (cc1.bin + (0.5 * n - (cum - cnt)) / cnt) END, 4) AS m
        |  FROM p1 JOIN cc1 ON p1.bin = cc1.bin, s1),
        |d AS (SELECT event_id, event_type, value,
        |    abs(value::DOUBLE - m) AS ad FROM events, med),
        |s2 AS (SELECT min(ad)::DOUBLE AS mn, max(ad)::DOUBLE AS mx,
        |    count(ad) AS n FROM d),
        |b2 AS (SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(floor((ad - mn) / ((mx - mn) / 256.0)), 255)
        |    END::INT AS bin
        |  FROM d, s2 WHERE ad IS NOT NULL),
        |c2 AS (SELECT bin, count(*) AS cnt FROM b2 GROUP BY bin),
        |cc2 AS (SELECT bin, cnt,
        |    sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c2),
        |p2 AS (SELECT min(bin) AS bin FROM s2, cc2 WHERE cum >= 0.5 * n),
        |mad AS (SELECT round(CASE WHEN mx = mn THEN mn
        |    ELSE mn + ((mx - mn) / 256.0) *
        |      (cc2.bin + (0.5 * n - (cum - cnt)) / cnt) END, 4) AS md
        |  FROM p2 JOIN cc2 ON p2.bin = cc2.bin, s2)
        |SELECT event_id, event_type, value,
        |  round(0.6745 * (value::DOUBLE - m) / md, 4) AS mz
        |FROM events, med, mad
        |WHERE md > 0 AND abs(round(0.6745 * (value::DOUBLE - m) / md, 4)) > 3.5
        |ORDER BY event_id""".stripMargin),

    // Telemetry QA: per-event-type z-score outliers over the 2-dp value
    // metric (fixed-point moments, order-free).
    "anomaly_zscore" -> Query((s, dir) =>
      Anomaly.zscoreOutliers(t(s, dir, "events"), "value",
          Seq("event_type"), threshold = 3.0, scale = 100L)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id"),
      """WITH v AS (SELECT event_id, event_type, value,
        |    round(value * 100)::BIGINT AS v100 FROM events),
        |st AS (SELECT event_type, count(*) AS n, sum(v100) AS s,
        |    sum(v100 * v100) AS ss FROM v GROUP BY 1)
        |SELECT event_id, event_type, value, z FROM (
        |  SELECT event_id, v.event_type, value,
        |    round((v100::DOUBLE - s::DOUBLE / n) /
        |      sqrt(ss::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)), 4)
        |      AS z
        |  FROM v JOIN st USING (event_type))
        |WHERE abs(z) > 3.0 ORDER BY event_id""".stripMargin),

    // BM25 lexical top-10 for three fixture-vocabulary queries,
    // rational-idf variant (cross-engine deterministic, no libm log).
    "search_bm25" -> Query((s, dir) => {
      val sp = s; import sp.implicits._
      val qs = bm25Terms.toDF("query_id", "term")
      Search.bm25TopK(tc(s, dir, "documents"), "doc_id", "text", qs, k = 10)
        .orderBy("query_id", "rank")
    },
      {
      s"""WITH $bm25RankedCte
         |SELECT query_id, doc_id, round(micro / 1000000.0, 6) AS score, rank
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    }),

    // PII scrub: deterministic synthetic contact block appended to each
    // document, then email/IP/phone redaction + audit counts.
    "text_pii_redact" -> Query((s, dir) => {
      val d = tc(s, dir, "documents").withColumn("contact",
        concat(substring(col("text"), 1, 40), lit(" reach me at "),
          col("source"), lit("."), col("doc_id"), lit("@mail.example or 555-"),
          lpad((pmod(col("doc_id"), lit(9000)) + lit(1000)).cast("string"),
            4, "0"),
          lit(" from 10."), pmod(col("doc_id"), lit(250)), lit(".0."),
          pmod(col("doc_id"), lit(200)), lit(" end")))
      Redact.redactPii(d, "contact")
        .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
          col("n_ip").cast("long").as("n_ip"),
          col("n_phone").cast("long").as("n_phone"), col("redacted"))
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id,
         |  substr(text, 1, 40) || ' reach me at ' || source || '.' ||
         |  doc_id || '@mail.example or 555-' ||
         |  lpad((doc_id % 9000 + 1000)::VARCHAR, 4, '0') ||
         |  ' from 10.' || (doc_id % 250) || '.0.' || (doc_id % 200) ||
         |  ' end' AS contact
         |FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(contact, '${Redact.EmailPattern}'))
         |    AS n_email,
         |  len(regexp_extract_all(contact, '${Redact.Ipv4Pattern}')) AS n_ip,
         |  len(regexp_extract_all(contact, '${Redact.PhonePattern}'))
         |    AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(contact,
         |    '${Redact.EmailPattern}', '<EMAIL>', 'g'),
         |    '${Redact.Ipv4Pattern}', '<IP>', 'g'),
         |    '${Redact.PhonePattern}', '<PHONE>', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin),

    // Left-outer event-time interval join: every click, with any error
    // window [err, err+30m] of the same user it falls into — unmatched
    // clicks survive with a NULL error_id.
    "interval_join_left" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("err_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("err_end"))
      val pairs = TemporalJoins.rangeJoin(clicks, errors, Seq("user_id"),
          "ts", "err_start", "err_end", bucketWidthUs = 30L * 60 * 1000000)
        .select("click_id", "error_id")
      clicks.join(pairs, Seq("click_id"), "left")
        .select(col("click_id"), col("user_id"), col("error_id"))
        .orderBy(col("click_id"), col("error_id").asc_nulls_first)
    },
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events)
        |SELECT c.event_id AS click_id, c.user_id, e.event_id AS error_id
        |FROM ev c LEFT JOIN ev e ON c.user_id = e.user_id
        |  AND e.event_type = 'error'
        |  AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click'
        |ORDER BY click_id, error_id NULLS FIRST""".stripMargin),

    // Z-order key: the Morton bit-interleave of (partkey, suppkey) that
    // writeZordered clusters on — computed here over lineitem so the
    // oracle proves the key is byte-identical cross-engine.
    "zorder_code" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Zorder.mortonCode(col("l_partkey"), col("l_suppkey"), 16)
            .as("zcode"))
        .orderBy("zcode", "l_orderkey", "l_linenumber"),
      s"""SELECT l_orderkey, l_linenumber,
         |  ${Zorder.mortonCodeSql("l_partkey", "l_suppkey", 16)} AS zcode
         |FROM lineitem
         |ORDER BY zcode, l_orderkey, l_linenumber""".stripMargin),

    // Corpus-wide quality percentiles (curation thresholds like "drop
    // the bottom decile") — percent_rank without the one-partition
    // window, via value-prefix bucket offsets.
    "quality_percentile" -> Query((s, dir) =>
      TrainingOrder.percentileRank(
          tc(s, dir, "documents").select(col("doc_id"),
            TextOps.qualityScore(col("text")).as("quality")),
          "quality", "doc_id")
        .select("doc_id", "quality", "pct")
        .orderBy("doc_id"),
      s"""WITH s AS (SELECT doc_id,
         |  len(${ExtensionQueries.toksSql}) AS n_tokens,
         |  ${ExtensionQueries.hitsSql("en")} AS sw,
         |  ${ExtensionQueries.punctRatioSql} AS punct,
         |  ${ExtensionQueries.alphaRatioSql} AS alpha
         |FROM documents),
         |q AS (SELECT doc_id, ${ExtensionQueries.qualitySql()} AS quality
         |      FROM s)
         |SELECT doc_id, quality,
         |  round(percent_rank() OVER (ORDER BY quality, doc_id), 6) AS pct
         |FROM q ORDER BY doc_id""".stripMargin),

    // Ordered view→click→purchase funnel: earliest chain per user with
    // strict event-time ordering, no self theta join.
    "funnel_conversion" -> Query((s, dir) =>
      Funnel.funnel(t(s, dir, "events"), "user_id", "ts", Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .select(col("user_id"),
          unix_micros(col("view_ts")).as("view_ts_us"),
          unix_micros(col("click_ts")).as("click_ts_us"),
          unix_micros(col("purchase_ts")).as("purchase_ts_us"))
        .orderBy("user_id"),
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events),
        |v AS (SELECT user_id, min(ts) AS view_ts FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM ev e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM ev e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        |      GROUP BY 1)
        |SELECT v.user_id, epoch_us(view_ts) AS view_ts_us,
        |  epoch_us(click_ts) AS click_ts_us,
        |  epoch_us(purchase_ts) AS purchase_ts_us
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin),

    // URL canonicalization: tracking params, fragments, and host casing
    // normalized off deterministic synthetic crawl URLs.
    "url_canonicalize" -> Query((s, dir) => {
      val d = tc(s, dir, "documents").withColumn("url",
        concat(lit("HTTPS://"), col("source"), lit(".Example.COM/"),
          col("lang"), lit("/doc/"), col("doc_id"),
          lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(7)),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("&utm_campaign=x"))
            .otherwise(lit("")),
          lit("#sec")))
      d.select(col("doc_id"), col("url"),
          Urls.canonicalizeUrl(col("url")).as("canon"),
          Urls.urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    },
      {
      val sh = Urls.SchemeHostPattern
      s"""WITH d AS (SELECT doc_id,
         |  'HTTPS://' || source || '.Example.COM/' || lang || '/doc/' ||
         |  doc_id || '?utm_source=feed&id=' || (doc_id % 7) ||
         |  CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=x' ELSE '' END ||
         |  '#sec' AS url
         |FROM documents),
         |c AS (SELECT doc_id, url,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    url, '${Urls.FragmentPattern}', ''),
         |    '${Urls.UtmParamPattern}', '', 'g'),
         |    '\\?&', '?'), '^([^?]*)&', '\\1?') AS s4
         |FROM d),
         |t AS (SELECT doc_id, url,
         |  regexp_replace(s4, '[?&]$$', '') AS s5 FROM c),
         |f AS (SELECT doc_id, url, s5,
         |  regexp_extract(s5, '$sh', 1) AS m FROM t)
         |SELECT doc_id, url,
         |  CASE WHEN m != '' THEN lower(m) || substr(s5, length(m) + 1)
         |       ELSE s5 END AS canon,
         |  lower(regexp_extract(url,
         |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host
         |FROM f ORDER BY doc_id""".stripMargin
    }),

    // Time-range rolling aggregates: per-user 1-hour trailing window via
    // a RANGE frame over epoch micros — count exact, sum in fixed-point
    // cents so the frame arithmetic is engine- and order-independent.
    "rolling_value_avg" -> Query((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("__us"))
        .rangeBetween(-3600L * 1000000, 0)
      t(s, dir, "events")
        .withColumn("__us", unix_micros(col("ts")))
        .withColumn("__v100", round(col("value") * 100).cast("long"))
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("avg_1h", round(
          sum(col("__v100")).over(w).cast("double") / 100.0 / col("n_win"),
          4))
        .select(col("event_id"), col("user_id"), col("__us").as("ts_us"),
          col("n_win"), col("avg_1h"))
        .orderBy("event_id")
    },
      """WITH ev AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    round(value * 100)::BIGINT AS v100 FROM events)
        |SELECT event_id, user_id, us AS ts_us,
        |  count(*) OVER w AS n_win,
        |  round((sum(v100) OVER w)::DOUBLE / 100.0 / (count(*) OVER w), 4)
        |    AS avg_1h
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // Per-language heavy hitters: top-20 tokens by count through the
    // bounded-heap TopK operator (no full per-group sort).
    "vocab_topk_by_lang" -> Query((s, dir) => {
      val counts = tc(s, dir, "documents")
        .select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      graft.plans.TopK.perKey(counts, Seq("lang"),
          Seq(col("cnt").desc, col("token").asc), 20)
        .withColumn("rank", row_number().over(Window.partitionBy("lang")
          .orderBy(col("cnt").desc, col("token").asc)))
        .orderBy("lang", "rank")
    },
      s"""WITH toks AS (SELECT lang, unnest(${ExtensionQueries.toksSql})
         |    AS token FROM documents),
         |counts AS (SELECT lang, token, count(*) AS cnt FROM toks
         |           GROUP BY 1, 2),
         |ranked AS (SELECT lang, token, cnt, row_number() OVER (
         |    PARTITION BY lang ORDER BY cnt DESC, token) AS rank
         |  FROM counts)
         |SELECT lang, token, cnt, rank FROM ranked WHERE rank <= 20
         |ORDER BY lang, rank""".stripMargin),

    // Per-group HLL: distinct-user estimates per event type; at most
    // groups x 64 register rows shuffle, whatever the event volume.
    "sketch_hll_by_group" -> Query((s, dir) =>
      graft.operators.Sketches.hllDistinctByGroup(
          t(s, dir, "events"), "event_type", "user_id", m = 64)
        .orderBy("event_type"),
      {
      val num = java.lang.Double.toString(
        graft.operators.Sketches.hllNumerator(64))
      val h60 = ExtensionQueries.md5Hash60Sql("user_id::VARCHAR")
      s"""WITH h AS (SELECT event_type, $h60 AS h FROM events),
         |b AS (SELECT event_type, h % 64 AS bucket, h >> 6 AS w FROM h),
         |r AS (SELECT event_type, bucket,
         |    max(CASE WHEN w = 0 THEN 55
         |        ELSE 55 - length(printf('%b', w)) END) AS r
         |  FROM b GROUP BY 1, 2),
         |s AS (SELECT event_type, sum(1::BIGINT << (55 - r)) AS s,
         |    count(*) AS nregs FROM r GROUP BY 1),
         |t AS (SELECT event_type,
         |    s + (64 - nregs) * (1::BIGINT << 55) AS harm FROM s),
         |e AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |      FROM events GROUP BY 1)
         |SELECT e.event_type, 64 AS m, n_exact,
         |  round($num / harm::DOUBLE, 3) AS hll_est
         |FROM e JOIN t ON e.event_type = t.event_type
         |ORDER BY e.event_type""".stripMargin
    }),

    // Pearson correlation between two event metrics, per group — all
    // six moments are exact integer sums (value cents x props.k), so
    // the closed-form corr is a fixed IEEE op sequence on both engines.
    "metric_correlation" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("x", round(col("value") * 100).cast("long"))
        .withColumn("y", from_json(col("props"),
          StructType(Seq(StructField("k", IntegerType))))
          .getField("k").cast("long"))
      // Moment sums in DECIMAL(38): per-term x² fits a long today, but
      // the SUM over 10¹²-row groups does not — decimal partials stay
      // exact and overflow to a visible null, never a silent wrap.
      // Moment products multiply as doubles, IEEE-identical to the
      // oracle's expression.
      def dc(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val m = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(dc(col("x"))).as("sx"), sum(dc(col("y"))).as("sy"),
        sum(dc(col("x")) * dc(col("x"))).as("sxx"),
        sum(dc(col("y")) * dc(col("y"))).as("syy"),
        sum(dc(col("x")) * dc(col("y"))).as("sxy"))
      m.select(col("event_type"), col("n"),
          round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
            / (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
              * sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))),
            6).as("corr"))
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type,
        |    round(value * 100)::BIGINT AS x,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
        |  FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM ev GROUP BY 1)
        |SELECT event_type, n,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |    (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |     sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
        |    6) AS corr
        |FROM m ORDER BY event_type""".stripMargin),

    // Corpus-LM quality scoring: mean per-token integer surprisal
    // against a corpus-trained unigram model (CCNet-style filter,
    // log-free for engine parity — see LmScore).
    "lm_doc_surprisal" -> Query((s, dir) =>
      graft.operators.LmScore
        .unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      s"""WITH w AS (SELECT doc_id, unnest(${ExtensionQueries.toksSql}) AS t
        |  FROM documents),
        |vc AS (SELECT t, count(*) AS c FROM w GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n, count(*) AS v FROM vc),
        |sc AS (SELECT t,
        |    (length(format('{:b}', (n + v) // (c + 1))) - 1)::BIGINT AS bits
        |  FROM vc, tot),
        |d AS (SELECT w.doc_id, count(*) AS n_tokens,
        |    sum(bits)::BIGINT AS sb
        |  FROM w JOIN sc USING (t) GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  round(sb::DOUBLE / n_tokens, 6) AS avg_bits
        |FROM d ORDER BY doc_id""".stripMargin),

    // Deterministic Lloyd k-means on the embeddings table: k=8 seeds
    // = lowest vec_ids, 3 iterations, fixed-point centroid sums.
    // Output = exploded trained centroids + cluster sizes.
    "kmeans_embeddings" -> Query((s, dir) =>
      graft.operators.Kmeans
        .fitCentroids(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 3)
        .orderBy("cid", "pos"),
      {
      // Lloyd iterations unrolled (shared fragment with sim_topk_ivfk):
      // each round re-derives (assignment, fixed-point sums, next
      // centroids) from the previous round's centroid lists — mirrors
      // Kmeans.fitCentroids op for op.
      s"""WITH ${ExtensionQueries.kmeansCtesSql(k = 8, iters = 3)}
        |SELECT cid, pos, round((s::DOUBLE / n) / 1048576.0, 6) AS c, n
        |FROM g3 ORDER BY cid, pos""".stripMargin
    }),

    // Week-over-week metric deltas: per-type weekly counts with lag +
    // percent change — the period-over-period dashboard staple.
    "metrics_wow" -> Query((s, dir) => {
      val wk = t(s, dir, "events")
        .groupBy(col("event_type"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("week")
      wk.withColumn("prev_n", lag("n", 1).over(w))
        .withColumn("wow_pct",
          round((col("n") - col("prev_n")).cast("double")
            / col("prev_n") * 100, 6))
        .orderBy("event_type", "week")
    },
      """WITH wk AS (SELECT event_type,
        |    date_trunc('week', CAST(ts AS TIMESTAMP))::DATE AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, week, n, prev_n,
        |  round((n - prev_n)::DOUBLE / prev_n * 100, 6) AS wow_pct
        |FROM (SELECT *, lag(n) OVER (PARTITION BY event_type
        |    ORDER BY week) AS prev_n FROM wk) t
        |ORDER BY 1, 2""".stripMargin),

    // Last-touch attribution: each purchase joined as-of to the user's
    // latest click/view within 24h — the asofJoin composition every
    // marketing stack runs.
    "attribution_last_touch" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val conv = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("conv_id"))
      val touch = ev.where(col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(max(struct(col("event_id"), col("event_type"))).as("s"))
        .select(col("user_id"), col("ts").as("touch_ts"),
          col("s.event_id").as("touch_id"), col("s.event_type").as("touch_type"))
      TemporalJoins.asofJoin(conv, touch, Seq("user_id"), "ts", "touch_ts",
          rightTie = Some("touch_id"),
          tolerance = Some(expr("INTERVAL 24 HOURS")))
        .select("conv_id", "user_id", "touch_id", "touch_type", "touch_ts")
        .orderBy("conv_id")
    },
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    user_id, event_type FROM events),
        |conv AS (SELECT event_id AS conv_id, user_id, ts FROM ev
        |  WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id,
        |    event_type AS touch_type FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id DESC) AS rn
        |    FROM ev WHERE event_type IN ('click', 'view')) r
        |  WHERE rn = 1),
        |u AS (SELECT user_id, ts AS uts, 1 AS side, conv_id,
        |    NULL::BIGINT AS touch_id, NULL::VARCHAR AS touch_type,
        |    NULL::TIMESTAMP AS touch_ts FROM conv
        |  UNION ALL
        |  SELECT user_id, touch_ts, 0, NULL, touch_id, touch_type,
        |    touch_ts FROM touch),
        |c AS (SELECT user_id, uts, side, conv_id,
        |    last_value(touch_id IGNORE NULLS) OVER w AS touch_id,
        |    last_value(touch_type IGNORE NULLS) OVER w AS touch_type,
        |    last_value(touch_ts IGNORE NULLS) OVER w AS touch_ts
        |  FROM u WINDOW w AS (PARTITION BY user_id
        |    ORDER BY uts, side, coalesce(touch_id, 0)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT conv_id, user_id,
        |  CASE WHEN touch_ts >= uts - INTERVAL 24 HOURS
        |    THEN touch_id END AS touch_id,
        |  CASE WHEN touch_ts >= uts - INTERVAL 24 HOURS
        |    THEN touch_type END AS touch_type,
        |  CASE WHEN touch_ts >= uts - INTERVAL 24 HOURS
        |    THEN touch_ts END AS touch_ts
        |FROM c WHERE side = 1 ORDER BY conv_id""".stripMargin),

    // Linear multi-touch attribution: every click/view in the 24h
    // window before a purchase shares the conversion credit equally —
    // exact integer micro-credits (1000000 div n, order-free sums), so
    // the floor remainder policy is deterministic on both engines.
    // Weekly per-channel rollup; one user-keyed equi-join + range
    // filter, one per-conversion count, partial-agg everywhere.
    "attribution_linear" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val conv = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("conv_us"),
          to_date(date_trunc("week", col("ts"))).as("week"),
          col("event_id").as("conv_id"))
      val touch = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), unix_micros(col("ts")).as("touch_us"),
          col("event_type").as("touch_type"))
      val joined = conv.join(touch, Seq("user_id"))
        .where(col("touch_us") <= col("conv_us") &&
          col("touch_us") >= col("conv_us") - lit(24L * 3600 * 1000000L))
      val perConv = joined.groupBy("conv_id").agg(count(lit(1)).as("n_touch"))
      joined.join(perConv, "conv_id")
        .withColumn("credit_micro", expr("1000000 div n_touch"))
        .groupBy("week", "touch_type")
        .agg(count(lit(1)).as("n_touches"),
          sum("credit_micro").as("__cm"))
        .select(col("week"), col("touch_type"), col("n_touches"),
          round(col("__cm") / 1e6, 6).as("credit"))
        .orderBy("week", "touch_type")
    },
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    user_id, event_type FROM events),
        |conv AS (SELECT user_id, epoch_us(ts) AS conv_us,
        |    date_trunc('week', ts)::DATE AS week, event_id AS conv_id
        |  FROM ev WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, epoch_us(ts) AS touch_us,
        |    event_type AS touch_type
        |  FROM ev WHERE event_type IN ('click', 'view')),
        |j AS (SELECT conv_id, week, touch_type
        |  FROM conv JOIN touch USING (user_id)
        |  WHERE touch_us <= conv_us
        |    AND touch_us >= conv_us - 86400000000),
        |n AS (SELECT conv_id, count(*) AS n_touch FROM j GROUP BY conv_id)
        |SELECT week, touch_type, count(*)::BIGINT AS n_touches,
        |  round(sum(1000000 // n_touch)::BIGINT / 1e6, 6) AS credit
        |FROM j JOIN n USING (conv_id)
        |GROUP BY week, touch_type ORDER BY week, touch_type""".stripMargin),

    // Constraint checking: rows violating any data-quality rule are
    // quarantined with the sorted violated-rule names.
    "dq_quarantine" -> Query((s, dir) =>
      graft.operators.Quality.quarantine(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber"),
          Seq(
            "qty_le_45" -> (col("l_quantity") <= 45),
            "disc_le_8pct" -> (col("l_discount") <= 0.08),
            "tax_le_6pct" -> (col("l_tax") <= 0.06),
            "shipped_by_1998" ->
              (col("l_shipdate") <= lit("1998-12-01").cast("date"))))
        // the driver's row-sort normalization needs scalar cells, so the
        // query surface joins the violation array into one string
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(col("violations"), ",").as("violations"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, violations FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    array_to_string(list_sort(list_filter([
        |      CASE WHEN NOT coalesce(l_quantity <= 45, false)
        |        THEN 'qty_le_45' END,
        |      CASE WHEN NOT coalesce(l_discount <= 0.08, false)
        |        THEN 'disc_le_8pct' END,
        |      CASE WHEN NOT coalesce(l_tax <= 0.06, false)
        |        THEN 'tax_le_6pct' END,
        |      CASE WHEN NOT coalesce(l_shipdate <= DATE '1998-12-01', false)
        |        THEN 'shipped_by_1998' END],
        |      x -> x IS NOT NULL)), ',') AS violations
        |  FROM lineitem) q
        |WHERE len(violations) > 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Wide->long unpivot of per-flag metric sums (the melt side of
    // q28's pivot) — stack() stays inside whole-stage codegen.
    "unpivot_metrics" -> Query((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(expr("CAST(ROUND(l_quantity) AS BIGINT)")).as("qty"),
          sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
            .as("price_cents"),
          count(lit(1)).as("n_rows"))
        .selectExpr("l_returnflag",
          "stack(3, 'qty', qty, 'price_cents', price_cents, " +
            "'n_rows', n_rows) AS (metric, value)")
        .orderBy("l_returnflag", "metric"),
      """WITH a AS (SELECT l_returnflag,
        |    sum(round(l_quantity)::BIGINT)::BIGINT AS qty,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT
        |      AS price_cents,
        |    count(*) AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
        |  UNION ALL
        |  SELECT l_returnflag, 'price_cents', price_cents FROM a
        |  UNION ALL
        |  SELECT l_returnflag, 'n_rows', n_rows FROM a) u
        |ORDER BY 1, 2""".stripMargin),

    // Record linkage: two disjoint part catalogs (key parity) fuzzy-
    // joined on name by distinct-trigram Jaccard >= 0.6 — integer
    // count test, no float division.
    "linkage_fuzzy" -> Query((s, dir) => {
      val p = t(s, dir, "part").where(col("p_partkey") <= 2000)
      graft.operators.Linkage.trigramJoin(
          p.where(pmod(col("p_partkey"), lit(2)) === 0),
          p.where(pmod(col("p_partkey"), lit(2)) === 1),
          "p_partkey", "p_name", "p_partkey", "p_name", t100 = 60)
        .orderBy("id_a", "id_b")
    },
      """WITH pa AS (SELECT p_partkey AS id_a,
        |    '  ' || lower(p_name) || '  ' AS p
        |  FROM part WHERE p_partkey <= 2000 AND p_partkey % 2 = 0),
        |pb AS (SELECT p_partkey AS id_b,
        |    '  ' || lower(p_name) || '  ' AS p
        |  FROM part WHERE p_partkey <= 2000 AND p_partkey % 2 = 1),
        |ga AS (SELECT id_a, unnest(list_distinct(list_transform(
        |    range(1, length(p) - 1), i -> substr(p, i, 3)))) AS g FROM pa),
        |gb AS (SELECT id_b, unnest(list_distinct(list_transform(
        |    range(1, length(p) - 1), i -> substr(p, i, 3)))) AS g FROM pb),
        |sa AS (SELECT id_a, count(*) AS na FROM ga GROUP BY 1),
        |sb AS (SELECT id_b, count(*) AS nb FROM gb GROUP BY 1),
        |sh AS (SELECT id_a, id_b, count(*) AS n_shared
        |  FROM ga JOIN gb USING (g) GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared, na + nb - n_shared AS n_union
        |FROM sh JOIN sa USING (id_a) JOIN sb USING (id_b)
        |WHERE n_shared * 100 >= (na + nb - n_shared) * 60
        |ORDER BY id_a, id_b""".stripMargin),

    // Hourly gap-fill: dense per-type grid, forward-filled last
    // observed value — the resample/carry-forward telemetry primitive.
    "gapfill_ffill" -> Query((s, dir) =>
      graft.operators.Gapfill.hourlyFfill(t(s, dir, "events"),
          "event_type", "ts", "event_id",
          round(col("value") * 100).cast("long"))
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type", "h"),
      """WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    event_id, round(value * 100)::BIGINT AS cents
        |  FROM events WHERE ts IS NOT NULL),
        |ob AS (SELECT event_type, h, cents FROM (
        |    SELECT event_type, date_trunc('hour', ts) AS h, cents,
        |      row_number() OVER (PARTITION BY event_type,
        |          date_trunc('hour', ts)
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM ev) r
        |  WHERE rn = 1),
        |rg AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        |  FROM ob GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM rg)
        |SELECT g.event_type, g.h,
        |  last_value(ob.cents IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.h) AS v
        |FROM grid g LEFT JOIN ob
        |  ON g.event_type = ob.event_type AND g.h = ob.h
        |ORDER BY 1, 2""".stripMargin),

    // SCD type-2 history: orders as version-1 dimension, a 10%-price-
    // bump change batch applied at version 2 — matched current rows
    // close, changes append; cents math shared with merge_upsert.
    "scd2_history" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val hist = o.withColumn("valid_from", lit(1))
        .withColumn("valid_to", lit(null).cast("integer"))
      val ch = o.where(pmod(col("o_orderkey"), lit(10)) === 3)
        .withColumn("cents", expr("(cents * 11 + 5) DIV 10"))
      Merge.scd2(hist, ch, Seq("o_orderkey"), version = 2)
        .orderBy("o_orderkey", "valid_from")
    },
      """WITH o AS (SELECT o_orderkey,
        |    round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |ch AS (SELECT o_orderkey, (cents * 11 + 5) // 10 AS cents
        |  FROM o WHERE o_orderkey % 10 = 3)
        |SELECT o.o_orderkey, o.cents, 1 AS valid_from,
        |  CASE WHEN ch.o_orderkey IS NULL THEN NULL ELSE 2 END AS valid_to
        |FROM o LEFT JOIN ch ON o.o_orderkey = ch.o_orderkey
        |UNION ALL
        |SELECT o_orderkey, cents, 2 AS valid_from, NULL AS valid_to FROM ch
        |ORDER BY o_orderkey, valid_from""".stripMargin),

    // Cohort retention matrix: users bucketed by first-event ISO week,
    // distinct-active counts per whole-week offset.
    "retention_cohorts" -> Query((s, dir) =>
      graft.operators.Retention.cohorts(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset"),
      """WITH ev AS (SELECT DISTINCT user_id AS u,
        |    date_trunc('week', CAST(ts AS TIMESTAMP))::DATE AS w
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |fw AS (SELECT u, min(w) AS cohort_week FROM ev GROUP BY 1)
        |SELECT cohort_week,
        |  (date_diff('day', cohort_week, w) // 7)::BIGINT AS week_offset,
        |  count(DISTINCT u) AS n_users
        |FROM ev JOIN fw USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Incremental aggregate maintenance: standing state (ts < cutoff)
    // merged with the delta batch's state — the oracle recomputes from
    // the FULL fact table, so the hash match IS the IVM invariant
    // (merge(state, delta) == recompute).
    "incremental_agg" -> Query((s, dir) => {
      import graft.operators.IncrementalAgg
      val ev = t(s, dir, "events").withColumn("cents",
        round(col("value") * 100).cast("long"))
      val cutoff = lit("2024-01-20").cast("timestamp")
      val st = IncrementalAgg.state(
        ev.where(col("ts") < cutoff), Seq("event_type"), "cents")
      val d = IncrementalAgg.state(
        ev.where(col("ts") >= cutoff), Seq("event_type"), "cents")
      IncrementalAgg.merge(st, d, Seq("event_type")).orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type,
        |    round(value * 100)::BIGINT AS cents FROM events)
        |SELECT event_type, count(cents) AS n, sum(cents)::BIGINT AS sum_v,
        |  min(cents) AS min_v, max(cents) AS max_v
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin),

    // Salted-join parity under the driver oracle: the skew-safe join
    // must equal the plain join row for row (SkewSpec asserts the same
    // locally; this makes it a hash-checked driver guarantee).
    "skew_salted_join" -> Query((s, dir) => {
      val ev = t(s, dir, "events").select("event_id", "user_id", "value")
      val perUser = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_user_events"))
      graft.operators.Skew.saltedJoin(ev, perUser, "user_id", saltFactor = 8)
        .select("event_id", "user_id", "n_user_events")
        .orderBy("event_id")
    },
      """WITH u AS (SELECT user_id, count(*) AS n_user_events FROM events
        |           GROUP BY 1)
        |SELECT e.event_id, e.user_id, u.n_user_events
        |FROM events e JOIN u ON e.user_id = u.user_id
        |ORDER BY e.event_id""".stripMargin),

    // Container-header roundtrip: synthesize real BMP/WAV bytes from
    // doc_id-derived parameters on the executors, parse them back with
    // the byte-level header parsers, and let the oracle check the
    // parsed fields against the same arithmetic — the parsers' output
    // is then hash-verified by the driver, not just spec-asserted.
    "container_metadata" -> Query((s, dir) => {
      val sp = s; import sp.implicits._
      tc(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val bytes =
            if (id % 2 == 0)
              graft.operators.Containers.synthBmp(
                (id % 64 + 1).toInt, (id % 48 + 1).toInt,
                Array.emptyByteArray)
            else
              graft.operators.Containers.synthWav(
                (8000 + (id % 8) * 4000).toInt, (1 + id % 2).toInt, 16,
                new Array[Byte]((id % 100).toInt * 2))
          val m = graft.operators.Containers.parse(bytes)
          (id, m.format, m.width, m.height, m.sampleRate, m.channels,
            bytes.length)
        }
        .toDF("doc_id", "format", "width", "height", "sample_rate",
          "channels", "n_bytes")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
        |  (CASE WHEN doc_id % 2 = 0 THEN doc_id % 64 + 1 ELSE 0
        |   END)::INTEGER AS width,
        |  (CASE WHEN doc_id % 2 = 0 THEN doc_id % 48 + 1 ELSE 0
        |   END)::INTEGER AS height,
        |  (CASE WHEN doc_id % 2 = 1 THEN 8000 + (doc_id % 8) * 4000 ELSE 0
        |   END)::INTEGER AS sample_rate,
        |  (CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 0 END)::INTEGER AS channels,
        |  (CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 + (doc_id % 100) * 2
        |   END)::INTEGER AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Market-basket co-occurrence: top-50 part pairs by number of
    // orders containing both. Pairs come from ONE exchange (guide §2.4):
    // groupBy(order).collect_set builds each basket's distinct item set
    // map-side-partial, then the codegen'd ordered_pairs expression
    // enumerates the (p1 < p2) pairs locally — the identical pair
    // multiset the previous distinct + self-equality-join shape produced
    // through THREE exchanges (distinct by (ok,pk) + both join sides by
    // ok). Per-order width is bounded, so the local C(w,2) blowup is
    // exactly what the join materialized anyway; pair counts still
    // aggregate map-side before the one pair shuffle. Ordering
    // totalized by (count, p1, p2) so the LIMIT boundary is
    // deterministic. OrderedPairsSpec pins pair-multiset equality to
    // the self-join form; the oracle replays the naive join.
    "basket_pairs" -> Query((s, dir) => {
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(collect_set(col("l_partkey")).as("items"))
      items.select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.OrderedPairs(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("items")))))
          .as("p"))
        .select(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("p1"), col("p2"))
        .limit(50)
    },
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |p AS (SELECT a.pk AS p1, b.pk AS p2
        |      FROM li a JOIN li b USING (ok) WHERE a.pk < b.pk)
        |SELECT p1, p2, count(*)::BIGINT AS n_orders FROM p GROUP BY 1, 2
        |ORDER BY n_orders DESC, p1, p2 LIMIT 50""".stripMargin),

    // BPE merge induction (tokenizer training): the first 6 most
    // frequent adjacent-symbol merges learned from the corpus, with
    // their pair counts — the full training loop replays in the oracle
    // through the space-anchored replace() encoding (see Bpe).
    "bpe_merges" -> Query((s, dir) =>
      graft.operators.Bpe.merges(tc(s, dir, "documents"), "text", numMerges = 6)
        .orderBy("merge_rank"),
      {
      val k = 6
      s"""WITH ${bpeCtesSql(k)}
         |SELECT merge_rank, sym_a, sym_b, pair_count FROM (
         |  ${(1 to k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
         |ORDER BY merge_rank""".stripMargin
    }),

    // Banned-term blocklist audit: whole-word hits per document +
    // keep/flag/drop action — one narrow codegen'd projection, no
    // shuffle, no UDF.
    "text_blocklist" -> Query((s, dir) =>
      graft.operators.Quality.blocklistAudit(t(s, dir, "documents"),
          "doc_id", "text", blockTerms, flagAt = 1, dropAt = 3)
        .orderBy("doc_id"),
      {
      val in = blockTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH h AS (SELECT doc_id, coalesce(
         |    list_filter(${ExtensionQueries.toksSql}, x -> x IN ($in)),
         |    []::VARCHAR[]) AS hl
         |  FROM documents)
         |SELECT doc_id, len(hl)::BIGINT AS n_hits,
         |  coalesce(array_to_string(list_sort(list_distinct(hl)), ','), '')
         |    AS hit_terms,
         |  CASE WHEN len(hl) >= 3 THEN 'drop'
         |       WHEN len(hl) >= 1 THEN 'flag'
         |       ELSE 'keep' END AS action
         |FROM h ORDER BY doc_id""".stripMargin
    }),

    // Tokenizer APPLY: the 6 learned merges replay over every document
    // as one chain of codegen'd replaces — per-doc word/BPE-token
    // counts, the compression diagnostic behind tokenizer budgets.
    "bpe_encode" -> Query((s, dir) => {
      val d = tc(s, dir, "documents")
      graft.operators.Bpe.encode(d, "doc_id", "text",
          graft.operators.Bpe.merges(d, "text", numMerges = 6))
        .orderBy("doc_id")
    },
      {
      val k = 6
      val words = s"list_filter(${ExtensionQueries.toksSql}, " +
        "x -> regexp_matches(x, '^[a-z0-9]+$'))"
      val chain = (1 to k).map { i =>
        s"""d$i AS (SELECT doc_id, n_words, replace(repr,
           |    ' ' || sym_a || '  ' || sym_b || ' ',
           |    ' ' || sym_a || sym_b || ' ') AS repr FROM d${i - 1}, m$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${bpeCtesSql(k)},
         |d0 AS (SELECT doc_id, array_to_string(list_transform($words,
         |    w -> ' ' || array_to_string(string_split(w, ''), '  ') || ' '),
         |    chr(10)) AS repr,
         |  len($words) AS n_words FROM documents),
         |$chain
         |SELECT doc_id, n_words::BIGINT AS n_words,
         |  len(list_filter(string_split(repr, ' '),
         |    x -> x != '' AND x != chr(10)))::BIGINT AS n_tokens
         |FROM d$k ORDER BY doc_id""".stripMargin
    }),

    // Mixture diagnostic: per-source unigram total-variation distance
    // from the corpus blend — exact-integer sums, one tokenize pass.
    "corpus_divergence" -> Query((s, dir) =>
      graft.operators.Quality.unigramDivergence(t(s, dir, "documents"),
          "source", "text")
        .orderBy("source"),
      {
      val toks = ExtensionQueries.toksSql
      s"""WITH tok AS (SELECT source AS g, unnest($toks) AS t FROM documents),
         |cgt AS (SELECT g, t, count(*)::BIGINT AS cgt FROM tok GROUP BY 1, 2),
         |wct AS (SELECT g, t, cgt, CAST(sum(cgt) OVER (PARTITION BY t)
         |    AS BIGINT) AS ct FROM cgt),
         |ng AS (SELECT g, CAST(sum(cgt) AS BIGINT) AS ng FROM cgt GROUP BY 1),
         |n AS (SELECT CAST(sum(ng) AS BIGINT) AS n FROM ng),
         |a AS (SELECT wct.g, ng.ng AS n_tokens, n.n,
         |    CAST(sum(abs(cgt * n.n - ct * ng.ng)) AS BIGINT) AS sd,
         |    CAST(sum(ct) AS BIGINT) AS st
         |  FROM wct JOIN ng ON wct.g = ng.g CROSS JOIN n
         |  GROUP BY 1, 2, 3)
         |SELECT g AS source, n_tokens,
         |  round(0.5 * (sd / (n_tokens * n) + (n - st) / n), 6) AS tv_dist
         |FROM a ORDER BY source""".stripMargin
    }),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
