package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Funnel, Graph, LmScore, Sampling, Sketches, Urls, Watermarks}
import graft.sources.Tables

/** Round-4 mining surface: graph triangle counting, time-bounded
  * funnels, KMV set algebra, priority sampling, URL-level dedup, and
  * snapshot drift reporting. Everything follows the repo-wide oracle
  * contract: integer/fixed-point arithmetic wherever aggregation order
  * could vary, md5-derived hashes (the only 64-bit hash both engines
  * share), and rounding applied identically on both sides.
  */
object MiningQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  private def h60(expr: String): String = ExtensionQueries.md5Hash60Sql(expr)

  lazy val registry: Registry = Registry(

    // Per-node triangle counts over the part co-purchase graph
    // (deterministic 1-in-8 node subsample keeps the synthetic graph
    // sparse — the full co-purchase graph is near-complete, where
    // triangle counting is both degenerate and quadratic). Exact
    // integers end to end; the degree orientation inside
    // Graph.triangleCounts bounds wedge work at Σ out-deg² with
    // out-deg = O(√m).
    "graph_triangles" -> Query((s, dir) => {
      // Edge generation: per-order part sets expanded to ordered pairs
      // in ONE scan + ONE shuffle (collect_set dedups per order; the
      // sorted-array double-transform emits each pair once, narrow).
      // The self-join alternative scans lineitem twice and shuffles on
      // the skew-prone order key; per-order set size is bounded by
      // order width, so the array state is safe at any corpus scale.
      val li = t(s, dir, "lineitem")
        .where(pmod(col("l_partkey"), lit(8)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.groupBy("ok")
        .agg(collect_set(col("pk")).as("ps"))
        // Codegen'd pair enumeration (OrderedPairs, sorts internally) —
        // multiset-pinned to the interpreted flatten/transform it
        // replaced by OrderedPairsSpec.
        .select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.OrderedPairs(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("ps")))))
          .as("p"))
        .select(col("p.p1").as("src"), col("p.p2").as("dst"))
      Graph.triangleCounts(edges, "src", "dst").orderBy("node")
    },
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 8 = 0),
        |und AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und),
        |deg AS (SELECT node, count(*)::BIGINT AS deg
        |        FROM (SELECT u AS node FROM und
        |              UNION ALL SELECT v FROM und) GROUP BY node),
        |ori AS (SELECT
        |    CASE WHEN du.deg*4294967296 + e.u < dv.deg*4294967296 + e.v
        |         THEN e.u ELSE e.v END AS lo,
        |    CASE WHEN du.deg*4294967296 + e.u < dv.deg*4294967296 + e.v
        |         THEN e.v ELSE e.u END AS hi,
        |    greatest(du.deg*4294967296 + e.u, dv.deg*4294967296 + e.v) AS khi
        |  FROM und e JOIN deg du ON e.u = du.node
        |             JOIN deg dv ON e.v = dv.node),
        |tri AS (SELECT w1.a AS a, w1.b AS b, w2.c AS c
        |  FROM (SELECT lo AS a, hi AS b, khi AS kb FROM ori) w1
        |  JOIN (SELECT lo AS a2, hi AS c, khi AS kc FROM ori) w2
        |    ON w1.a = w2.a2 AND w1.kb < w2.kc
        |  WHERE EXISTS (SELECT 1 FROM ori o
        |                WHERE o.lo = w1.b AND o.hi = w2.c)),
        |cnt AS (SELECT node, count(*)::BIGINT AS n_triangles
        |  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri) GROUP BY node)
        |SELECT n.node::BIGINT AS node,
        |  coalesce(c.n_triangles, 0)::BIGINT AS n_triangles
        |FROM nodes n LEFT JOIN cnt c USING (node) ORDER BY node""".stripMargin),

    // Connected components over a sparse supplier-scoped co-purchase
    // graph (parts linked when the SAME supplier ships both in one
    // order; 1-in-2 node subsample). Unlike the triangle graph this
    // one fragments into ~150 components at sf0.01, so the labels are
    // non-trivial. Edges build in one scan + one shuffle (per-(order,
    // supplier) sorted sets expanded to ordered pairs, narrow); the
    // component labels come from Clusters.connectedComponents — driver
    // union-find under the guarded 500k-edge limit, distributed
    // min-label propagation beyond it. Output adds the component size
    // via one tiny self-aggregation.
    "graph_components" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(pmod(col("l_partkey"), lit(2)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          col("l_partkey").as("pk"))
      // Codegen'd ordered-pair enumeration (OrderedPairs, sorts the set
      // internally) replacing the interpreted flatten/transform/slice
      // composition — same pair multiset (OrderedPairsSpec).
      val edges = li.groupBy("ok", "sk")
        .agg(collect_set(col("pk")).as("ps"))
        .select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.OrderedPairs(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("ps")))))
          .as("p"))
        .select(col("p.p1").as("id_a"), col("p.p2").as("id_b"))
      val labels = graft.operators.Clusters.connectedComponents(edges)
        .select(col("id").as("node"), col("cluster_id").as("component"))
      val sizes = labels.groupBy("component")
        .agg(count(lit(1)).as("comp_size"))
      labels.join(sizes, Seq("component"))
        .select("node", "component", "comp_size")
        .orderBy("node")
    },
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk, l_partkey AS pk
        |  FROM lineitem WHERE l_partkey % 2 = 0),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM li a JOIN li b
        |        ON a.ok = b.ok AND a.sk = b.sk AND a.pk < b.pk),
        |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |nodes AS (SELECT DISTINCT u AS node FROM und),
        |reach(node, lab) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT und.v AS node, reach.lab
        |  FROM reach JOIN und ON und.u = reach.node),
        |comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
        |sizes AS (SELECT component, count(*)::BIGINT AS comp_size
        |          FROM comp GROUP BY component)
        |SELECT node::BIGINT AS node, component::BIGINT AS component, comp_size
        |FROM comp JOIN sizes USING (component) ORDER BY node""".stripMargin),

    // ClickHouse-windowFunnel semantics: the view→click→purchase chain
    // must complete within 1h of the user's FIRST view. Depth = number
    // of stages reached inside the window.
    "funnel_windowed" -> Query((s, dir) =>
      Funnel.windowFunnel(t(s, dir, "events"), "user_id", "ts", 3600L, Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .select(col("user_id"),
          unix_micros(col("view_ts")).as("view_ts_us"),
          unix_micros(col("click_ts")).as("click_ts_us"),
          unix_micros(col("purchase_ts")).as("purchase_ts_us"),
          col("depth"))
        .orderBy("user_id"),
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events),
        |v AS (SELECT user_id, min(ts) AS view_ts FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM ev e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.view_ts
        |        AND epoch_us(e.ts) - epoch_us(v.view_ts) <= 3600000000
        |      GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM ev e
        |      JOIN c ON e.user_id = c.user_id
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        |        AND epoch_us(e.ts) - epoch_us(v.view_ts) <= 3600000000
        |      GROUP BY 1)
        |SELECT v.user_id, epoch_us(view_ts) AS view_ts_us,
        |  epoch_us(click_ts) AS click_ts_us,
        |  epoch_us(purchase_ts) AS purchase_ts_us,
        |  (1 + CASE WHEN click_ts IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN purchase_ts IS NULL THEN 0 ELSE 1 END)::BIGINT
        |    AS depth
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin),

    // KMV set algebra: estimated |A∪B| / Jaccard / |A∩B| between the
    // viewing and purchasing user populations, from two 64-hash
    // sketches — the audience-overlap question answered without a
    // distinct-join of the full sets.
    "sketch_kmv_setops" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      Sketches.kmvSetOps(
        ev.where(col("event_type") === "view"), "user_id",
        ev.where(col("event_type") === "purchase"), "user_id", k = 64)
    },
      s"""WITH ha AS (SELECT DISTINCT ${h60("user_id::VARCHAR")} AS h
         |  FROM events WHERE event_type = 'view'),
         |sa AS (SELECT h FROM ha ORDER BY h LIMIT 64),
         |hb AS (SELECT DISTINCT ${h60("user_id::VARCHAR")} AS h
         |  FROM events WHERE event_type = 'purchase'),
         |sb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
         |comb AS (SELECT h FROM
         |  (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT 64),
         |agg AS (SELECT count(*) AS n_in_k, max(h) AS h_k,
         |    sum(CASE WHEN h IN (SELECT h FROM sa)
         |              AND h IN (SELECT h FROM sb)
         |             THEN 1 ELSE 0 END)::BIGINT AS n_both
         |  FROM comb),
         |est AS (SELECT
         |  CASE WHEN n_in_k < 64 THEN n_in_k::DOUBLE
         |       ELSE round(63.0 / ((h_k + 1)::DOUBLE
         |                          / 1152921504606846976.0), 4)
         |  END AS union_est,
         |  round(n_both::DOUBLE / n_in_k, 6) AS jaccard_est
         |  FROM agg)
         |SELECT 64 AS k, union_est, jaccard_est,
         |  round(union_est * jaccard_est, 4) AS intersect_est
         |FROM est""".stripMargin),

    // Duffield–Lund–Thorup priority sampling: 64 documents drawn with
    // probability increasing in length, each carrying the
    // max(w·2²⁶, τ) estimation weight that keeps sampled subset sums
    // unbiased.
    "sample_priority" -> Query((s, dir) =>
      Sampling.prioritySample(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", k = 64, seed = "pri7")
        .select("doc_id", "n_chars", "priority_fp", "est_weight_fp")
        .orderBy(col("priority_fp").desc, col("doc_id")),
      {
      val hh = h60("'pri7_' || doc_id::VARCHAR")
      s"""WITH h AS (SELECT doc_id, n_chars,
         |    ($hh // 17179869184) + 1 AS hh
         |  FROM documents),
         |q AS (SELECT doc_id, n_chars,
         |    (n_chars::BIGINT * 67108864) // hh AS priority_fp FROM h),
         |r AS (SELECT *, row_number() OVER
         |    (ORDER BY priority_fp DESC, doc_id) AS rn FROM q),
         |tau AS (SELECT priority_fp AS t FROM r WHERE rn = 65)
         |SELECT doc_id, n_chars, priority_fp,
         |  greatest(n_chars::BIGINT * 67108864,
         |    coalesce((SELECT t FROM tau), 0)) AS est_weight_fp
         |FROM r WHERE rn <= 64
         |ORDER BY priority_fp DESC, doc_id""".stripMargin
    }),

    // URL-level dedup — the crawl pipeline's first dedup pass: distinct
    // tracking decorations (utm params, fragments, host casing) of the
    // same page collapse under canonicalization; keeper = min doc_id
    // per canonical URL. The synthetic URLs alias doc pages mod 97 so
    // real collisions exist at every sf.
    "dedup_url" -> Query((s, dir) => {
      val d = tc(s, dir, "documents").withColumn("url",
        concat(lit("HTTPS://"), col("source"), lit(".Example.COM/"),
          col("lang"), lit("/doc/"), pmod(col("doc_id"), lit(97)),
          lit("?utm_source=feed"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("&utm_campaign=x"))
            .otherwise(lit("")),
          lit("#sec")))
      d.select(col("doc_id"), Urls.canonicalizeUrl(col("url")).as("canon"))
        .groupBy("canon")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_dups"))
        .orderBy("canon")
    },
      {
      val sh = Urls.SchemeHostPattern
      s"""WITH d AS (SELECT doc_id,
         |  'HTTPS://' || source || '.Example.COM/' || lang || '/doc/' ||
         |  (doc_id % 97) || '?utm_source=feed' ||
         |  CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=x' ELSE '' END ||
         |  '#sec' AS url
         |FROM documents),
         |c AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    url, '${Urls.FragmentPattern}', ''),
         |    '${Urls.UtmParamPattern}', '', 'g'),
         |    '\\?&', '?'), '^([^?]*)&', '\\1?') AS s4
         |FROM d),
         |t AS (SELECT doc_id,
         |  regexp_replace(s4, '[?&]$$', '') AS s5 FROM c),
         |f AS (SELECT doc_id, s5,
         |  regexp_extract(s5, '$sh', 1) AS m FROM t),
         |canon AS (SELECT doc_id,
         |  CASE WHEN m != '' THEN lower(m) || substr(s5, length(m) + 1)
         |       ELSE s5 END AS canon FROM f)
         |SELECT canon, min(doc_id) AS keeper_id,
         |  count(*)::BIGINT AS n_dups
         |FROM canon GROUP BY canon ORDER BY canon""".stripMargin
    }),

    // Conditional bigram surprisal: the next-order CCNet-style LM
    // filter — word-PAIR improbability catches repetitive/garbled text
    // a unigram model scores as fluent. Integer floor-log₂ contract.
    "lm_bigram_surprisal" -> Query((s, dir) =>
      LmScore.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      s"""WITH d0 AS (SELECT doc_id, ${ExtensionQueries.toksSql} AS ts
         |  FROM documents),
         |w AS (SELECT doc_id, unnest(ts) AS t FROM d0),
         |vocab AS (SELECT count(DISTINCT t) AS v FROM w),
         |pairs AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
         |  FROM d0, UNNEST(range(1, len(ts))) AS u(i)
         |  WHERE len(ts) >= 2),
         |ctx AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
         |big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
         |sc AS (SELECT big.w1, big.w2,
         |    (length(format('{:b}', (c1 + v) // (c12 + 1))) - 1)::BIGINT
         |      AS bits
         |  FROM big JOIN ctx USING (w1), vocab),
         |d AS (SELECT p.doc_id, count(*) AS n_bigrams,
         |    sum(bits)::BIGINT AS sb
         |  FROM pairs p JOIN sc ON p.w1 = sc.w1 AND p.w2 = sc.w2
         |  GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         |  round(sb::DOUBLE / n_bigrams, 6) AS avg_bits
         |FROM d ORDER BY doc_id""".stripMargin),

    // HLL mergeability: two overlapping order populations (small-
    // quantity and large-quantity lineitems) sketched independently,
    // then unioned by register-wise max — per-shard sketches rolling
    // up without re-touching the data is the whole point of HLL at
    // 100 TB. Cardinalities are thousands at every sf, inside the raw
    // estimator's n ≳ 2.5m validity range.
    "sketch_hll_union" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
      Sketches.hllUnion(
        li.where(col("l_quantity") <= 30), "l_orderkey",
        li.where(col("l_quantity") >= 20), "l_orderkey", m = 64)
    },
      {
      // The numerator constant is computed ONCE in Scala and replayed
      // as a literal — Double.toString round-trips exactly.
      val num = java.lang.Double.toString(Sketches.hllNumerator(64))
      def regs(name: String, filt: String): String =
        s"""h_$name AS (SELECT ${h60("l_orderkey::VARCHAR")} AS h
           |  FROM lineitem WHERE $filt),
           |b_$name AS (SELECT h % 64 AS bucket, h >> 6 AS w FROM h_$name),
           |r_$name AS (SELECT bucket, max(CASE WHEN w = 0 THEN 55
           |      ELSE 55 - length(printf('%b', w)) END) AS r
           |    FROM b_$name GROUP BY bucket),
           |t_$name AS (SELECT (SELECT sum(1::BIGINT << (55 - r))
           |      FROM r_$name) +
           |    (64 - (SELECT count(*) FROM r_$name)) * (1::BIGINT << 55)
           |      AS harm)""".stripMargin
      s"""WITH ${regs("a", "l_quantity <= 30")},
         |${regs("b", "l_quantity >= 20")},
         |r_u AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |    greatest(coalesce(a.r, 0), coalesce(b.r, 0)) AS r
         |  FROM r_a a FULL JOIN r_b b USING (bucket)),
         |t_u AS (SELECT (SELECT sum(1::BIGINT << (55 - r)) FROM r_u) +
         |    (64 - (SELECT count(*) FROM r_u)) * (1::BIGINT << 55)
         |      AS harm)
         |SELECT 64 AS m, round($num / t_a.harm::DOUBLE, 3) AS est_a,
         |  round($num / t_b.harm::DOUBLE, 3) AS est_b,
         |  round($num / t_u.harm::DOUBLE, 3) AS union_est
         |FROM t_a, t_b, t_u""".stripMargin
    }),

    // Per-group priority sampling: an independent 16-doc length-
    // weighted sample per language, each with its own τ — per-group
    // top-(k+1) through the bounded-heap TopKPerKey operator.
    "sample_priority_per_group" -> Query((s, dir) =>
      Sampling.prioritySamplePerGroup(
          t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
          Seq("lang"), "doc_id", "n_chars", k = 16, seed = "pg9")
        .select("lang", "doc_id", "n_chars", "priority_fp", "est_weight_fp")
        .orderBy(col("lang"), col("priority_fp").desc, col("doc_id")),
      {
      val hh = h60("'pg9_' || doc_id::VARCHAR")
      s"""WITH h AS (SELECT lang, doc_id, n_chars,
         |    ($hh // 17179869184) + 1 AS hh
         |  FROM documents),
         |q AS (SELECT lang, doc_id, n_chars,
         |    (n_chars::BIGINT * 67108864) // hh AS priority_fp FROM h),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY priority_fp DESC, doc_id) AS rn FROM q),
         |tau AS (SELECT lang, priority_fp AS t FROM r WHERE rn = 17)
         |SELECT r.lang, doc_id, n_chars, priority_fp,
         |  greatest(n_chars::BIGINT * 67108864, coalesce(t, 0))
         |    AS est_weight_fp
         |FROM r LEFT JOIN tau ON r.lang = tau.lang WHERE rn <= 16
         |ORDER BY r.lang, priority_fp DESC, doc_id""".stripMargin
    }),

    // Least-squares metric trend per event type over weekly counts —
    // "is this metric drifting up or down" with the slope's numerator
    // and denominator as exact integers (n·Σxy − Σx·Σy over
    // n·Σx² − (Σx)²) and only the final ratio as a double.
    // Operating bound: the OUTPUT columns trend_num/trend_den are long
    // moment products over the WEEKS dimension (x = day offset ≤ ~10⁴,
    // n ≤ ~10³ weeks), exact while n·Σxy < 2⁶³ — i.e. weekly counts up
    // to ~10¹¹. Past that, widen to decimal AND change the declared
    // output schema (unlike metrics_autocorr/metric_correlation, whose
    // moments are internal and already decimal-widened).
    "metrics_trend" -> Query((s, dir) => {
      val wk = t(s, dir, "events")
        .groupBy(col("event_type"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(count(lit(1)).as("y"))
        .withColumn("x",
          datediff(col("week"), lit(java.sql.Date.valueOf("2024-01-01")))
            .cast("long"))
      wk.groupBy("event_type").agg(
          count(lit(1)).as("n_weeks"),
          sum(col("x") * col("y")).as("__sxy"),
          sum(col("x")).as("__sx"),
          sum(col("y")).as("__sy"),
          sum(col("x") * col("x")).as("__sxx"))
        .select(col("event_type"), col("n_weeks"),
          (col("n_weeks") * col("__sxy") - col("__sx") * col("__sy"))
            .as("trend_num"),
          (col("n_weeks") * col("__sxx") - col("__sx") * col("__sx"))
            .as("trend_den"))
        .withColumn("slope_per_day",
          when(col("trend_den") === 0, lit(null).cast("double"))
            .otherwise(round(
              col("trend_num").cast("double") / col("trend_den"), 8)))
        .orderBy("event_type")
    },
      """WITH wk AS (SELECT event_type,
        |    date_trunc('week', CAST(ts AS TIMESTAMP))::DATE AS week,
        |    count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT event_type,
        |    (week - DATE '2024-01-01')::BIGINT AS x, y FROM wk),
        |a AS (SELECT event_type, count(*)::BIGINT AS n_weeks,
        |    sum(x * y)::BIGINT AS sxy, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx
        |  FROM x GROUP BY 1)
        |SELECT event_type, n_weeks,
        |  (n_weeks * sxy - sx * sy)::BIGINT AS trend_num,
        |  (n_weeks * sxx - sx * sx)::BIGINT AS trend_den,
        |  CASE WHEN n_weeks * sxx - sx * sx = 0 THEN NULL
        |       ELSE round((n_weeks * sxy - sx * sy)::DOUBLE
        |                  / (n_weeks * sxx - sx * sx), 8) END
        |    AS slope_per_day
        |FROM a ORDER BY event_type""".stripMargin),

    // Watermark tuning from history: the event-lateness distribution
    // (vs a monotone arrival key) that tells a streaming deployment
    // what `withWatermark` delay actually drops. The fixture's events
    // are perfectly event-time ordered, so the query models network
    // disorder with a deterministic per-event observation lag (hash mod
    // 5 min) — arrival order stays `event_id`, observed event time lags
    // it. The running max over arrival order inside the operator is
    // two-level bucket-decomposed — no global sort, no 1-partition
    // window over the event table.
    "stream_lateness_audit" -> Query((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_obs",
        timestamp_micros(unix_micros(col("ts")) -
          pmod(graft.functions.TextOps.md5Hash60(
            col("event_id").cast("string")), lit(300000000L))))
      Watermarks.latenessAudit(ev, "event_id", "ts_obs")
    },
      {
      val hh = h60("event_id::VARCHAR")
      s"""WITH ev AS (SELECT event_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) - ($hh % 300000000)
         |      AS us FROM events),
         |l AS (SELECT max(us) OVER (ORDER BY event_id
         |    ROWS UNBOUNDED PRECEDING) - us AS lateness_us FROM ev)
         |SELECT lateness_us // 60000000 AS lateness_bucket,
         |  count(*)::BIGINT AS n_events,
         |  max(lateness_us)::BIGINT AS max_lateness_us
         |FROM l GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // Snapshot drift report: split events into two half-corpora by
    // event_id parity (stand-ins for yesterday's and today's loads) and
    // report per-event-type volume, audience, and money deltas — the
    // data-quality monitor between pipeline runs. Count deltas in exact
    // basis points (integer div); money via the repo-wide
    // decimal-cast/round-2 contract. One scan, one shuffle.
    "profile_drift" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val old = pmod(col("event_id"), lit(2)) === 0
      ev.groupBy("event_type").agg(
          sum(when(old, 1L).otherwise(0L)).as("n_old"),
          sum(when(!old, 1L).otherwise(0L)).as("n_new"),
          countDistinct(when(old, col("user_id"))).as("users_old"),
          countDistinct(when(!old, col("user_id"))).as("users_new"),
          round(sum(when(old, col("value").cast("decimal(18,4)"))), 2)
            .cast("double").as("value_old"),
          round(sum(when(!old, col("value").cast("decimal(18,4)"))), 2)
            .cast("double").as("value_new"))
        // Sign-safe basis points: Spark `div` truncates toward zero,
        // DuckDB `//` floors — they agree only on non-negative
        // operands, so divide magnitudes and reapply the sign.
        .withColumn("n_delta_bp",
          expr("CASE WHEN n_new >= n_old" +
            " THEN ((n_new - n_old) * 10000) div n_old" +
            " ELSE -(((n_old - n_new) * 10000) div n_old) END"))
        .withColumn("users_delta_bp",
          expr("CASE WHEN users_new >= users_old" +
            " THEN ((users_new - users_old) * 10000) div users_old" +
            " ELSE -(((users_old - users_new) * 10000) div users_old) END"))
        .orderBy("event_type")
    },
      """WITH a AS (SELECT event_type,
        |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_old,
        |    sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_new,
        |    count(DISTINCT CASE WHEN event_id % 2 = 0 THEN user_id END)
        |      ::BIGINT AS users_old,
        |    count(DISTINCT CASE WHEN event_id % 2 = 1 THEN user_id END)
        |      ::BIGINT AS users_new,
        |    round(sum(CASE WHEN event_id % 2 = 0
        |              THEN value::DECIMAL(18,4) END), 2)::DOUBLE
        |      AS value_old,
        |    round(sum(CASE WHEN event_id % 2 = 1
        |              THEN value::DECIMAL(18,4) END), 2)::DOUBLE
        |      AS value_new
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n_old, n_new, users_old, users_new,
        |  value_old, value_new,
        |  CASE WHEN n_new >= n_old
        |       THEN ((n_new - n_old) * 10000) // n_old
        |       ELSE -(((n_old - n_new) * 10000) // n_old) END
        |    AS n_delta_bp,
        |  CASE WHEN users_new >= users_old
        |       THEN ((users_new - users_old) * 10000) // users_old
        |       ELSE -(((users_old - users_new) * 10000) // users_old) END
        |    AS users_delta_bp
        |FROM a ORDER BY event_type""".stripMargin))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
