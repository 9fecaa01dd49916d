package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.{Anomaly, Clusters, Dedup, Funnel, Graph, Merge, Multimodal, Sampling, Search, Similarity, Sketches, TemporalJoins, TrainingOrder}
import graft.sources.Tables

/** Round-3 analytics surface: time-series joins (as-of, banded range),
  * deterministic cardinality/frequency sketches (KMV, HLL, Count-Min),
  * int8-quantized ANN, and the composed corpus-curation pipeline. Every
  * query is DuckDB-oracle-checkable: sketch hashes are md5-derived (the
  * engines share no other 64-bit hash), float math is widened to double
  * on both sides, and integer arithmetic (HLL harmonic sum, int8 dot
  * products) is exact by construction.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  /** Shared md5-60 oracle contract (single copy in ExtensionQueries). */
  private def h60(expr: String): String = ExtensionQueries.md5Hash60Sql(expr)

  /** CTE chain replaying the BMP generator arithmetic through the aHash
    * 8×8 grid sample + mean threshold; ends with `hh(doc_id, hash_hi,
    * hash_lo)` (plus `m` for dimensions and `t` for the gray sum).
    * Shared by the `image_ahash` and `image_phash_pairs` oracles.
    */
  private val ahashCtes: String =
    """m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |           FROM documents),
      |cells AS (SELECT doc_id, w, h, (r8 * 8 + c8) AS k,
      |    3 * (((r8 * h) // 8) * w + ((c8 * w) // 8)) AS base
      |  FROM m CROSS JOIN range(0, 8) rr(r8) CROSS JOIN range(0, 8) cc(c8)),
      |g AS (SELECT doc_id, w, h, k,
      |    ((doc_id*31 + base*7) % 256 + (doc_id*31 + (base+1)*7) % 256
      |      + (doc_id*31 + (base+2)*7) % 256)::BIGINT AS gray
      |  FROM cells),
      |t AS (SELECT doc_id, sum(gray)::BIGINT AS s FROM g GROUP BY 1),
      |bits AS (SELECT g.doc_id, g.k,
      |    CASE WHEN 64 * g.gray > t.s THEN 1::BIGINT ELSE 0::BIGINT END AS b
      |  FROM g JOIN t ON g.doc_id = t.doc_id),
      |hh AS (SELECT doc_id,
      |    sum(CASE WHEN k >= 32 THEN b << (k - 32) ELSE 0 END)::BIGINT
      |      AS hash_hi,
      |    sum(CASE WHEN k < 32 THEN b << k ELSE 0 END)::BIGINT AS hash_lo
      |  FROM bits GROUP BY 1)""".stripMargin

  lazy val registry: Registry = Registry(
    // As-of join: each click picks up the most recent view at-or-before
    // it for the same user — one shuffle + one sort, no theta join.
    "asof_join" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      // Right side unique per (user, ts): max event_id wins, so the
      // as-of tie rule is exercised but deterministic.
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max("event_id").as("view_id"))
        .select("user_id", "view_ts", "view_id")
      TemporalJoins.asofJoin(clicks, views, Seq("user_id"), "ts", "view_ts",
          rightTie = Some("view_id"))
        .select(col("click_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("view_id"),
          unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy("click_id")
    },
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events),
        |clicks AS (SELECT event_id AS click_id, user_id, ts FROM ev
        |           WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_id
        |          FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, ts AS uts, 1 AS side, click_id,
        |    NULL::BIGINT AS view_id, NULL::TIMESTAMP AS view_ts FROM clicks
        |  UNION ALL
        |  SELECT user_id, view_ts, 0, NULL, view_id, view_ts FROM views),
        |c AS (SELECT user_id, uts, side, click_id,
        |  last_value(view_id IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY uts, side, coalesce(view_id, 0)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id,
        |  last_value(view_ts IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY uts, side, coalesce(view_id, 0)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts
        |  FROM u)
        |SELECT click_id, user_id, epoch_us(uts) AS ts_us, view_id,
        |  epoch_us(view_ts) AS view_ts_us
        |FROM c WHERE side = 1 ORDER BY click_id""".stripMargin),

    // Banded range join: clicks falling inside any [error, error+30min]
    // window of the same user — equality join on (user, time bucket).
    "range_join" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("err_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("err_end"))
      TemporalJoins.rangeJoin(clicks, errors, Seq("user_id"),
          "ts", "err_start", "err_end", bucketWidthUs = 30L * 60 * 1000000)
        .select("click_id", "error_id", "user_id")
        .orderBy("click_id", "error_id")
    },
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events)
        |SELECT c.event_id AS click_id, e.event_id AS error_id, c.user_id
        |FROM ev c JOIN ev e ON c.user_id = e.user_id
        |WHERE c.event_type = 'click' AND e.event_type = 'error'
        |  AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, error_id""".stripMargin),

    // KMV distinct-count sketch over order keys (k smallest hashes).
    "sketch_kmv_distinct" -> Query((s, dir) =>
      Sketches.kmvDistinct(t(s, dir, "lineitem"), "l_orderkey", k = 64),
      s"""WITH h AS (SELECT DISTINCT ${h60("l_orderkey::VARCHAR")} AS h
         |           FROM lineitem),
         |k AS (SELECT h FROM h ORDER BY h LIMIT 64),
         |a AS (SELECT count(*) AS n_in_k, max(h) AS h_k FROM k),
         |e AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem)
         |SELECT 64 AS k, n_exact,
         |  CASE WHEN n_in_k < 64 THEN n_in_k::DOUBLE
         |       ELSE round(63.0 / ((h_k + 1)::DOUBLE / 1152921504606846976.0), 4)
         |  END AS kmv_est
         |FROM e, a""".stripMargin),

    // HyperLogLog distinct-count sketch (64 registers, exact-integer
    // harmonic sum — the whole register table replays in the oracle).
    "sketch_hll_distinct" -> Query((s, dir) =>
      Sketches.hllDistinct(t(s, dir, "lineitem"), "l_orderkey", m = 64),
      {
      // The numerator constant is computed ONCE in Scala and replayed as
      // a literal — Double.toString round-trips exactly.
      val num = java.lang.Double.toString(Sketches.hllNumerator(64))
      s"""WITH h AS (SELECT ${h60("l_orderkey::VARCHAR")} AS h FROM lineitem),
         |b AS (SELECT h % 64 AS bucket, h >> 6 AS w FROM h),
         |r AS (SELECT bucket, max(CASE WHEN w = 0 THEN 55
         |        ELSE 55 - length(printf('%b', w)) END) AS r
         |      FROM b GROUP BY bucket),
         |s AS (SELECT sum(1::BIGINT << (55 - r)) AS s, count(*) AS nregs FROM r),
         |t AS (SELECT s + (64 - nregs) * (1::BIGINT << 55) AS harm FROM s),
         |e AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem)
         |SELECT 64 AS m, n_exact, round($num / harm::DOUBLE, 3) AS hll_est
         |FROM e, t""".stripMargin
    }),

    // Histogram quantile sketch over prices: fixed 256-bin grid, exact
    // integer counts, linear interpolation — deterministic where
    // rank-error sketches are merge-order-dependent.
    "sketch_quantile" -> Query((s, dir) =>
      Sketches.histogramQuantiles(t(s, dir, "lineitem"), "l_extendedprice"),
      """WITH s AS (SELECT min(l_extendedprice)::DOUBLE AS mn,
        |    max(l_extendedprice)::DOUBLE AS mx,
        |    count(l_extendedprice) AS n FROM lineitem),
        |b AS (SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(floor((l_extendedprice::DOUBLE - mn) /
        |      ((mx - mn) / 256.0)), 255) END::INT AS bin
        |  FROM lineitem, s WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
        |cc AS (SELECT bin, cnt,
        |    sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c),
        |qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q),
        |pick AS (SELECT q, min(bin) AS bin FROM qs, s, cc
        |         WHERE cum >= q * n GROUP BY q)
        |SELECT q, n, round(CASE WHEN mx = mn THEN mn
        |    ELSE mn + ((mx - mn) / 256.0) *
        |      (cc.bin + (q * n - (cum - cnt)) / cnt) END, 4) AS est
        |FROM pick JOIN cc ON pick.bin = cc.bin, s
        |ORDER BY q""".stripMargin),

    // Per-group quantile sketch: the same fixed-grid histogram, keyed
    // by event type — per-group stats broadcast back onto one scan.
    "sketch_quantile_by_group" -> Query((s, dir) =>
      Sketches.histogramQuantilesByGroup(t(s, dir, "events"),
        "event_type", "value", bins = 64, qs = Seq(0.5, 0.9, 0.99)),
      """WITH s AS (SELECT event_type AS g, min(value)::DOUBLE AS mn,
        |    max(value)::DOUBLE AS mx, count(value) AS n
        |  FROM events GROUP BY 1),
        |b AS (SELECT e.event_type AS g, CASE WHEN mx = mn THEN 0
        |    ELSE least(floor((value::DOUBLE - mn) / ((mx - mn) / 64.0)), 63)
        |    END::INT AS bin
        |  FROM events e JOIN s ON e.event_type = s.g
        |  WHERE value IS NOT NULL),
        |c AS (SELECT g, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |cc AS (SELECT g, bin, cnt, sum(cnt) OVER (
        |    PARTITION BY g ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
        |pick AS (SELECT cc.g, q, min(bin) AS bin
        |  FROM qs CROSS JOIN cc JOIN s ON cc.g = s.g
        |  WHERE cum >= q * n GROUP BY 1, 2)
        |SELECT pick.g AS event_type, q, n, round(CASE WHEN mx = mn THEN mn
        |    ELSE mn + ((mx - mn) / 64.0) *
        |      (cc.bin + (q * n - (cum - cnt)) / cnt) END, 4) AS est
        |FROM pick
        |JOIN cc ON pick.g = cc.g AND pick.bin = cc.bin
        |JOIN s ON pick.g = s.g
        |ORDER BY event_type, q""".stripMargin),

    // Count-Min frequency sketch over suppliers; point estimates vs
    // true counts for the first 20 keys.
    "sketch_cms_freq" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sketch = Sketches.cmsSketch(li, "l_suppkey", depth = 4, width = 256)
      val keys = li.where(col("l_suppkey") <= 20).select("l_suppkey").distinct()
      val est = Sketches.cmsEstimate(sketch, keys, "l_suppkey",
        depth = 4, width = 256)
      val exact = li.where(col("l_suppkey") <= 20)
        .groupBy("l_suppkey").agg(count(lit(1)).as("true_cnt"))
      est.join(exact, Seq("l_suppkey"))
        .select("l_suppkey", "cms_est", "true_cnt")
        .orderBy("l_suppkey")
    },
      s"""WITH hh AS (SELECT ${h60("l_suppkey::VARCHAR")} AS h,
         |    l_suppkey FROM lineitem),
         |ex AS (SELECT d, (h % 1073741824 + d * (h >> 30)) % 256 AS b
         |       FROM hh CROSS JOIN range(0, 4) r(d)),
         |sk AS (SELECT d, b, count(*) AS cnt FROM ex GROUP BY 1, 2),
         |qk AS (SELECT DISTINCT ${h60("l_suppkey::VARCHAR")} AS h, l_suppkey
         |       FROM lineitem WHERE l_suppkey <= 20),
         |probes AS (SELECT l_suppkey, d,
         |    (h % 1073741824 + d * (h >> 30)) % 256 AS b
         |  FROM qk CROSS JOIN range(0, 4) r(d)),
         |est AS (SELECT l_suppkey, min(coalesce(cnt, 0)) AS cms_est
         |        FROM probes LEFT JOIN sk USING (d, b) GROUP BY 1),
         |tc AS (SELECT l_suppkey, count(*) AS true_cnt FROM lineitem
         |       WHERE l_suppkey <= 20 GROUP BY 1)
         |SELECT l_suppkey, cms_est, true_cnt FROM est JOIN tc USING (l_suppkey)
         |ORDER BY l_suppkey""".stripMargin),

    // Per-label embedding centroids (mean pooling) with fixed-point
    // sums: integer addition is order-free, so the distributed result
    // is bit-identical to the oracle's.
    "embedding_centroid" -> Query((s, dir) =>
      Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "pos"),
      """WITH e AS (SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |f AS (SELECT label, pos, floor(x * 1048576.0)::BIGINT AS fx FROM e),
        |g AS (SELECT label, pos, sum(fx) AS s, count(*) AS n
        |      FROM f GROUP BY 1, 2)
        |SELECT label, pos, round((s::DOUBLE / n) / 1048576.0, 6) AS c, n
        |FROM g ORDER BY label, pos""".stripMargin),

    // ANN top-k over int8-quantized codes: integer dot products, exact
    // in every engine — the 4×-smaller storage path for 100 TB ANN.
    "sim_topk_int8" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.int8TopK(e, e.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |qz AS (SELECT vec_id,
        |  CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |       ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS q
        |  FROM sc),
        |scored AS (SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(list_sum(list_transform(range(1, len(a.q) + 1),
        |    i -> a.q[i] * c.q[i])) AS BIGINT) AS qdot
        |  FROM qz a JOIN qz c ON a.vec_id != c.vec_id
        |  WHERE a.vec_id < 10)
        |SELECT query_id, neighbor_id, qdot, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rank
        |  FROM scored) r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Bloom-filter incremental dedup: the seen half (even event_ids)
    // summarizes to 4096 bits; probing the incoming half classifies
    // each key maybe-seen / definitely-new with zero false negatives —
    // the broadcast-scale form of the reference's in-RAM snapshot set.
    "bloom_incremental_dedup" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("key", concat_ws("_", col("user_id"), col("event_type")))
      val snapshot = ev.where(pmod(col("event_id"), lit(2)) === 0)
      val incoming = ev.where(pmod(col("event_id"), lit(2)) === 1)
      val bloom = graft.operators.Bloom.build(snapshot, "key", m = 4096, k = 3)
      val probed = graft.operators.Bloom.probe(incoming, "key", bloom,
        m = 4096, k = 3)
      val truly = snapshot.select("key").distinct()
        .withColumn("truly_seen", lit(true))
      probed.join(truly, Seq("key"), "left")
        .select(col("key"), col("maybe_seen"),
          coalesce(col("truly_seen"), lit(false)).as("truly_seen"))
        .orderBy("key")
    },
      s"""WITH ev AS (SELECT user_id || '_' || event_type AS key, event_id
         |            FROM events),
         |snap AS (SELECT DISTINCT key FROM ev WHERE event_id % 2 = 0),
         |inc AS (SELECT DISTINCT key FROM ev WHERE event_id % 2 = 1),
         |spos AS (SELECT DISTINCT (h % 1073741824 + i * (h >> 30)) % 4096 AS pos
         |  FROM (SELECT ${h60("key")} AS h FROM snap) s
         |  CROSS JOIN range(0, 3) r(i)),
         |ipos AS (SELECT key, (h % 1073741824 + i * (h >> 30)) % 4096 AS pos
         |  FROM (SELECT key, ${h60("key")} AS h FROM inc) q
         |  CROSS JOIN range(0, 3) r(i)),
         |probe AS (SELECT key,
         |    min(CASE WHEN sp.pos IS NOT NULL THEN 1 ELSE 0 END) = 1
         |      AS maybe_seen
         |  FROM ipos LEFT JOIN spos sp ON ipos.pos = sp.pos GROUP BY key)
         |SELECT p.key, p.maybe_seen, (s.key IS NOT NULL) AS truly_seen
         |FROM probe p LEFT JOIN snap s ON p.key = s.key
         |ORDER BY p.key""".stripMargin),

    // Contrastive hard-negative mining: per query, the k most
    // cosine-similar vectors with a DIFFERENT label (in-batch negatives
    // for embedding-model training).
    "sim_hard_negatives" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.where(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id", "rank")
    },
      {
      val cos = ExtensionQueries.cosineSql("q.v", "c.v")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS q_label,
         |    c.vec_id AS neighbor_id, c.label AS n_label,
         |    round($cos, 6) AS cos
         |  FROM q JOIN e c ON q.vec_id != c.vec_id AND q.label != c.label)
         |SELECT query_id, q_label, neighbor_id, n_label, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // Fixed-point integer PageRank over the supplier co-purchase graph
    // (suppliers sharing an order, both directions). Integer arithmetic
    // makes the distributed result bit-identical to the oracle's serial
    // replay regardless of partitioning.
    "graph_pagerank" -> Query((s, dir) => {
      val li = tc(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
        .where(col("src") =!= col("dst"))
        .select("src", "dst")
      Graph.pageRankInt(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    },
      // Serial replay of the exact integer recurrence, 3 unrolled
      // iterations; '//' (DuckDB floor-div) == Spark 'div' because every
      // operand is non-negative.
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |            FROM lineitem),
        |edges AS (SELECT DISTINCT a.sk AS src, b.sk AS dst
        |          FROM li a JOIN li b ON a.ok = b.ok AND a.sk != b.sk),
        |nodes AS (SELECT src AS node FROM edges
        |          UNION SELECT dst FROM edges),
        |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
        |outdeg AS (SELECT src, count(*)::BIGINT AS deg FROM edges
        |           GROUP BY src),
        |base AS (SELECT ((15000000000000 // 100) // n)::BIGINT AS base_fp
        |         FROM nn),
        |r0 AS (SELECT node, (1000000000000 // n)::BIGINT AS r
        |       FROM nodes, nn),
        |s1 AS (SELECT d.src, (r.r // d.deg)::BIGINT AS c
        |       FROM r0 r JOIN outdeg d ON r.node = d.src),
        |i1 AS (SELECT e.dst, sum(c)::BIGINT AS infl
        |       FROM edges e JOIN s1 USING (src) GROUP BY e.dst),
        |r1 AS (SELECT n2.node,
        |    (b.base_fp + ((85 * coalesce(i.infl, 0)) // 100))::BIGINT AS r
        |  FROM nodes n2 LEFT JOIN i1 i ON n2.node = i.dst
        |  CROSS JOIN base b),
        |s2 AS (SELECT d.src, (r.r // d.deg)::BIGINT AS c
        |       FROM r1 r JOIN outdeg d ON r.node = d.src),
        |i2 AS (SELECT e.dst, sum(c)::BIGINT AS infl
        |       FROM edges e JOIN s2 USING (src) GROUP BY e.dst),
        |r2 AS (SELECT n2.node,
        |    (b.base_fp + ((85 * coalesce(i.infl, 0)) // 100))::BIGINT AS r
        |  FROM nodes n2 LEFT JOIN i2 i ON n2.node = i.dst
        |  CROSS JOIN base b),
        |s3 AS (SELECT d.src, (r.r // d.deg)::BIGINT AS c
        |       FROM r2 r JOIN outdeg d ON r.node = d.src),
        |i3 AS (SELECT e.dst, sum(c)::BIGINT AS infl
        |       FROM edges e JOIN s3 USING (src) GROUP BY e.dst),
        |r3 AS (SELECT n2.node,
        |    (b.base_fp + ((85 * coalesce(i.infl, 0)) // 100))::BIGINT AS r
        |  FROM nodes n2 LEFT JOIN i3 i ON n2.node = i.dst
        |  CROSS JOIN base b)
        |SELECT node, r AS rank_fp FROM r3 ORDER BY node""".stripMargin),

    // Per-doc top-3 keywords by rational tf·idf (exact integers).
    "tfidf_topterms" -> Query((s, dir) =>
      Search.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank"),
      {
      val toks = ExtensionQueries.toksSql
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |       FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf, df,
         |    (tf * ((n_docs * 1048576) // df))::BIGINT AS score_fp
         |  FROM tf JOIN dfq USING (term), nn)
         |SELECT doc_id, term, tf, df, score_fp, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score_fp DESC, term) AS rank
         |  FROM sc) r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    }),

    // Perceptual average-hash over REAL decoded BMP pixels (8×8 integer
    // grid sample, mean threshold) — near-dup image detection whose
    // whole decode→hash path the oracle replays from the generator.
    "image_ahash" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoPixelCorpus(s, t(s, dir, "documents"))
      Multimodal.ahash(s,
          Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the pixel generator arithmetic through the 8×8 grid
      // sample + mean threshold — the Spark side must get there by
      // decoding its own BMP bytes through the real row geometry.
      s"""WITH $ahashCtes
        |SELECT m.doc_id AS media_id, m.w::BIGINT AS width,
        |  m.h::BIGINT AS height, t.s AS gray_sum, hash_hi, hash_lo
        |FROM m JOIN t ON m.doc_id = t.doc_id
        |JOIN hh ON m.doc_id = hh.doc_id
        |ORDER BY media_id""".stripMargin),

    // Quality-aware dedup: same clusters as dedup_clusters, but the
    // keeper is the cluster's argmax quality (struct-max agg, no window
    // sort) — "keep the best copy".
    "dedup_quality_keeper" -> Query((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b")
      val universe = tc(s, dir, "documents").select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
      Clusters.keepBestPerCluster(universe, "doc_id", pairs, col("quality"))
        .orderBy("doc_id")
    },
      {
      import ExtensionQueries.{alphaRatioSql, hitsSql, punctRatioSql,
        qualitySql, toksSql}
      s"""WITH RECURSIVE ${ExtensionQueries.fastPairsCte(3, 0.5)},
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS id, least(a, min(b)) AS cluster_id
         |         FROM reach GROUP BY a),
         |s AS (SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  ${hitsSql("en")} AS sw,
         |  $punctRatioSql AS punct,
         |  $alphaRatioSql AS alpha
         |FROM documents),
         |q AS (SELECT doc_id, ${qualitySql()} AS score FROM s),
         |j AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |    q.score
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |  JOIN q ON q.doc_id = d.doc_id),
         |b AS (SELECT cluster_id, doc_id AS keep_id FROM (
         |    SELECT cluster_id, doc_id, row_number() OVER (
         |      PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn
         |    FROM j) r WHERE rn = 1)
         |SELECT j.doc_id, j.cluster_id, j.score,
         |  (j.doc_id = b.keep_id) AS is_keeper
         |FROM j JOIN b USING (cluster_id) ORDER BY j.doc_id""".stripMargin
    }),

    // Temperature-scaled (α=0.5) multilingual sampling: budget shares
    // ∝ √n_lang in exact fixed-point integers.
    "sample_temperature" -> Query((s, dir) =>
      Sampling.temperatureSample(
          t(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", totalBudget = 300L, seed = "r3")
        .select("doc_id", "lang", "n_g", "alloc")
        .orderBy("doc_id"),
      s"""WITH c AS (SELECT lang, count(*)::BIGINT AS n_g FROM documents
         |           GROUP BY 1),
         |w AS (SELECT lang, n_g,
         |    floor(sqrt(n_g::DOUBLE) * 1048576)::BIGINT AS w_fp FROM c),
         |t AS (SELECT sum(w_fp)::BIGINT AS sum_w FROM w),
         |a AS (SELECT lang, n_g,
         |    least((300 * w_fp) // sum_w, n_g)::BIGINT AS alloc FROM w, t),
         |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${h60("'r3' || doc_id::VARCHAR")}, doc_id) AS rn
         |  FROM documents)
         |SELECT r.doc_id, r.lang, a.n_g, a.alloc FROM r JOIN a USING (lang)
         |WHERE rn <= alloc ORDER BY doc_id""".stripMargin),

    // Stratified resampling toward a uniform language mix: broadcast
    // per-group acceptance probabilities, a 52-bit hash threshold as
    // one narrow filter — no corpus shuffle. Reported per group.
    "sample_resample_target" -> Query((s, dir) => {
      val d = t(s, dir, "documents")
      val kept = Sampling.resampleToTarget(d, "lang", "doc_id", "rs42")
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    },
      s"""WITH c AS (SELECT lang AS g, count(*)::BIGINT AS ng FROM documents
         |           GROUP BY 1),
         |tt AS (SELECT CAST(sum(ng) AS BIGINT) AS n, count(*)::BIGINT
         |       AS ngroups FROM c),
         |p AS (SELECT g, least(1.0, (1.0 / ngroups) * n / ng) AS p
         |      FROM c, tt),
         |k AS (SELECT d.lang, count(*)::BIGINT AS n_kept
         |  FROM documents d JOIN p ON d.lang = p.g
         |  WHERE ((${h60("'rs42_' || doc_id::VARCHAR")} >> 8)::DOUBLE)
         |    < p * 4503599627370496.0
         |  GROUP BY 1)
         |SELECT c.g AS lang, c.ng AS n_docs,
         |  coalesce(k.n_kept, 0)::BIGINT AS n_kept
         |FROM c LEFT JOIN k ON c.g = k.lang ORDER BY lang""".stripMargin),

    // Embedding-space outliers: cosine of each vector to its own label
    // centroid, exact fixed-point arithmetic; flags the far tail.
    "embed_outlier" -> Query((s, dir) =>
      Similarity.centroidCosine(t(s, dir, "embeddings"), "label",
          "vec_id", "embedding")
        .withColumnRenamed("id", "vec_id")
        .withColumn("is_outlier", col("cos_centroid") < lit(-0.05))
        .orderBy("vec_id"),
      """WITH f AS (SELECT vec_id, label,
        |    list_transform(embedding::DOUBLE[],
        |      x -> floor(x * 65536.0)::BIGINT) AS fv
        |  FROM embeddings),
        |ex AS (SELECT label, unnest(fv) AS x,
        |    generate_subscripts(fv, 1) AS pos FROM f),
        |c AS (SELECT label, pos, CAST(sum(x) AS BIGINT) AS s
        |      FROM ex GROUP BY 1, 2),
        |ca AS (SELECT label, list(s ORDER BY pos) AS cv,
        |    CAST(sum(s * s) AS BIGINT) AS nb FROM c GROUP BY 1),
        |sc AS (SELECT vec_id, f.label,
        |    CAST(list_sum(list_transform(range(1, len(fv) + 1),
        |      i -> fv[i] * cv[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(fv, x -> x * x)) AS BIGINT) AS na,
        |    nb
        |  FROM f JOIN ca ON f.label = ca.label),
        |r AS (SELECT vec_id, label,
        |    CASE WHEN na > 0 AND nb > 0 THEN
        |      round(dot / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6)
        |    END AS cos_centroid
        |  FROM sc)
        |SELECT vec_id, label, cos_centroid,
        |  cos_centroid < -0.05 AS is_outlier
        |FROM r ORDER BY vec_id""".stripMargin),

    // Bitext-style mutual-top-1 mining between two embedding groups.
    "bitext_mutual_top1" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.mutualTop1(e.where(col("label") === 0),
          e.where(col("label") === 1), "vec_id", "embedding")
        .orderBy("id_a")
    },
      {
      val cos = ExtensionQueries.cosineSql("a.v", "b.v")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |sab AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round($cos, 6) AS cos
         |  FROM (SELECT vec_id, v FROM e WHERE label = 0) a
         |  CROSS JOIN (SELECT vec_id, v FROM e WHERE label = 1) b),
         |ab AS (SELECT id_a, id_b, cos FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn FROM sab) r
         |  WHERE rn = 1),
         |ba AS (SELECT id_a, id_b FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY id_b ORDER BY cos DESC, id_a) AS rn FROM sab) r
         |  WHERE rn = 1)
         |SELECT ab.id_a, ab.id_b, ab.cos FROM ab
         |JOIN ba USING (id_a, id_b) ORDER BY id_a""".stripMargin
    }),

    // Snapshot diff (CDC classify) on the reference's value-sorted MD5
    // row hash: insert / delete / update between two table versions.
    "table_diff" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val oldV = o.where(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 5 === 0, lit("9-SYNTH"))
            .otherwise(col("o_orderpriority")))
      val newV = o.where(col("o_orderkey") % 11 =!= 0)
      Merge.snapshotDiff(oldV, newV, Seq("o_orderkey"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("o_orderkey")
    },
      {
      def h(prio: String): String =
        "md5(array_to_string(list_sort([lower(CAST(o_custkey AS VARCHAR)), " +
          s"lower(o_orderstatus), lower($prio)]), ''))"
      s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
         |             o_orderpriority FROM orders),
         |oldv AS (SELECT o_orderkey,
         |    ${h("CASE WHEN o_orderkey % 5 = 0 THEN '9-SYNTH' ELSE o_orderpriority END")} AS h
         |  FROM o WHERE o_orderkey % 7 != 0),
         |newv AS (SELECT o_orderkey, ${h("o_orderpriority")} AS h
         |  FROM o WHERE o_orderkey % 11 != 0)
         |SELECT coalesce(oldv.o_orderkey, newv.o_orderkey) AS o_orderkey,
         |  CASE WHEN oldv.o_orderkey IS NULL THEN 'insert'
         |       WHEN newv.o_orderkey IS NULL THEN 'delete'
         |       WHEN oldv.h != newv.h THEN 'update' END AS change_type
         |FROM oldv FULL JOIN newv ON oldv.o_orderkey = newv.o_orderkey
         |WHERE (CASE WHEN oldv.o_orderkey IS NULL THEN 'insert'
         |       WHEN newv.o_orderkey IS NULL THEN 'delete'
         |       WHEN oldv.h != newv.h THEN 'update' END) IS NOT NULL
         |ORDER BY o_orderkey""".stripMargin
    }),

    // Clickstream path mining: gap-sessionized event-type journeys,
    // top-20 by session count.
    "session_paths" -> Query((s, dir) =>
      Funnel.sessionPaths(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type", gapSec = 1800L, k = 20)
        .orderBy(col("n_sessions").desc, col("path")),
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |lagged AS (SELECT *, lag(us) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        |flagged AS (SELECT *, CASE WHEN prev IS NULL
        |    OR us - prev > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
        |  FROM lagged),
        |sess AS (SELECT *, CAST(sum(is_new) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM flagged),
        |p AS (SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
        |  FROM sess GROUP BY 1, 2),
        |c AS (SELECT path, count(*)::BIGINT AS n_sessions FROM p GROUP BY 1)
        |SELECT path, n_sessions FROM c
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    // Near-duplicate images: Hamming ≤ 3 pairs over the perceptual
    // average-hash, pigeonhole chunk join (no all-pairs product).
    "image_phash_pairs" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoPixelCorpus(s, t(s, dir, "documents"))
      val hashes = Multimodal.ahash(s,
        Multimodal.shapeForDecode(corpus.toDF(), 32)
          .as[Multimodal.MediaFile]).toDF()
      Multimodal.ahashNearDups(hashes, "media_id", maxDist = 3)
        .orderBy("id_a", "id_b")
    },
      // Exhaustive-pair replay of the pigeonhole-joined Spark plan: every
      // hash pair within Hamming 3, straight off the generator-replayed
      // hashes.
      s"""WITH $ahashCtes,
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    (bit_count(xor(a.hash_hi, b.hash_hi))
        |      + bit_count(xor(a.hash_lo, b.hash_lo)))::INT AS hamming
        |  FROM hh a JOIN hh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),

    // HITS hubs/authorities on the customer→supplier purchase graph
    // (bipartite: customers are hubs, suppliers authorities), exact
    // integer sweeps with max-normalization.
    "graph_hits" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey"))
      // Disjoint LONG node ids (even = customer 2k, odd = supplier 2k+1)
      // instead of "c…"/"s…" strings: the id crosses 4 sweep joins + 4
      // aggregations, and an 8-byte fixed key shuffles/compares far
      // cheaper than a var-length UTF8 one at any scale. The bijection
      // preserves the edge multiset, so the exact-integer scores are
      // bit-identical; ids stringify only at the output boundary.
      val edges = o.join(li, "ok")
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.hitsInt(edges, "src", "dst", iterations = 2)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("c"), expr("node div 2").cast("string")))
            .otherwise(concat(lit("s"), expr("node div 2").cast("string")))
            .as("node"),
          col("auth_fp"), col("hub_fp"))
        .orderBy("node")
    },
      // Two unrolled HITS sweeps in exact integers; '//' == Spark 'div'
      // (all operands non-negative).
      """WITH edges AS (SELECT DISTINCT 'c' || o_custkey AS src,
        |    's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS node FROM edges
        |          UNION SELECT dst FROM edges),
        |h0 AS (SELECT node, 1000000::BIGINT AS h FROM nodes),
        |a1r AS (SELECT n.node, coalesce(x.a_raw, 0)::BIGINT AS a
        |  FROM nodes n LEFT JOIN (SELECT e.dst, sum(h.h)::BIGINT AS a_raw
        |    FROM edges e JOIN h0 h ON e.src = h.node GROUP BY e.dst) x
        |  ON n.node = x.dst),
        |ma1 AS (SELECT max(a)::BIGINT AS mx FROM a1r),
        |a1 AS (SELECT node, ((a * 1000000) // mx)::BIGINT AS a FROM a1r, ma1),
        |h1r AS (SELECT n.node, coalesce(x.h_raw, 0)::BIGINT AS h
        |  FROM nodes n LEFT JOIN (SELECT e.src, sum(a1.a)::BIGINT AS h_raw
        |    FROM edges e JOIN a1 ON e.dst = a1.node GROUP BY e.src) x
        |  ON n.node = x.src),
        |mh1 AS (SELECT max(h)::BIGINT AS mx FROM h1r),
        |h1 AS (SELECT node, ((h * 1000000) // mx)::BIGINT AS h FROM h1r, mh1),
        |a2r AS (SELECT n.node, coalesce(x.a_raw, 0)::BIGINT AS a
        |  FROM nodes n LEFT JOIN (SELECT e.dst, sum(h1.h)::BIGINT AS a_raw
        |    FROM edges e JOIN h1 ON e.src = h1.node GROUP BY e.dst) x
        |  ON n.node = x.dst),
        |ma2 AS (SELECT max(a)::BIGINT AS mx FROM a2r),
        |a2 AS (SELECT node, ((a * 1000000) // mx)::BIGINT AS a FROM a2r, ma2),
        |h2r AS (SELECT n.node, coalesce(x.h_raw, 0)::BIGINT AS h
        |  FROM nodes n LEFT JOIN (SELECT e.src, sum(a2.a)::BIGINT AS h_raw
        |    FROM edges e JOIN a2 ON e.dst = a2.node GROUP BY e.src) x
        |  ON n.node = x.src),
        |mh2 AS (SELECT max(h)::BIGINT AS mx FROM h2r),
        |h2 AS (SELECT node, ((h * 1000000) // mx)::BIGINT AS h FROM h2r, mh2)
        |SELECT a2.node, a2.a AS auth_fp, h2.h AS hub_fp
        |FROM a2 JOIN h2 USING (node) ORDER BY node""".stripMargin),

    // Join-cardinality estimation via CMS inner products (never
    // under-counts), next to the exact count for calibration.
    "sketch_join_card" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val est = Sketches.cmsJoinCardinality(li, "l_orderkey",
        o, "o_orderkey")
      val truth = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("true_card"))
      est.crossJoin(truth)
    },
      s"""WITH ha AS (SELECT ${h60("l_orderkey::VARCHAR")} AS h FROM lineitem),
         |ea AS (SELECT d, (h % 1073741824 + d * (h >> 30)) % 256 AS b
         |       FROM ha CROSS JOIN range(0, 4) r(d)),
         |sa AS (SELECT d, b, count(*)::BIGINT AS ca FROM ea GROUP BY 1, 2),
         |hb AS (SELECT ${h60("o_orderkey::VARCHAR")} AS h FROM orders),
         |eb AS (SELECT d, (h % 1073741824 + d * (h >> 30)) % 256 AS b
         |       FROM hb CROSS JOIN range(0, 4) r(d)),
         |sb AS (SELECT d, b, count(*)::BIGINT AS cb FROM eb GROUP BY 1, 2),
         |dots AS (SELECT sa.d, sum(ca * cb)::BIGINT AS dot
         |  FROM sa JOIN sb ON sa.d = sb.d AND sa.b = sb.b GROUP BY 1),
         |e AS (SELECT min(dot)::BIGINT AS join_card_est FROM dots),
         |tc AS (SELECT count(*)::BIGINT AS true_card
         |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         |SELECT join_card_est, true_card FROM e, tc""".stripMargin),

    // Cumulative-deviation drift point per user (V-mask CUSUM): the
    // event where the running value sum strays furthest from the mean
    // trend.
    "anomaly_cusum" -> Query((s, dir) =>
      Anomaly.cusumDrift(t(s, dir, "events"), "value", "ts",
          "event_id", Seq("user_id"))
        .orderBy("user_id"),
      """WITH e AS (SELECT user_id, event_id,
        |    round(value * 100)::BIGINT AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |st AS (SELECT user_id, count(*)::BIGINT AS n, sum(v)::BIGINT AS s
        |       FROM e GROUP BY 1),
        |pre AS (SELECT user_id, event_id, us,
        |    sum(v) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS p,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id)::BIGINT AS i FROM e),
        |sc AS (SELECT pre.user_id, event_id,
        |    (n * p - i * s)::BIGINT AS raw, n
        |  FROM pre JOIN st USING (user_id)),
        |b AS (SELECT user_id, event_id AS at_event, raw, n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY abs(raw) DESC, event_id) AS rn FROM sc) r
        |  WHERE rn = 1)
        |SELECT user_id, at_event,
        |  round(raw::DOUBLE / (n * 100)::DOUBLE, 6) AS drift
        |FROM b ORDER BY user_id""".stripMargin),

    // Hybrid retrieval: BM25 lexical top-10 fused with cosine dense
    // top-10 by reciprocal-rank fusion (rank-only, calibration-free).
    "search_hybrid_rrf" -> Query((s, dir) => {
      import s.implicits._
      val lexical = Search.bm25TopK(t(s, dir, "documents"), "doc_id",
          "text", PipelineQueries.bm25Terms.toDF("query_id", "term"), k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = t(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(e,
          e.where(col("vec_id") <= 2), "vec_id", "embedding", k = 10)
        .select(col("query_id").cast("int").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      Search.rrfFuse(Seq(lexical, dense), "query_id", "doc_id", k = 10)
        .orderBy("query_id", "rank")
    },
      {
      val cos = ExtensionQueries.cosineSql("q.v", "c.v")
      s"""WITH ${PipelineQueries.bm25RankedCte},
         |lex AS (SELECT query_id, doc_id, rank FROM ranked
         |        WHERE rank <= 10),
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qv AS (SELECT vec_id, v FROM ev WHERE vec_id <= 2),
         |dsc AS (SELECT q.vec_id AS qid, c.vec_id AS doc_id,
         |    round($cos, 6) AS cos
         |  FROM qv q JOIN ev c ON q.vec_id != c.vec_id),
         |den AS (SELECT qid::INT AS query_id, doc_id, rank FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
         |    FROM dsc) r
         |  WHERE rank <= 10),
         |u AS (SELECT * FROM lex UNION ALL SELECT * FROM den),
         |f AS (SELECT query_id, doc_id,
         |    sum(1000000::BIGINT // (60 + rank))::BIGINT AS rrf_fp
         |  FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, rrf_fp, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf_fp DESC, doc_id) AS rank
         |  FROM f) r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }),

    // Multi-source BFS: hop distance from part-1's suppliers over the
    // supplier co-purchase graph (TrustRank-style seed proximity).
    "graph_bfs_depth" -> Query((s, dir) => {
      val li = tc(s, dir, "lineitem")
      val pairs = li.select(col("l_orderkey").as("ok"),
        col("l_suppkey").as("sk")).distinct()
      val edges = pairs.toDF("ok", "src").join(pairs.toDF("ok", "dst"), "ok")
        .where(col("src") =!= col("dst")).select("src", "dst")
      val seeds = li.where(col("l_partkey") === 1)
        .select(col("l_suppkey").as("node")).distinct()
      Graph.bfsDepth(edges, "src", "dst", seeds, "node", maxDepth = 3)
        .orderBy("node")
    },
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |            FROM lineitem),
        |edges AS (SELECT DISTINCT a.sk AS src, b.sk AS dst
        |          FROM li a JOIN li b ON a.ok = b.ok AND a.sk != b.sk),
        |d0 AS (SELECT DISTINCT l_suppkey AS node, 0::BIGINT AS depth
        |       FROM lineitem WHERE l_partkey = 1),
        |n1 AS (SELECT e.dst AS node, 1::BIGINT AS depth
        |       FROM edges e JOIN d0 ON e.src = d0.node),
        |d1 AS (SELECT node, min(depth)::BIGINT AS depth FROM (
        |    SELECT * FROM d0 UNION ALL SELECT * FROM n1) u GROUP BY 1),
        |n2 AS (SELECT e.dst AS node, 2::BIGINT AS depth
        |       FROM edges e JOIN d1 ON e.src = d1.node),
        |d2 AS (SELECT node, min(depth)::BIGINT AS depth FROM (
        |    SELECT * FROM d1 UNION ALL SELECT * FROM n2) u GROUP BY 1),
        |n3 AS (SELECT e.dst AS node, 3::BIGINT AS depth
        |       FROM edges e JOIN d2 ON e.src = d2.node),
        |d3 AS (SELECT node, min(depth)::BIGINT AS depth FROM (
        |    SELECT * FROM d2 UNION ALL SELECT * FROM n3) u GROUP BY 1)
        |SELECT node, depth FROM d3 ORDER BY node""".stripMargin),

    // The composed curation pipeline: quality + language gate → near-dup
    // cluster keepers → deterministic per-source cap. Each stage is an
    // operator checked standalone elsewhere; this query checks their
    // COMPOSITION end to end.
    "corpus_curate" -> Query((s, dir) => {
      val scored = tc(s, dir, "documents").select(
        col("doc_id"), col("text"), col("source"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"),
        TextOps.langId(col("text")).as("pred_lang"))
      // kept0 feeds BOTH the cluster pipeline (materialized inside
      // connectedComponents) and the final keeper join — persisting it
      // runs the quality/langid regex pass once instead of three times.
      // Left to LRU/session teardown like the dedup shingle caches (the
      // lazily-returned result still reads it).
      val kept0 = scored
        .where(col("pred_lang") === "en" && col("quality") >= 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keepers = Clusters.dedupClusters(
          kept0.select("doc_id", "text"), "doc_id", "text", threshold = 0.5)
        .where(col("is_keeper")).select("doc_id")
      Sampling.capPerGroup(kept0.join(keepers, "doc_id"), Seq("source"),
          "doc_id", k = 100, hashFn = TextOps.md5Hash60)
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    },
      {
      import ExtensionQueries.{alphaRatioSql, cjkRatioSql, hitsSql,
        punctRatioSql, predLangCaseSql, qualitySql, toksSql}
      s"""WITH RECURSIVE s AS (SELECT doc_id, text, source,
        |  len($toksSql) AS n_tokens,
        |  ${hitsSql("en")} AS en, ${hitsSql("es")} AS es,
        |  ${hitsSql("de")} AS de, ${hitsSql("fr")} AS fr,
        |  $punctRatioSql AS punct,
        |  $alphaRatioSql AS alpha,
        |  $cjkRatioSql AS cjk
        |FROM documents),
        |scored AS (SELECT doc_id, text, source,
        |  ${qualitySql(sw = "en")} AS quality,
        |  $predLangCaseSql AS pred_lang
        |FROM s),
        |kept0 AS (SELECT doc_id, text, source, quality FROM scored
        |          WHERE pred_lang = 'en' AND quality >= 0.5),
        |${ExtensionQueries.fastPairsCte(3, 0.5, "kept0")},
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS id, least(a, min(b)) AS cluster_id
        |         FROM reach GROUP BY a),
        |keepers AS (SELECT k.doc_id FROM kept0 k
        |            LEFT JOIN comp c ON k.doc_id = c.id
        |            WHERE coalesce(c.cluster_id, k.doc_id) = k.doc_id),
        |capped AS (SELECT k0.doc_id, k0.source, k0.quality,
        |    row_number() OVER (PARTITION BY k0.source
        |      ORDER BY ${h60("k0.doc_id::VARCHAR")}, k0.doc_id) AS rn
        |  FROM kept0 k0 JOIN keepers USING (doc_id))
        |SELECT doc_id, source, quality FROM capped
        |WHERE rn <= 100 ORDER BY doc_id""".stripMargin
    }),

    // Winnow-fingerprint collision mining: pairs of documents sharing
    // >= 3 RARE winnow minima (document frequency 2..10). Candidates
    // come only from an equality self-join on the minimum hash, and the
    // df cap bounds every join bucket at C(10,2)=45 pairs — the pair
    // space stays linear in corpus size at any scale.
    "fingerprint_collisions" -> Query((s, dir) => {
      val m = tc(s, dir, "documents").select(col("doc_id"),
        explode(graft.expressions.WinnowMinima.of(col("text"))).as("fp"))
      val rareFp = m.groupBy("fp").agg(count(lit(1)).as("df"))
        .where(col("df").between(2, 10)).select("fp")
      val rare = m.join(rareFp, "fp")
      rare.as("a").join(rare.as("b"), Seq("fp"))
        .where(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .orderBy("doc_a", "doc_b")
    },
      """WITH g AS (SELECT doc_id,
        |  list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |    i -> substring(md5(substring(text, i, 8)), 1, 8)) AS h
        |FROM documents),
        |w AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    range(1, greatest(len(h) - 3, 1) + 1),
        |    j -> list_aggregate(h[j:j+3], 'min'))) AS fps
        |FROM g),
        |m AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        |rare AS (SELECT fp FROM m GROUP BY fp
        |         HAVING count(*) BETWEEN 2 AND 10),
        |r AS (SELECT m.doc_id, m.fp FROM m JOIN rare USING (fp)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        count(*) AS n_shared
        |      FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM p
        |WHERE n_shared >= 3 ORDER BY doc_a, doc_b""".stripMargin),

    // Source-level MinHash similarity matrix: 32-permutation signature
    // per source over word unigrams, pairwise agreement = Jaccard
    // estimate. min() is duplicate-blind, so no distinct shuffle is
    // needed — partial aggregation collapses each partition to
    // (source × 32) rows before the only shuffle; the matrix join runs
    // on 9×32 rows.
    "source_similarity_minhash" -> Query((s, dir) => {
      val K = 32
      val sig = tc(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .select(col("source"), col("w"),
          explode(sequence(lit(0), lit(K - 1))).as("k"))
        .groupBy(col("source"), col("k"))
        .agg(min(TextOps.md5Hash60(
          concat_ws(":", col("k"), col("w")))).as("mh"))
      sig.as("a")
        .join(sig.as("b"),
          col("a.k") === col("b.k") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L))
          .as("n_match"))
        .select(col("source_a"), col("source_b"), col("n_match"),
          round(col("n_match") / lit(K.toDouble), 6).as("sim"))
        .orderBy("source_a", "source_b")
    },
      {
      import ExtensionQueries.toksSql
      s"""WITH tk AS (SELECT source, unnest($toksSql) AS w FROM documents),
         |sig AS (SELECT source, k,
         |    min(${h60("k::VARCHAR || ':' || w")}) AS mh
         |  FROM tk CROSS JOIN range(0, 32) r(k) GROUP BY 1, 2),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match
         |  FROM sig a JOIN sig b ON a.k = b.k AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_match,
         |  round(n_match / 32.0, 6) AS sim
         |FROM p ORDER BY source_a, source_b""".stripMargin
    }),

    // Curation mix by quality decile: corpus-wide quality deciles (via
    // the bucketed percentile rank — no single-partition global sort)
    // crossed with source, doc and token mass per cell. The report a
    // curation run reads to decide per-source sampling rates.
    "curate_quality_mix" -> Query((s, dir) => {
      val scored = tc(s, dir, "documents").select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      TrainingOrder.percentileRank(scored, "quality", "doc_id")
        .withColumn("decile",
          least(floor(col("pct") * 10).cast("int"), lit(9)))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("source", "decile")
    },
      {
      import ExtensionQueries.{alphaRatioSql, hitsSql, punctRatioSql,
        qualitySql, toksSql}
      s"""WITH s AS (SELECT doc_id, source,
         |  len($toksSql) AS n_tokens,
         |  ${hitsSql("en")} AS sw,
         |  $punctRatioSql AS punct,
         |  $alphaRatioSql AS alpha
         |FROM documents),
         |q AS (SELECT doc_id, source, n_tokens,
         |  ${qualitySql()} AS quality FROM s),
         |d AS (SELECT source, n_tokens,
         |  LEAST(CAST(floor(round(percent_rank() OVER
         |    (ORDER BY quality, doc_id), 6) * 10) AS INT), 9) AS decile
         |FROM q)
         |SELECT source, decile, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM d GROUP BY 1, 2 ORDER BY source, decile""".stripMargin
    }),

    // Per-source lexical diversity: distinct word-bigram fraction. One
    // explode + one partial-agg shuffle; count(DISTINCT) runs as
    // Spark's two-stage expand, never a per-source collect.
    "source_diversity" -> Query((s, dir) =>
      tc(s, dir, "documents")
        .select(col("source"),
          explode(TextOps.wordGrams(TextOps.tokens(col("text")), 2)).as("g"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("n_distinct"))
        .select(col("source"), col("n_grams"), col("n_distinct"),
          round(col("n_distinct") / col("n_grams"), 6).as("diversity"))
        .orderBy("source"),
      {
      import ExtensionQueries.toksSql
      s"""WITH tk AS (SELECT source, $toksSql AS T FROM documents),
         |g AS (SELECT source,
         |  unnest(list_transform(range(1, greatest(len(T) - 1, 1) + 1),
         |    i -> coalesce(array_to_string(T[i:i+1], ' '), ''))) AS g
         |FROM tk)
         |SELECT source, count(*) AS n_grams,
         |  count(DISTINCT g) AS n_distinct,
         |  round(count(DISTINCT g) / count(*), 6) AS diversity
         |FROM g GROUP BY 1 ORDER BY source""".stripMargin
    }),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
