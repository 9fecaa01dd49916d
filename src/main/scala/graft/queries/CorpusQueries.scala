package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.{Bloom, Gapfill, Graph, Multimodal, Quality, Sampling, Search, Similarity, TemporalJoins, Urls}
import graft.sources.Tables

/** Round-4 corpus-curation surface: the Gopher rule-bundle filter,
  * tokenizer-vocabulary coverage, epoch-mix planning, perceptual
  * difference-hashing, PCM voice-activity detection, EWMA / lag-1
  * autocorrelation metric smoothing, and 2-hop graph reach. Same oracle
  * contract as every other batch: exact integers (micro fixed-point)
  * wherever aggregation order could vary, doubles only in final
  * per-row expressions both engines evaluate identically.
  */
object CorpusQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  lazy val registry: Registry = Registry(

    // Gopher-style hard quality gates with per-document reject reasons
    // — one codegen'd narrow projection over the corpus scan.
    "text_gopher_filter" -> Query((s, dir) =>
      Quality.gopherFilter(tc(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, ${ExtensionQueries.toksSql} AS T
         |           FROM documents),
         |m AS (SELECT doc_id, len(T)::BIGINT AS n_tokens,
         |    (coalesce(list_sum(list_transform(T, x -> length(x))), 0) * 1000000)
         |      // greatest(len(T), 1) AS mean_len_micro,
         |    (len(list_distinct(T)) * 1000000) // greatest(len(T), 1)
         |      AS ttr_micro,
         |    len(list_filter(T, x -> list_contains(
         |      ['the','and','of','to','is','in','that'], x)))::BIGINT AS sw_hits
         |  FROM t),
         |r AS (SELECT *,
         |    CASE WHEN n_tokens < 20 THEN 'too_short'
         |         WHEN n_tokens > 80 THEN 'too_long'
         |         WHEN mean_len_micro < 3000000
         |           OR mean_len_micro > 6000000 THEN 'mean_len'
         |         WHEN ttr_micro < 350000 THEN 'low_ttr'
         |         WHEN sw_hits < 1 THEN 'no_stopwords'
         |         ELSE '' END AS reject_reason
         |  FROM m)
         |SELECT doc_id, n_tokens, mean_len_micro::BIGINT AS mean_len_micro,
         |  ttr_micro::BIGINT AS ttr_micro, sw_hits, reject_reason,
         |  reject_reason = '' AS keep
         |FROM r ORDER BY doc_id""".stripMargin),

    // Tokenizer-vocabulary coverage: what fraction of each source's
    // token occurrences the corpus-wide top-100 vocabulary covers —
    // the "how well does one tokenizer fit every slice" diagnostic.
    // One explode feeds BOTH the vocab induction and the per-source
    // totals via the shared (source, token) count table; the top-100
    // vocab rides back as a broadcast semi-join.
    "vocab_coverage" -> Query((s, dir) => {
      val counts = tc(s, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .persist()
      val vocab = counts.groupBy("token").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(100)
      val covered = counts.join(broadcast(vocab.select("token")), Seq("token"), "left_semi")
        .groupBy("source").agg(sum("c").as("covered_tokens"))
      val totals = counts.groupBy("source").agg(sum("c").as("n_tokens"))
      val out = totals.join(covered, Seq("source"), "left")
        .select(col("source"), col("n_tokens"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
        .withColumn("coverage_ppm",
          expr("(covered_tokens * 1000000) DIV n_tokens"))
        .orderBy("source")
      out
    },
      s"""WITH tok AS (SELECT source, unnest(${ExtensionQueries.toksSql}) AS token
         |            FROM documents),
         |c AS (SELECT source, token, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
         |v AS (SELECT token FROM (SELECT token, sum(c)::BIGINT AS n FROM c
         |                         GROUP BY 1 ORDER BY n DESC, token LIMIT 100)),
         |cov AS (SELECT source, sum(c)::BIGINT AS covered_tokens FROM c
         |        WHERE token IN (SELECT token FROM v) GROUP BY 1),
         |tot AS (SELECT source, sum(c)::BIGINT AS n_tokens FROM c GROUP BY 1)
         |SELECT t.source, t.n_tokens,
         |  coalesce(cov.covered_tokens, 0)::BIGINT AS covered_tokens,
         |  ((coalesce(cov.covered_tokens, 0) * 1000000) // t.n_tokens)::BIGINT
         |    AS coverage_ppm
         |FROM tot t LEFT JOIN cov USING (source) ORDER BY source""".stripMargin),

    // Per-source epoch allocation for a 20k-token training budget,
    // capped at 4.0 epochs — the run-config mixing plan.
    "mix_epochs" -> Query((s, dir) =>
      Sampling.epochMix(tc(s, dir, "documents"), "source",
          TextOps.tokenCount(col("text")).cast("long"), budget = 20000L)
        .orderBy("source"),
      s"""WITH d AS (SELECT source, len(${ExtensionQueries.toksSql})::BIGINT AS nt
         |           FROM documents),
         |g AS (SELECT source, sum(nt)::BIGINT AS n_tokens FROM d GROUP BY 1),
         |s AS (SELECT count(*)::BIGINT AS n_sources FROM g)
         |SELECT source, n_tokens,
         |  least(4000000, ((20000 // n_sources) * 1000000)
         |    // greatest(n_tokens, 1))::BIGINT AS epochs_micro,
         |  ((least(4000000, ((20000 // n_sources) * 1000000)
         |      // greatest(n_tokens, 1)) * n_tokens) // 1000000)::BIGINT
         |    AS tokens_taken
         |FROM g CROSS JOIN s ORDER BY source""".stripMargin),

    // Perceptual difference-hash over REAL decoded BMP pixels — the
    // gradient sibling of image_ahash (same decode, different signature).
    "image_dhash" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoPixelCorpus(s, t(s, dir, "documents"))
      Multimodal.dhash(s,
          Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the demoPixelCorpus generator arithmetic (pixel byte i of
      // image id = (id*31 + i*7) mod 256, w = 8 + id%9, h = 8 + id%7) —
      // same convention as the image_ahash oracle, on an 8×9 grid.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |cells AS (SELECT doc_id, w, h, r8, c9,
        |    3 * (((r8 * h) // 8) * w + ((c9 * w) // 9)) AS base
        |  FROM m CROSS JOIN range(0, 8) rr(r8) CROSS JOIN range(0, 9) cc(c9)),
        |g AS (SELECT doc_id, r8, c9,
        |    ((doc_id*31 + base*7) % 256 + (doc_id*31 + (base+1)*7) % 256
        |      + (doc_id*31 + (base+2)*7) % 256)::BIGINT AS gray
        |  FROM cells),
        |bits AS (SELECT a.doc_id, (a.r8 * 8 + a.c9)::BIGINT AS k,
        |    CASE WHEN b.gray > a.gray THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.r8 = b.r8
        |    AND b.c9 = a.c9 + 1
        |  WHERE a.c9 < 8),
        |hh AS (SELECT doc_id,
        |    sum(CASE WHEN k >= 32 THEN bit << (k - 32) ELSE 0 END)::BIGINT
        |      AS hash_hi,
        |    sum(CASE WHEN k < 32 THEN bit << k ELSE 0 END)::BIGINT AS hash_lo
        |  FROM bits GROUP BY 1)
        |SELECT m.doc_id AS media_id, m.w::BIGINT AS width, m.h::BIGINT AS height,
        |  hh.hash_hi, hh.hash_lo
        |FROM m JOIN hh USING (doc_id) ORDER BY media_id""".stripMargin),

    // Energy-threshold voice-activity segments over REAL decoded PCM:
    // above-mean frames merged gaps-and-islands style inside the
    // per-clip decode pass — segments only ever leave the executor.
    "audio_vad_segments" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoAudioCorpus(s, t(s, dir, "documents"))
      Multimodal.vadSegments(s,
          Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile])
        .toDF().orderBy("media_id", "seg_idx")
    },
      // Replays the demoAudioCorpus generator (sample j of clip id =
      // ((id*13 + j*37) mod 65536) − 32768, n = 500 + id%300), 64-sample
      // frames, active iff e_f·nf > Σe, islands via f − row_number().
      """WITH m AS (SELECT doc_id AS id, (500 + doc_id % 300) AS n FROM documents),
        |fr AS (SELECT id, f, n // 64 AS nf FROM m
        |       CROSS JOIN range(0, 13) rf(f) WHERE f < n // 64),
        |sm AS (SELECT id, f, nf,
        |    ((id*13 + (f*64 + k)*37) % 65536 - 32768)::BIGINT AS v
        |  FROM fr CROSS JOIN range(0, 64) rk(k)),
        |en AS (SELECT id, f, nf, sum(v*v)::BIGINT AS e FROM sm GROUP BY 1, 2, 3),
        |tot AS (SELECT id, sum(e)::BIGINT AS total FROM en GROUP BY 1),
        |act AS (SELECT en.id, en.f, en.e FROM en JOIN tot USING (id)
        |        WHERE en.e * en.nf > tot.total),
        |isl AS (SELECT id, f, e,
        |    f - row_number() OVER (PARTITION BY id ORDER BY f) AS grp
        |  FROM act),
        |seg AS (SELECT id, grp, min(f) AS start_frame, max(f) AS end_frame,
        |    count(*) AS n_frames, sum(e)::BIGINT AS seg_energy
        |  FROM isl GROUP BY 1, 2)
        |SELECT id AS media_id,
        |  (row_number() OVER (PARTITION BY id ORDER BY start_frame) - 1)::INT
        |    AS seg_idx,
        |  start_frame::INT AS start_frame, end_frame::INT AS end_frame,
        |  n_frames::INT AS n_frames, seg_energy
        |FROM seg ORDER BY media_id, seg_idx""".stripMargin),

    // Hourly per-type EWMA (α = ½) of event cents via Horner weights:
    // the 10-term lag chain 512·c_t + 256·c_{t-1} + … stays exact
    // 64-bit integer, and the denominator 2¹⁰ − 2^(10−m) adapts to
    // series shorter than the window — no float smoothing state.
    "metrics_ewma" -> Query((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = W.partitionBy("event_type").orderBy("hr")
      val num = (col("cents") * 512L +: (1 to 9).map(l =>
        coalesce(lag(col("cents"), l).over(w), lit(0L)) * lit(1L << (9 - l))))
        .reduce(_ + _)
      hourly.withColumn("__num", num)
        .withColumn("__m", least(row_number().over(w), lit(10)))
        .select(col("event_type"), unix_micros(col("hr")).as("hr_us"),
          col("cents"),
          expr("(__num * 1000000) DIV (1024 - shiftleft(1, 10 - __m))")
            .as("ewma_micro"))
        .orderBy("event_type", "hr_us")
    },
      """WITH h AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
        |      AS hr, sum(round(value * 100)::BIGINT)::BIGINT AS cents
        |    FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, hr, cents,
        |    cents * 512
        |      + coalesce(lag(cents, 1) OVER w, 0) * 256
        |      + coalesce(lag(cents, 2) OVER w, 0) * 128
        |      + coalesce(lag(cents, 3) OVER w, 0) * 64
        |      + coalesce(lag(cents, 4) OVER w, 0) * 32
        |      + coalesce(lag(cents, 5) OVER w, 0) * 16
        |      + coalesce(lag(cents, 6) OVER w, 0) * 8
        |      + coalesce(lag(cents, 7) OVER w, 0) * 4
        |      + coalesce(lag(cents, 8) OVER w, 0) * 2
        |      + coalesce(lag(cents, 9) OVER w, 0) AS num,
        |    least(row_number() OVER w, 10) AS m
        |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr))
        |SELECT event_type, epoch_us(hr) AS hr_us, cents,
        |  ((num * 1000000) // (1024 - (1 << (10 - m))))::BIGINT AS ewma_micro
        |FROM l ORDER BY event_type, hr_us""".stripMargin),

    // Lag-1 autocorrelation of the hourly series from six exact integer
    // moments — metric_correlation's machinery pointed at (x_t, x_{t-1}).
    "metrics_autocorr" -> Query((s, dir) => {
      val w = W.partitionBy("event_type").orderBy("hr")
      val pairs = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        .withColumn("y", lag(col("x"), 1).over(w))
        .where(col("y").isNotNull)
      // Moment sums in DECIMAL(38): x is an hourly revenue sum, so x²
      // terms overflow a long at real scale (x ~ 10¹⁵ ⇒ x² ~ 10³⁰) —
      // decimal partials stay exact (and overflow to a VISIBLE null,
      // never a silent wrap). Moment PRODUCTS then multiply as doubles,
      // with the identical IEEE sequence in the oracle.
      def dc(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      pairs.groupBy("event_type").agg(
          count(lit(1)).as("n_pairs"),
          sum(dc(col("x"))).as("sx"), sum(dc(col("y"))).as("sy"),
          sum(dc(col("x")) * dc(col("x"))).as("sxx"),
          sum(dc(col("y")) * dc(col("y"))).as("syy"),
          sum(dc(col("x")) * dc(col("y"))).as("sxy"))
        .select(col("event_type"), col("n_pairs"),
          round((d(col("n_pairs")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
            / (sqrt(d(col("n_pairs")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
              * sqrt(d(col("n_pairs")) * d(col("syy")) - d(col("sy")) * d(col("sy")))),
            6).as("autocorr"))
        .orderBy("event_type")
    },
      """WITH h AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
        |      AS hr, sum(round(value * 100)::BIGINT)::BIGINT AS x
        |    FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, x,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY hr) AS y FROM h),
        |f AS (SELECT * FROM p WHERE y IS NOT NULL),
        |m AS (SELECT event_type, count(*)::BIGINT AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM f GROUP BY 1)
        |SELECT event_type, n_pairs,
        |  round((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |    (sqrt(n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |     sqrt(n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
        |    6) AS autocorr
        |FROM m ORDER BY event_type""".stripMargin),

    // Distinct friends-of-friends per node over the (subsampled)
    // co-purchase graph — wedge-bounded link-prediction candidates,
    // same edge build as graph_triangles.
    "graph_2hop" -> Query((s, dir) => {
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
      Graph.twoHopReach(edges, "src", "dst").orderBy("node")
    },
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_partkey % 8 = 0),
        |und AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und),
        |tp AS (SELECT DISTINCT a1.u AS a, a2.v AS c
        |       FROM adj a1 JOIN adj a2 ON a1.v = a2.u WHERE a1.u != a2.v),
        |d2 AS (SELECT a, c FROM tp WHERE NOT EXISTS
        |       (SELECT 1 FROM adj WHERE adj.u = tp.a AND adj.v = tp.c)),
        |cnt AS (SELECT a AS node, count(*)::BIGINT AS n_2hop FROM d2 GROUP BY 1)
        |SELECT n.node::BIGINT AS node,
        |  coalesce(c.n_2hop, 0)::BIGINT AS n_2hop
        |FROM nodes n LEFT JOIN cnt c USING (node) ORDER BY node""".stripMargin),

    // Near-duplicate videos by shared keyframe fingerprints: REAL
    // ISO-BMFF sample-table walk → position-weighted payload checksums
    // → (size, fp) bucket join, ≥2 agreeing keyframes. Blobs never
    // shuffle; only (id, size, fp) rows do.
    "video_near_dup" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoVideoCorpus(s, t(s, dir, "documents"))
      val fps = Multimodal.keyframeFingerprints(s,
        Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile])
      Multimodal.videoNearDups(fps.toDF()).orderBy("id_a", "id_b")
    },
      // Replays the demoVideoCorpus generator (ns = 4 + id%5 samples,
      // sync samples at even 0-based indices 0,2,…, sample s byte j =
      // (id*131 + s*17 + j*7) mod 256, size 16 + ((id+s)%3)*8) — same
      // conventions as the video_keyframes oracle.
      """WITH m AS (SELECT doc_id, 4 + doc_id % 5 AS ns,
        |           (4 + doc_id % 5 + 1) // 2 AS k FROM documents),
        |kf AS (SELECT doc_id, 2 * i AS s0 FROM m
        |       CROSS JOIN range(0, 4) ri(i) WHERE i < k),
        |sized AS (SELECT doc_id, s0,
        |    16 + ((doc_id + s0) % 3) * 8 AS sz FROM kf),
        |fp AS (SELECT doc_id, s0, sz,
        |    list_sum(list_transform(range(0, sz),
        |      j -> ((doc_id*131 + s0*17 + j*7) % 256) * (j + 1)))::BIGINT AS fp
        |  FROM sized),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*)::BIGINT AS n_shared
        |  FROM fp a JOIN fp b ON a.sz = b.sz AND a.fp = b.fp
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM pr WHERE n_shared >= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // Bloom-pruned join: the "broadcast m bits instead of shuffling the
    // fact table" plan — build a filter on the (tiny) filtered dim,
    // probe the fact side's distinct keys, semi-join the survivors,
    // then the exact join removes the ε of false positives. Result is
    // hash-identical to the plain join (no false negatives), which is
    // precisely what the oracle asserts.
    "join_bloom_pruned" -> Query((s, dir) => {
      val dims = t(s, dir, "part").where(col("p_size") === 1)
        .select(col("p_partkey"))
      val bloom = Bloom.build(dims, "p_partkey")
      val li = t(s, dir, "lineitem").select("l_partkey", "l_quantity")
      val maybe = Bloom.probe(li.select("l_partkey"), "l_partkey", bloom)
        .where(col("maybe_seen")).select("l_partkey")
      val pruned = li.join(broadcast(maybe), Seq("l_partkey"), "left_semi")
      pruned.join(broadcast(dims), col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1 GROUP BY p_partkey ORDER BY p_partkey""".stripMargin),

    // Per-user inter-arrival gap statistics — the event-cadence
    // telemetry a sessionization gap or watermark delay is tuned from.
    // One shuffle by user; exact integer micros end to end.
    "user_interarrival" -> Query((s, dir) => {
      val w = W.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events").select("user_id", "event_id", "ts")
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .where(col("__prev").isNotNull)
        .select(col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("__prev"))).as("gap_us"))
        .groupBy("user_id").agg(count(lit(1)).as("n_gaps"),
          min("gap_us").as("min_gap_us"), max("gap_us").as("max_gap_us"),
          expr("sum(gap_us) DIV count(*)").as("mean_gap_us"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |g AS (SELECT user_id,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS gap_us
        |  FROM e)
        |SELECT user_id, count(*)::BIGINT AS n_gaps,
        |  min(gap_us)::BIGINT AS min_gap_us,
        |  max(gap_us)::BIGINT AS max_gap_us,
        |  (sum(gap_us) // count(*))::BIGINT AS mean_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Crawl politeness / domain diversity: parse the host out of each
    // document's URL and keep a deterministic (hash, id) sample of at
    // most 15 documents per host — the per-domain cap web corpora apply
    // so no single site dominates training data. Bounded-heap top-k per
    // host, never a global sort.
    "crawl_host_cap" -> Query((s, dir) => {
      val d = tc(s, dir, "documents").withColumn("url",
        concat(lit("HTTPS://"), col("source"), lit(".Example.COM/"),
          col("lang"), lit("/doc/"), pmod(col("doc_id"), lit(97))))
      val hosted = d.select(col("doc_id"), Urls.urlHost(col("url")).as("host"))
      Sampling.capPerGroup(hosted, Seq("host"), "doc_id", k = 15,
          hashFn = TextOps.md5Hash60)
        .select("doc_id", "host").orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id,
         |    'HTTPS://' || source || '.Example.COM/' || lang || '/doc/' ||
         |    (doc_id % 97) AS url
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    lower(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host
         |  FROM d)
         |SELECT doc_id, host FROM (
         |  SELECT doc_id, host, row_number() OVER (PARTITION BY host
         |    ORDER BY ${ExtensionQueries.md5Hash60Sql("doc_id::VARCHAR")},
         |      doc_id) AS rn
         |  FROM h) r
         |WHERE rn <= 15 ORDER BY doc_id""".stripMargin),

    // Nearest as-of join: each click pairs with its CLOSEST view in
    // either direction within 1h, equidistant → the earlier view — the
    // sensor-alignment / feature-join variant of asof_join, still one
    // shuffle + one sorted pass (two carries, no theta join).
    "asof_nearest" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max("event_id").as("view_id"))
        .select("user_id", "view_ts", "view_id")
      TemporalJoins.asofNearest(clicks, views, Seq("user_id"), "ts", "view_ts",
          tolerance = expr("INTERVAL 1 HOUR"), rightTie = Some("view_id"))
        .select(col("click_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("view_id"),
          (unix_micros(col("view_ts")) - unix_micros(col("ts"))).as("delta_us"))
        .orderBy("click_id")
    },
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |            event_type FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ts FROM e
        |      WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_id
        |      FROM e WHERE event_type = 'view' GROUP BY 1, 2),
        |cand AS (SELECT c.click_id, v.view_id,
        |    epoch_us(v.view_ts) - epoch_us(c.ts) AS delta_us
        |  FROM c JOIN v USING (user_id)
        |  WHERE abs(epoch_us(v.view_ts) - epoch_us(c.ts)) <= 3600000000),
        |pick AS (SELECT click_id, view_id, delta_us FROM (
        |    SELECT *, row_number() OVER (PARTITION BY click_id
        |      ORDER BY abs(delta_us), delta_us) AS rn FROM cand) x
        |  WHERE rn = 1)
        |SELECT c.click_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  p.view_id, p.delta_us
        |FROM c LEFT JOIN pick p USING (click_id)
        |ORDER BY click_id""".stripMargin),

    // Retrieval evaluation over the BM25 ranking: P@10 and MRR per
    // query against all-terms-present relevance labels — the metric
    // pass every search/RAG pipeline runs after an index change. The
    // label join is (tiny query set) × corpus — a broadcast predicate
    // scan, never a corpus shuffle; metrics are exact ppm integers.
    "search_eval" -> Query((s, dir) => {
      val sp = s; import sp.implicits._
      val qs = PipelineQueries.bm25Terms.toDF("query_id", "term")
      val ranked = Search.bm25TopK(tc(s, dir, "documents"), "doc_id", "text",
        qs, k = 30)
      val toks = tc(s, dir, "documents").select(col("doc_id"),
        TextOps.tokens(col("text")).as("t"))
      val nTerms = qs.groupBy("query_id").agg(countDistinct("term").as("n_terms"))
      val rel = broadcast(qs).join(toks, array_contains(col("t"), col("term")))
        .groupBy("query_id", "doc_id").agg(countDistinct("term").as("n_hit"))
        .join(broadcast(nTerms), "query_id")
        .where(col("n_hit") === col("n_terms"))
        .select(col("query_id"), col("doc_id"), lit(1).as("rel"))
      ranked.join(rel, Seq("query_id", "doc_id"), "left")
        .withColumn("r", coalesce(col("rel"), lit(0)))
        .groupBy("query_id").agg(
          sum(when(col("rank") <= 10, col("r")).otherwise(0)).cast("long")
            .as("n_rel_at_10"),
          min(when(col("r") === 1, col("rank"))).as("__fr"))
        .select(col("query_id"), col("n_rel_at_10"),
          expr("(n_rel_at_10 * 1000000) DIV 10").as("p_at_10_ppm"),
          coalesce(expr("1000000 DIV __fr"), lit(0L)).as("mrr_ppm"))
        .orderBy("query_id")
    },
      s"""WITH ${PipelineQueries.bm25RankedCte},
         |nt AS (SELECT query_id, count(DISTINCT term) AS n_terms
         |       FROM q GROUP BY 1),
         |hits AS (SELECT q.query_id, d.doc_id,
         |    count(DISTINCT q.term) AS n_hit
         |  FROM q JOIN d ON list_contains(d.toks, q.term) GROUP BY 1, 2),
         |relq AS (SELECT hits.query_id, hits.doc_id
         |  FROM hits JOIN nt USING (query_id) WHERE n_hit = n_terms),
         |t30 AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 30),
         |jj AS (SELECT t.query_id, t.rank,
         |    CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS rel
         |  FROM t30 t LEFT JOIN relq r
         |    ON t.query_id = r.query_id AND t.doc_id = r.doc_id),
         |m AS (SELECT query_id,
         |    sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END)::BIGINT
         |      AS n_rel_at_10,
         |    min(CASE WHEN rel = 1 THEN rank END) AS fr
         |  FROM jj GROUP BY 1)
         |SELECT query_id, n_rel_at_10,
         |  ((n_rel_at_10 * 1000000) // 10)::BIGINT AS p_at_10_ppm,
         |  coalesce(1000000 // fr, 0)::BIGINT AS mrr_ppm
         |FROM m ORDER BY query_id""".stripMargin),

    // Bounded k-core peeling (k=3, 3 sweeps) over the co-purchase
    // subsample — dense-core extraction; fixed rounds keep the plan a
    // straight-line DAG and the oracle an unrolled CTE chain.
    "graph_kcore" -> Query((s, dir) => {
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
      Graph.kCore(edges, "src", "dst", k = 3, rounds = 3).orderBy("node")
    },
      // Unrolled 3-round peel: each round recomputes degrees over the
      // previous round's edge set and keeps nodes with deg >= 3.
      {
      def round(i: Int): String =
        s"""d$i AS (SELECT u AS node, count(*)::BIGINT AS deg
           |        FROM a${i - 1} GROUP BY 1),
           |k$i AS (SELECT node FROM d$i WHERE deg >= 3),
           |a$i AS (SELECT a.u, a.v FROM a${i - 1} a
           |        JOIN k$i ku ON a.u = ku.node
           |        JOIN k$i kv ON a.v = kv.node)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |            FROM lineitem WHERE l_partkey % 8 = 0),
         |und AS (SELECT DISTINCT a.pk AS u, b.pk AS v
         |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |a0 AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT u::BIGINT AS node, count(*)::BIGINT AS deg
         |FROM a3 GROUP BY 1 ORDER BY node""".stripMargin
    }),

    // Late-interaction MaxSim ANN (ColBERT scoring shape): 4×16-dim
    // chunks, per-chunk max dot, micro-integer exact ranking.
    "sim_maxsim_late" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.maxSimTopK(e, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
        |qch AS (SELECT vec_id AS query_id, c AS qi,
        |    v[c*16+1 : c*16+16] AS qv FROM q CROSS JOIN range(0, 4) rc(c)),
        |cch AS (SELECT vec_id AS neighbor_id, c AS di,
        |    v[c*16+1 : c*16+16] AS dv FROM e CROSS JOIN range(0, 4) rd(c)),
        |dots AS (SELECT query_id, neighbor_id, qi,
        |    round(list_sum(list_transform(range(1, 17),
        |      i -> qv[i] * dv[i])) * 1000000)::BIGINT AS dot_micro
        |  FROM cch JOIN qch ON query_id != neighbor_id),
        |best AS (SELECT query_id, neighbor_id, qi, max(dot_micro) AS m
        |         FROM dots GROUP BY 1, 2, 3),
        |scored AS (SELECT query_id, neighbor_id, sum(m)::BIGINT
        |             AS maxsim_micro
        |           FROM best GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, maxsim_micro, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY maxsim_micro DESC, neighbor_id) AS rank
        |  FROM scored) r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Tokens WITH character offsets into the normalized text — the
    // span-alignment table NER/QA training data is built on (a span
    // label references (doc, start, end); tokenization must agree).
    // Normalization guarantees single spaces, so offsets are exact
    // prefix sums: one narrow map + generate, one shuffle by doc for
    // the running sum.
    "token_offsets" -> Query((s, dir) => {
      val norm = tc(s, dir, "documents").select(col("doc_id"),
        TextOps.normalizeText(col("text")).as("norm"))
      val ex = norm.select(col("doc_id"),
        posexplode(split(col("norm"), " ")).as(Seq("token_idx", "token")))
      val w = W.partitionBy("doc_id").orderBy("token_idx")
        .rowsBetween(W.unboundedPreceding, -1)
      ex.withColumn("start_char",
          (coalesce(sum(length(col("token"))).over(w), lit(0))
            + col("token_idx")).cast("long"))
        .withColumn("end_char", col("start_char") + length(col("token")))
        .orderBy("doc_id", "token_idx")
    },
      s"""WITH n AS (SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
         |      '[${TextOps.ctrlChars}]', ' ', 'g'),
         |      '[${TextOps.wsChars}]+', ' ', 'g')) AS norm
         |  FROM documents),
         |u AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token,
         |      (generate_subscripts(string_split(norm, ' '), 1) - 1)::INT
         |        AS token_idx
         |      FROM n)
         |SELECT doc_id, token_idx, token,
         |  (coalesce(sum(length(token)) OVER (PARTITION BY doc_id
         |    ORDER BY token_idx ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) + token_idx)::BIGINT AS start_char,
         |  (coalesce(sum(length(token)) OVER (PARTITION BY doc_id
         |    ORDER BY token_idx ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) + token_idx + length(token))::BIGINT
         |    AS end_char
         |FROM u ORDER BY doc_id, token_idx""".stripMargin),

    // Apriori level-3 market-basket mining: frequent triples via the
    // level-wise prune — candidates come ONLY from frequent-pair
    // self-joins (anti-monotonicity: every sub-pair of a frequent
    // triple is frequent), then the candidate set (small by
    // construction) broadcasts back onto the baskets for exact counts.
    // The naive triple enumeration the oracle runs is O(width³) per
    // basket over ALL parts; the pruned path touches only candidate
    // triples — the difference between feasible and not at 100 TB.
    // Hash equality against the naive oracle proves the prune lossless.
    "basket_triples" -> Query((s, dir) => {
      val minSupport = 2L
      // Baskets as distinct item SETS after one exchange (guide §2.4:
      // the previous distinct + self-equality-join pair generation paid
      // three exchanges of the same rows; collect_set partial-aggregates
      // map-side and the codegen'd ordered_pairs enumerates the same
      // C(w,2) pair multiset locally — OrderedPairsSpec pins equality).
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(collect_set(col("l_partkey")).as("items"))
      val pairs = items.select(
          explode(org.apache.spark.sql.graft.ColumnBridge.column(
            graft.expressions.OrderedPairs(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("items")))))
            .as("p"))
        .select(col("p.p1").as("p1"), col("p.p2").as("p2"))
      val f2 = pairs
        .groupBy("p1", "p2").agg(count(lit(1)).as("n"))
        .where(col("n") >= minSupport).select("p1", "p2")
      // C3: extend frequent pairs sharing the first item, prune on the
      // third sub-pair.
      val x = f2.select(col("p1").as("ta"), col("p2").as("tb"))
      val y = f2.select(col("p1").as("ta"), col("p2").as("tc"))
      val c3 = x.join(y, Seq("ta")).where(col("tb") < col("tc"))
        .join(f2.select(col("p1").as("tb"), col("p2").as("tc")),
          Seq("tb", "tc"), "left_semi")
      // Exact triple counts: the candidate set (small by construction)
      // broadcasts onto the basket table — one exploded equi-join on the
      // first item, the other two verified by array_contains against the
      // basket's item set. Identical count semantics to the previous
      // l1⋈c3⋈l2⋈l3 join chain (each basket counts a candidate once iff
      // all three items are present) without the two (ok, item)
      // re-shuffles of the basket rows; the items subtree is the SAME
      // aggregation as the pair stage, so its exchange is reused.
      items.select(col("items"), explode(col("items")).as("ta"))
        .join(broadcast(c3), Seq("ta"))
        .where(array_contains(col("items"), col("tb")) &&
          array_contains(col("items"), col("tc")))
        .groupBy(col("ta").as("p1"), col("tb").as("p2"), col("tc").as("p3"))
        .agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= minSupport)
        .orderBy(col("n_orders").desc, col("p1"), col("p2"), col("p3"))
    },
      // Naive triple enumeration — the correctness spec the Apriori
      // prune must reproduce exactly.
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |t AS (SELECT a.pk AS p1, b.pk AS p2, c.pk AS p3,
        |    count(*)::BIGINT AS n_orders
        |  FROM li a JOIN li b USING (ok) JOIN li c USING (ok)
        |  WHERE a.pk < b.pk AND b.pk < c.pk GROUP BY 1, 2, 3)
        |SELECT p1, p2, p3, n_orders FROM t WHERE n_orders >= 2
        |ORDER BY n_orders DESC, p1, p2, p3""".stripMargin),

    // Hour-of-day seasonality profile per event type — the weekly/daily
    // shape a capacity plan or anomaly baseline subtracts out. Exact
    // integer cents; mean in micro fixed point.
    "metrics_seasonality" -> Query((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("hour_of_day"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("cents_sum"))
        .withColumn("mean_cents_micro",
          expr("(cents_sum * 1000000) DIV n_events"))
        .orderBy("event_type", "hour_of_day"),
      """SELECT event_type, hour(CAST(ts AS TIMESTAMP))::INT AS hour_of_day,
        |  count(*)::BIGINT AS n_events,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS cents_sum,
        |  ((sum(round(value * 100)::BIGINT) * 1000000) // count(*))::BIGINT
        |    AS mean_cents_micro
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hour_of_day""".stripMargin),

    // Embedding drift between label slices: pairwise cosine of the
    // per-label fixed-point centroids — the "did slice X's embedding
    // distribution move" monitor. Centroid rows are tiny (labels × 64),
    // so the pair stage is a broadcast cross of a handful of vectors.
    "embed_label_drift" -> Query((s, dir) => {
      val cent = Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")
      val vecs = cent.groupBy("label").agg(
        expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("v"))
      val va = vecs.select(col("label").as("label_a"), col("v").as("va"))
      val vb = vecs.select(col("label").as("label_b"), col("v").as("vb"))
      def dot(p: String, q: String) =
        expr(s"aggregate(zip_with($p, $q, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
      va.crossJoin(vb).where(col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(dot("va", "vb") /
            (sqrt(dot("va", "va")) * sqrt(dot("vb", "vb"))), 6).as("cos"))
        .orderBy("label_a", "label_b")
    },
      """WITH u AS (SELECT label,
        |    generate_subscripts(embedding, 1)::BIGINT AS pos,
        |    floor(unnest(embedding::DOUBLE[]) * 1048576.0)::BIGINT AS fx
        |  FROM embeddings),
        |g AS (SELECT label, pos, sum(fx)::BIGINT AS s, count(*) AS n
        |      FROM u GROUP BY 1, 2),
        |c AS (SELECT label, pos,
        |      round((s::DOUBLE / n) / 1048576.0, 6) AS comp FROM g),
        |vec AS (SELECT label, list(comp ORDER BY pos) AS v
        |        FROM c GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i] * b.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i] * a.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(b.v) + 1),
        |      i -> b.v[i] * b.v[i])))), 6) AS cos
        |FROM vec a JOIN vec b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin),

    // Linear-interpolation resample onto the hourly grid — gapfill's
    // straight-line sibling (silent hours take the line between the
    // surrounding observations, nonnegative-integer arithmetic).
    "gapfill_linear" -> Query((s, dir) =>
      Gapfill.hourlyLinear(t(s, dir, "events"), "event_type", "ts",
          "event_id", round(col("value") * 100).cast("long"))
        .select(col("g").as("event_type"), col("h"), col("v"))
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
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM rg),
        |j AS (SELECT g.event_type, g.h,
        |    epoch_us(g.h) // 3600000000 AS hi, ob.cents AS v_obs
        |  FROM grid g LEFT JOIN ob
        |    ON g.event_type = ob.event_type AND g.h = ob.h),
        |c AS (SELECT event_type, h, hi, v_obs,
        |    last_value(v_obs IGNORE NULLS) OVER wp AS vp,
        |    last_value(CASE WHEN v_obs IS NOT NULL THEN hi END IGNORE NULLS)
        |      OVER wp AS hp,
        |    first_value(v_obs IGNORE NULLS) OVER wn AS vn,
        |    first_value(CASE WHEN v_obs IS NOT NULL THEN hi END IGNORE NULLS)
        |      OVER wn AS hn
        |  FROM j WINDOW
        |    wp AS (PARTITION BY event_type ORDER BY hi
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY event_type ORDER BY hi
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, h,
        |  CASE WHEN hn IS NULL OR hn = hp THEN vp
        |       ELSE (vp * (hn - hi) + vn * (hi - hp)) // (hn - hp)
        |  END AS v
        |FROM c ORDER BY event_type, h""".stripMargin),

    // One-pass multi-grain rollup via GROUPING SETS: daily, weekly, and
    // monthly volumes from a single shuffle — the grouping-set Expand
    // is the one-scan alternative to three separate aggregations.
    // Grain labels read off which grouped column survived (they are
    // never NULL when grouped, so the CASE is unambiguous).
    "metrics_rollup_grains" -> Query((s, dir) => {
      t(s, dir, "events").select(
          date_trunc("day", col("ts")).as("d"),
          date_trunc("week", col("ts")).as("w"),
          date_trunc("month", col("ts")).as("m"),
          round(col("value") * 100).cast("long").as("cents"))
        .createOrReplaceTempView("graft_ev_grains")
      s.sql(
        """SELECT CASE WHEN d IS NOT NULL THEN 'day'
          |            WHEN w IS NOT NULL THEN 'week'
          |            ELSE 'month' END AS grain,
          |  coalesce(d, w, m) AS period_start,
          |  count(*) AS n_events, sum(cents) AS cents_sum
          |FROM graft_ev_grains
          |GROUP BY GROUPING SETS ((d), (w), (m))
          |ORDER BY grain, period_start""".stripMargin)
    },
      """WITH e AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
        |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS w,
        |    date_trunc('month', CAST(ts AS TIMESTAMP)) AS m,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events)
        |SELECT CASE WHEN d IS NOT NULL THEN 'day'
        |            WHEN w IS NOT NULL THEN 'week'
        |            ELSE 'month' END AS grain,
        |  coalesce(d, w, m) AS period_start,
        |  count(*)::BIGINT AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM e
        |GROUP BY GROUPING SETS ((d), (w), (m))
        |ORDER BY grain, period_start""".stripMargin),

    // CCNet-style quality bucketing (public pipeline — Wenzek et al.
    // 2020): per-language surprisal terciles against the corpus unigram
    // LM; 'head' = most-fluent third, the slice CCNet trains on.
    // Deterministic: avg_bits is the engine-exact rounded surprisal and
    // doc_id breaks ties, so ntile is a total order.
    "quality_ccnet_buckets" -> Query((s, dir) => {
      val d = tc(s, dir, "documents")
      val sur = graft.operators.LmScore.unigramSurprisal(d, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      val w = W.partitionBy("lang").orderBy(col("avg_bits"), col("doc_id"))
      sur.join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", element_at(
          array(lit("head"), lit("middle"), lit("tail")), ntile(3).over(w)))
        .select("doc_id", "lang", "n_tokens", "avg_bits", "bucket")
        .orderBy("doc_id")
    },
      s"""WITH w AS (SELECT doc_id, unnest(${ExtensionQueries.toksSql}) AS t
         |  FROM documents),
         |vc AS (SELECT t, count(*) AS c FROM w GROUP BY 1),
         |tot AS (SELECT sum(c)::BIGINT AS n, count(*) AS v FROM vc),
         |sc AS (SELECT t,
         |    (length(format('{:b}', (n + v) // (c + 1))) - 1)::BIGINT AS bits
         |  FROM vc, tot),
         |d AS (SELECT w.doc_id, count(*)::BIGINT AS n_tokens,
         |    sum(bits)::BIGINT AS sb
         |  FROM w JOIN sc USING (t) GROUP BY 1),
         |s2 AS (SELECT doc_id, n_tokens,
         |    round(sb::DOUBLE / n_tokens, 6) AS avg_bits FROM d),
         |j AS (SELECT s2.doc_id, doc.lang, s2.n_tokens, s2.avg_bits
         |      FROM s2 JOIN documents doc USING (doc_id))
         |SELECT doc_id, lang, n_tokens, avg_bits,
         |  CASE ntile(3) OVER (PARTITION BY lang
         |      ORDER BY avg_bits, doc_id)
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         |  END AS bucket
         |FROM j ORDER BY doc_id""".stripMargin),

    // Referential-integrity audit: orphan counts per FK relation — the
    // constraint check a warehouse runs after every load (NULL FKs
    // count as orphans: unknown is not a pass). Three anti-joins, each
    // shuffling only the key column.
    "dq_fk_orphans" -> Query((s, dir) => {
      def orphans(rel: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String) =
        child.select(col(ck))
          .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_orphans"))
      orphans("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .unionAll(orphans("lineitem->part", t(s, dir, "lineitem"),
          "l_partkey", t(s, dir, "part"), "p_partkey"))
        .unionAll(orphans("orders->customer", t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey"))
        .orderBy("relation")
    },
      """SELECT 'lineitem->orders' AS relation, count(*)::BIGINT AS n_orphans
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL
        |UNION ALL
        |SELECT 'lineitem->part', count(*)::BIGINT
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_partkey IS NULL
        |UNION ALL
        |SELECT 'orders->customer', count(*)::BIGINT
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey IS NULL
        |ORDER BY relation""".stripMargin),

    // Primary-key uniqueness audit across the catalog: one aggregate
    // per table, unioned — n_dup > 0 is the broken-load alarm.
    "dq_pk_duplicates" -> Query((s, dir) => {
      def pkDup(tbl: String, name: String, k: String) =
        t(s, dir, name).agg(count(lit(1)).as("n_rows"),
            countDistinct(col(k)).as("n_distinct"))
          .select(lit(tbl).as("table_name"), col("n_rows"),
            col("n_distinct"),
            (col("n_rows") - col("n_distinct")).as("n_dup"))
      pkDup("customer", "customer", "c_custkey")
        .unionAll(pkDup("documents", "documents", "doc_id"))
        .unionAll(pkDup("events", "events", "event_id"))
        .unionAll(pkDup("orders", "orders", "o_orderkey"))
        .unionAll(pkDup("part", "part", "p_partkey"))
        .orderBy("table_name")
    },
      """SELECT 'customer' AS table_name, count(*)::BIGINT AS n_rows,
        |  count(DISTINCT c_custkey)::BIGINT AS n_distinct,
        |  (count(*) - count(DISTINCT c_custkey))::BIGINT AS n_dup
        |FROM customer
        |UNION ALL SELECT 'documents', count(*)::BIGINT,
        |  count(DISTINCT doc_id)::BIGINT,
        |  (count(*) - count(DISTINCT doc_id))::BIGINT FROM documents
        |UNION ALL SELECT 'events', count(*)::BIGINT,
        |  count(DISTINCT event_id)::BIGINT,
        |  (count(*) - count(DISTINCT event_id))::BIGINT FROM events
        |UNION ALL SELECT 'orders', count(*)::BIGINT,
        |  count(DISTINCT o_orderkey)::BIGINT,
        |  (count(*) - count(DISTINCT o_orderkey))::BIGINT FROM orders
        |UNION ALL SELECT 'part', count(*)::BIGINT,
        |  count(DISTINCT p_partkey)::BIGINT,
        |  (count(*) - count(DISTINCT p_partkey))::BIGINT FROM part
        |ORDER BY table_name""".stripMargin),

    // Tokenizer fertility per language: BPE-ish subword tokens per
    // whitespace word — the "how expensive is this language for the
    // tokenizer" metric driving vocab-size and mixture decisions.
    // Exact integer sums; ratio in ppm.
    "tokenizer_fertility" -> Query((s, dir) =>
      tc(s, dir, "documents")
        .groupBy("lang")
        .agg(sum(TextOps.bpeTokenCount(col("text")).cast("long")).as("n_bpe"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_words"))
        .withColumn("fertility_ppm",
          expr("(n_bpe * 1000000) DIV greatest(n_words, 1)"))
        .orderBy("lang"),
      s"""WITH d AS (SELECT lang,
         |    len(regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9${TextOps.wsChars}]'))::BIGINT
         |      AS n_bpe,
         |    len(${ExtensionQueries.toksSql})::BIGINT AS n_words
         |  FROM documents)
         |SELECT lang, sum(n_bpe)::BIGINT AS n_bpe,
         |  sum(n_words)::BIGINT AS n_words,
         |  ((sum(n_bpe) * 1000000) // greatest(sum(n_words), 1))::BIGINT
         |    AS fertility_ppm
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin),

    // Per-source log₂ document-length histogram — the size-distribution
    // fingerprint that catches truncation/concatenation bugs upstream
    // (integer floor-log₂ via bit length, no libm).
    "corpus_length_histogram" -> Query((s, dir) =>
      tc(s, dir, "documents")
        .select(col("source"),
          (length(bin(greatest(length(col("text")), lit(1)))) - 1)
            .cast("int").as("log2_chars"))
        .groupBy("source", "log2_chars")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "log2_chars"),
      """SELECT source,
        |  (length(format('{:b}', greatest(length(text), 1))) - 1)::INT
        |    AS log2_chars,
        |  count(*)::BIGINT AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY source, log2_chars""".stripMargin),

    // Calendar dimension over the events span — the date spine every
    // warehouse joins against; generated, never loaded. Weekday is
    // ISO (0 = Monday) to dodge the engines' conflicting dayofweek
    // origins; weeks/months/quarters via date_trunc.
    "calendar_dim" -> Query((s, dir) => {
      val span = t(s, dir, "events")
        .agg(date_trunc("day", min(col("ts"))).as("d0"),
          date_trunc("day", max(col("ts"))).as("d1"))
      span.select(explode(
          sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        .select(col("day"),
          weekday(col("day")).cast("int").as("iso_weekday"),
          (weekday(col("day")) >= 5).as("is_weekend"),
          date_trunc("week", col("day")).as("week_start"),
          date_trunc("month", col("day")).as("month_start"),
          quarter(col("day")).cast("int").as("quarter"))
        .orderBy("day")
    },
      """WITH span AS (SELECT date_trunc('day', min(CAST(ts AS TIMESTAMP)))
        |    AS d0, date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS d1
        |  FROM events),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |    AS day FROM span)
        |SELECT day, (isodow(day) - 1)::INT AS iso_weekday,
        |  isodow(day) - 1 >= 5 AS is_weekend,
        |  date_trunc('week', day) AS week_start,
        |  date_trunc('month', day) AS month_start,
        |  quarter(day)::INT AS quarter
        |FROM days ORDER BY day""".stripMargin),

    // New-vs-returning growth accounting: per day, active users, users
    // seen for the FIRST time, and the cumulative distinct-user count —
    // computed without any cumulative-distinct state (first-seen day is
    // a per-user min; the cumulative count is a running sum of news).
    "metrics_new_users" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      val active = ev.distinct().groupBy("day")
        .agg(count(lit(1)).as("n_active"))
      val firstDay = ev.groupBy("user_id").agg(min("day").as("day"))
      val news = firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
      active.join(news, Seq("day"), "left")
        .select(col("day"), col("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_users", sum("n_new").over(
          W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)))
        .orderBy("day")
    },
      """WITH e AS (SELECT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |a AS (SELECT day, count(*)::BIGINT AS n_active
        |      FROM (SELECT DISTINCT user_id, day FROM e) GROUP BY 1),
        |f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
        |n AS (SELECT day, count(*)::BIGINT AS n_new FROM f GROUP BY 1)
        |SELECT a.day, a.n_active, coalesce(n.n_new, 0)::BIGINT AS n_new,
        |  CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY a.day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM a LEFT JOIN n USING (day) ORDER BY a.day""".stripMargin),

    // Rolling engagement: per day, distinct daily actives (DAU), the
    // trailing-7-day distinct actives (WAU), and the integer-ppm
    // stickiness ratio. The sliding DISTINCT is the hard part at scale
    // — computed by exploding each (user, day) into the ≤7 window days
    // it serves (bounded 7× blowup on the DEDUPED user-day pairs, not
    // the raw events) and re-deduplicating per target day. No range
    // join, no per-day re-scan of history.
    "metrics_active_users" -> Query((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val days = ud.select(col("d").as("day")).distinct()
      val windowed = ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("day"))
      val wau = windowed.join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct("user_id").as("wau"))
      val dau = ud.groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("dau"))
      dau.join(wau, Seq("day"))
        .withColumn("stickiness_ppm", expr("(dau * 1000000) DIV wau"))
        .orderBy("day")
    },
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |w AS (SELECT ud.user_id, ud.d + x::INTEGER AS day
        |      FROM ud CROSS JOIN range(0, 7) t(x)),
        |wau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS wau
        |        FROM w WHERE day IN (SELECT day FROM days) GROUP BY 1),
        |dau AS (SELECT d AS day, count(*)::BIGINT AS dau FROM ud GROUP BY 1)
        |SELECT day, dau, wau, (dau * 1000000) // wau AS stickiness_ppm
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin),

    // Model-based quality gate: a fixed-weight linear classifier over
    // hashed text bigrams (the fastText-style filter shape LLaMA/CCNet
    // pipelines run, with deterministic pseudo-weights standing in for
    // trained ones — weight(b) = h60(b) mod 64 mod 21 − 10). Scoring
    // is one narrow codegen'd projection + a per-row lambda fold: no
    // shuffle, no model broadcast, embarrassingly parallel at 100 TB.
    "quality_classifier" -> Query((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val bigrams = expr(
        "transform(slice(__T, 1, size(__T) - 1), " +
          "(x, i) -> concat(x, ' ', element_at(__T, i + 2)))")
      tc(s, dir, "documents")
        .select(col("doc_id"), toks.as("__T"))
        .select(col("doc_id"), bigrams.as("__B"))
        .select(col("doc_id"), size(col("__B")).cast("long").as("n_bigrams"),
          aggregate(col("__B"), lit(0L), (acc, b) =>
            acc + (TextOps.md5Hash60(b) % 64 % 21 - 10)).as("score"))
        .withColumn("keep", col("score") >= 0)
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, ${ExtensionQueries.toksSql} AS T
         |           FROM documents),
         |b AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(T)),
         |                          i -> T[i] || ' ' || T[i + 1])) AS bg
         |  FROM t)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  sum(${ExtensionQueries.md5Hash60Sql("bg")} % 64 % 21 - 10)::BIGINT
         |    AS score,
         |  (sum(${ExtensionQueries.md5Hash60Sql("bg")} % 64 % 21 - 10) >= 0)
         |    AS keep
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Bloom-filter mergeability: set-bit-union of two half-corpus
    // filters IS the full-corpus filter — the per-shard-build-then-OR
    // path that lets 1000 executors build one filter without
    // re-touching data. The equality bit in the output row is the
    // invariant itself, oracle-checked.
    "sketch_bloom_union" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val even = Bloom.build(ev.where(pmod(col("event_id"), lit(2)) === 0),
        "user_id")
      val odd = Bloom.build(ev.where(pmod(col("event_id"), lit(2)) === 1),
        "user_id")
      val union = even.union(odd).distinct()
      val full = Bloom.build(ev, "user_id")
      even.agg(count(lit(1)).as("n_bits_even"))
        .crossJoin(odd.agg(count(lit(1)).as("n_bits_odd")))
        .crossJoin(union.agg(count(lit(1)).as("n_bits_union")))
        .crossJoin(full.agg(count(lit(1)).as("n_bits_full")))
        .withColumn("merge_equals_rebuild",
          col("n_bits_union") === col("n_bits_full"))
    },
      // Replays Bloom.positions: h = md5-60-bit of the key string,
      // h1 = h mod 2^30, h2 = h >> 30, pos_i = (h1 + i·h2) mod 4096.
      {
      def posCte(name: String, filter: String): String =
        s"""$name AS (SELECT DISTINCT (h % 1073741824 + i * (h >> 30)) % 4096
           |    AS pos
           |  FROM (SELECT ${ExtensionQueries.md5Hash60Sql("user_id::VARCHAR")}
           |      AS h
           |    FROM (SELECT DISTINCT user_id FROM events $filter))
           |  CROSS JOIN range(0, 3) r(i))""".stripMargin
      s"""WITH ${posCte("pe", "WHERE event_id % 2 = 0")},
         |${posCte("po", "WHERE event_id % 2 = 1")},
         |${posCte("pf", "")},
         |pu AS (SELECT DISTINCT pos FROM (SELECT pos FROM pe
         |       UNION ALL SELECT pos FROM po))
         |SELECT (SELECT count(*) FROM pe)::BIGINT AS n_bits_even,
         |  (SELECT count(*) FROM po)::BIGINT AS n_bits_odd,
         |  (SELECT count(*) FROM pu)::BIGINT AS n_bits_union,
         |  (SELECT count(*) FROM pf)::BIGINT AS n_bits_full,
         |  (SELECT count(*) FROM pu) = (SELECT count(*) FROM pf)
         |    AS merge_equals_rebuild""".stripMargin
    }),

    // First-order session transition matrix: counts and ppm
    // probabilities of consecutive event-type transitions per user
    // timeline — the Markov view behind "what do users do after X".
    "session_transitions" -> Query((s, dir) => {
      val w = W.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events").select("user_id", "event_id", "ts", "event_type")
        .withColumn("to_state", lead(col("event_type"), 1).over(w))
        .where(col("to_state").isNotNull)
        .groupBy(col("event_type").as("from_state"), col("to_state"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prob_ppm",
          expr("(n * 1000000) DIV (sum(n) OVER (PARTITION BY from_state))"))
        .orderBy("from_state", "to_state")
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type FROM events),
        |p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM e),
        |c AS (SELECT from_state, to_state, count(*)::BIGINT AS n
        |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  ((n * 1000000) // (sum(n) OVER (PARTITION BY from_state)))::BIGINT
        |    AS prob_ppm
        |FROM c ORDER BY from_state, to_state""".stripMargin),

    // Per-document token spans inside each pack — the loss-mask table a
    // packed dataset ships with (span labels and cross-doc attention
    // masks key on these offsets).
    "pack_spans" -> Query((s, dir) =>
      graft.operators.Packing.spans(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          Seq("source"), "doc_id", TextOps.tokenCount(col("text")), budget = 256)
        .select("doc_id", "source", "pack_id", "n_tokens",
          "start_tok", "end_tok")
        .orderBy("doc_id"),
      s"""WITH s AS (SELECT doc_id, source,
         |    len(${ExtensionQueries.toksSql})::BIGINT AS n_tokens
         |  FROM documents),
         |w AS (SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |  FROM s),
         |p AS (SELECT doc_id, source, n_tokens,
         |    CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS pack_id
         |  FROM w)
         |SELECT doc_id, source, pack_id, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY source, pack_id
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0)::BIGINT AS start_tok,
         |  (coalesce(sum(n_tokens) OVER (PARTITION BY source, pack_id
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) + n_tokens)::BIGINT AS end_tok
         |FROM p ORDER BY doc_id""".stripMargin),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
