package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.{Dedup, Html, Multimodal, Similarity, Spans}
import graft.sources.Tables

/** LLM-training-data pipeline operators (driver mandate, SURVEY §7.3):
  * dedup family, similarity search, text analysis, multimodal plumbing —
  * each driver-checkable with a DuckDB oracle. Where the production fast
  * path uses xxhash64 (not available in DuckDB), the driver-checked
  * query runs the same operator with an oracle-expressible hash
  * (`TextOps.md5Hash60`) — the operator code is identical, only the
  * pluggable hash differs, and the xxhash64 path keeps its ScalaTest
  * equivalence coverage. LSH bucket keys are reproduced exactly in SQL
  * from `Similarity.planeValues` literals.
  */
object ExtensionQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** CPU-heavy narrow transforms over a few-row-group table serialize on
    * the unsplittable scan — rebalance first (no-op on real inputs).
    */
  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  // --- shared DuckDB SQL fragments (mirror TextOps exactly) -------------

  /** Tokens of `text`: lowercase, whitespace split, empties removed.
    * The whitespace class is INTERPOLATED from `TextOps.wsChars` — one
    * source of truth for both engines (RE2's `\s` lacks \x0B; Java's
    * includes it, so implicit classes drift).
    */
  private[queries] val toksSql =
    s"list_filter(string_split_regex(lower(text), '[${TextOps.wsChars}]+'), x -> x != '')"

  /** md5-derived 60-bit hash of a SQL expression — THE one copy of the
    * contract that must stay byte-equivalent to `TextOps.md5Hash60`.
    */
  private[queries] def md5Hash60Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** Squared-L2 between `e.v` and `c.c` as the sequential fold
    * `Kmeans.sqDist` runs — usable wherever those aliases are in scope.
    */
  private[queries] val kmSqDistSql =
    "list_sum(list_transform(range(1, len(e.v) + 1), " +
      "i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))"

  /** DuckDB replay of `Kmeans.fitCentroids`' loop on the embeddings
    * table: CTE-body fragment (no WITH keyword) defining `e` (double
    * vectors), `u` (fixed-point components), `c0` (lowest-id seeds) and
    * `a$i`/`g$i`/`c$i` per unrolled Lloyd round — final centroids in
    * `c$iters`, final sums/sizes in `g$iters`.
    */
  private[queries] def kmeansCtesSql(k: Int, iters: Int): String = {
    def kmIter(i: Int): String =
      s"""a$i AS (SELECT e.vec_id, c.cid FROM e CROSS JOIN c${i - 1} c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY $kmSqDistSql, c.cid) = 1),
        |g$i AS (SELECT a.cid, u.pos, sum(u.fx) AS s, count(*) AS n
        |  FROM a$i a JOIN u USING (vec_id) GROUP BY 1, 2),
        |c$i AS (SELECT cid,
        |    list((s::DOUBLE / n) / 1048576.0 ORDER BY pos) AS c
        |  FROM g$i GROUP BY cid)""".stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |u AS (SELECT vec_id,
      |    generate_subscripts(embedding, 1)::BIGINT AS pos,
      |    floor(unnest(embedding::DOUBLE[]) * 1048576.0)::BIGINT AS fx
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, v AS c FROM e
      |  ORDER BY vec_id LIMIT $k),
      |${(1 to iters).map(kmIter).mkString(",\n")}""".stripMargin
  }

  // --- shared text-scoring fragments (mirror TextOps exactly; used by
  // text_quality / text_langid here and corpus_curate's composition) ---

  /** Stopword hits of `lang` over the document's tokens. */
  private[queries] def hitsSql(lang: String): String =
    s"len(list_filter($toksSql, x -> list_contains([" +
      TextOps.stopwords(lang).map("'" + _ + "'").mkString(",") + "], x)))"

  private[queries] val punctRatioSql =
    """length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) /
      |    greatest(length(text), 1)""".stripMargin
  private[queries] val alphaRatioSql =
    """length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) /
      |    greatest(length(text), 1)""".stripMargin
  private[queries] val cjkRatioSql =
    raw"""length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) /
      |    greatest(length(text), 1)""".stripMargin

  /** Composite quality over pre-aliased n_tokens/punct/alpha and the
    * English stopword-hit column `sw`.
    */
  private[queries] def qualitySql(sw: String = "sw"): String =
    s"""round(
       |  0.3 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct) +
       |  0.2 * alpha + 0.2 * least($sw / greatest(n_tokens, 1) * 4, 1.0), 6)""".stripMargin

  /** Language decision over pre-aliased en/es/de/fr/cjk columns. */
  private[queries] val predLangCaseSql =
    """CASE WHEN cjk > 0.3 THEN 'zh'
      |       WHEN en = greatest(en, es, de, fr) AND en > 0 THEN 'en'
      |       WHEN es = greatest(en, es, de, fr) AND es > 0 THEN 'es'
      |       WHEN de = greatest(en, es, de, fr) AND de > 0 THEN 'de'
      |       WHEN fr = greatest(en, es, de, fr) AND fr > 0 THEN 'fr'
      |       ELSE 'und' END""".stripMargin

  /** Word n-grams over token list `T` in document order, NON-distinct
    * (every occurrence — repetition metrics count multiplicity). The
    * coalesce aligns the zero-token edge with Spark: slicing an EMPTY
    * DuckDB list yields NULL where Spark's slice+array_join yields ''
    * — without it a whitespace-only document would have gram [NULL]
    * here but [''] in the engine (NULL never equi-joins, '' does).
    */
  private def gramsSql(T: String, n: Int): String =
    s"list_transform(range(1, greatest(len($T) - ${n - 1}, 1) + 1), " +
      s"i -> coalesce(array_to_string($T[i:i+${n - 1}], ' '), ''))"

  /** Distinct word n-shingles over token list `T`. */
  private def shinglesSql(T: String, n: Int): String =
    s"list_distinct(${gramsSql(T, n)})"

  private def jaccardSql(a: String, b: String): String =
    s"len(list_intersect($a, $b)) / len(list_distinct($a || $b))"

  /** All-pairs exact-Jaccard via an inverted index (co-occurrence counts):
    * |A∩B| from the shingle index self-join, |A∪B| = sa+sb-c. Identical
    * output to the naive all-pairs list-intersection CTE but ~100× faster
    * in DuckDB — the oracle must not become the slow side of the gate.
    * CTE yields `p(id_a, id_b, jaccard_expr …)`; caller appends SELECT.
    */
  private[queries] def fastPairsCte(n: Int, thresh: Double,
      src: String = "documents"): String = {
    val sh = shinglesSql("T", n)
    s"""toks AS (SELECT doc_id, $toksSql AS T FROM $src),
       |sh AS (SELECT doc_id, $sh AS s FROM toks),
       |ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
       |co AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
       |       FROM ex a JOIN ex b USING (h) WHERE a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(s) AS sz FROM sh),
       |p AS (SELECT ia AS id_a, ib AS id_b,
       |        c / (sa.sz + sb.sz - c) AS jacc
       |      FROM co JOIN sz sa ON co.ia = sa.doc_id
       |      JOIN sz sb ON co.ib = sb.doc_id
       |      WHERE c / (sa.sz + sb.sz - c) >= $thresh)""".stripMargin
  }

  /** Explicit double cosine matching Similarity.cosine's fold order. */
  private[queries] def cosineSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) / " +
      s"(sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]))) * " +
      s"sqrt(list_sum(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i]))))"

  lazy val registry: Registry = Registry(
    // Exact dedup by normalization key (hash-groupBy, one shuffle).
    "dedup_exact" -> Query((s, dir) =>
      Dedup.exactByKey(t(s, dir, "documents"), "doc_id",
          lower(substring(col("text"), 1, 40)))
        .orderBy("keep_id"),
      """SELECT lower(substr(text, 1, 40)) AS dup_key, min(doc_id) AS keep_id,
        |  count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),

    // MinHash + LSH banding, exact-Jaccard verified (word 3-shingles).
    // The oracle is the exhaustive exact-Jaccard pair set; LSH is
    // probabilistic, but on the fixed (seed-42) fixtures the qualifying
    // pairs sit at j≈0.98-0.99 where the 16×2 banding miss probability is
    // (1-j²)^16 < 1e-20, and no pair falls in the marginal band
    // [0.5, 0.9) — verified at sf0.001/0.01/0.1. A regenerated dataset
    // with borderline pairs would need this oracle demoted to rows-only.
    "dedup_minhash_lsh" -> Query((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          shingleLen = 3, numHashes = 32, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      s"""WITH ${fastPairsCte(3, 0.5)}
         |SELECT id_a, id_b, round(jacc, 6) AS jaccard
         |FROM p ORDER BY id_a, id_b""".stripMargin),

    // Exact n-gram Jaccard with size blocking (word 2-shingles, no misses).
    "dedup_ngram_jaccard" -> Query((s, dir) =>
      Dedup.ngramJaccardNearDups(t(s, dir, "documents"), "doc_id", "text",
          shingleLen = 2, threshold = 0.6)
        .orderBy("id_a", "id_b"),
      s"""WITH ${fastPairsCte(2, 0.6)}
         |SELECT id_a, id_b, round(jacc, 6) AS jaccard
         |FROM p ORDER BY id_a, id_b""".stripMargin),

    // Collocation mining: top-50 adjacent token pairs by integer lift
    // (log-free PMI ranking), occurrence counts, min support 5.
    "collocation_lift" -> Query((s, dir) =>
      TextOps.collocationLift(t(s, dir, "documents"), "text", k = 50),
      s"""WITH toks AS (SELECT $toksSql AS T FROM documents),
         |pr AS (SELECT unnest(list_transform(range(1, len(T)),
         |    i -> struct_pack(w1 := T[i], w2 := T[i + 1]))) AS p FROM toks),
         |pairs AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM pr),
         |cxy AS (SELECT w1, w2, count(*) AS c_xy FROM pairs GROUP BY 1, 2),
         |cw AS (SELECT w, count(*) AS c_w FROM (
         |    SELECT unnest(T) AS w FROM toks) u GROUP BY 1),
         |n AS (SELECT sum(c_xy)::BIGINT AS n_pairs FROM cxy)
         |SELECT w1, w2, c_xy,
         |  ((c_xy * n_pairs * 1000000) // (a.c_w * b.c_w))::BIGINT
         |    AS lift_micro
         |FROM cxy JOIN cw a ON cxy.w1 = a.w JOIN cw b ON cxy.w2 = b.w, n
         |WHERE c_xy >= 5
         |ORDER BY lift_micro DESC, w1, w2 LIMIT 50""".stripMargin),

    // Asymmetric containment (|A∩B|/|A| >= 0.8): the snippet/quote
    // detector symmetric Jaccard misses; directed pairs, prefix filter
    // on the contained side, integer threshold test. Corpus capped at
    // 1200 docs: the fixture's synthetic vocabulary is tiny, so EVERY
    // bigram is a hot key and candidate volume grows ~quadratically —
    // the adversarial case for containment joins (real corpora have
    // large Zipfian shingle universes that keep the prefix join
    // selective; the spec proves exactness against brute force).
    "dedup_containment" -> Query((s, dir) =>
      Dedup.containmentPairs(
          t(s, dir, "documents").where(col("doc_id") < 1200),
          "doc_id", "text", shingleLen = 2, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS T FROM documents
         |  WHERE doc_id < 1200),
         |sh AS (SELECT doc_id, ${shinglesSql("T", 2)} AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
         |co AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
         |       FROM ex a JOIN ex b USING (h)
         |       WHERE a.doc_id != b.doc_id GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(s) AS sz FROM sh)
         |SELECT ia AS id_a, ib AS id_b,
         |  round(c::DOUBLE / sa.sz, 6) AS containment
         |FROM co JOIN sz sa ON co.ia = sa.doc_id
         |WHERE c * 1000 >= 800 * sa.sz AND sa.sz > 0
         |ORDER BY id_a, id_b""".stripMargin),

    // Substring-level dedup (Lee et al. 2022 shape): maximal cross-doc
    // duplicated token spans of length >= 10, via positional gram
    // hashing + gaps-and-islands merge — no suffix array, no pair space.
    "dedup_spans" -> Query((s, dir) =>
      Spans.duplicatedSpans(tc(s, dir, "documents"), "doc_id", "text",
          k = 10, minDocs = 2)
        .orderBy("doc_id", "span_start"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS T FROM documents),
         |gp AS (SELECT doc_id, i AS pos, array_to_string(T[i:i+9], ' ') AS g
         |       FROM toks, unnest(range(1, greatest(len(T) - 9, 0) + 1)) AS t(i)),
         |d AS (SELECT g FROM gp GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |h AS (SELECT doc_id, pos FROM gp JOIN d USING (g)),
         |b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (
         |        PARTITION BY doc_id ORDER BY pos) <= 10 THEN 0 ELSE 1 END AS brk
         |      FROM h),
         |s AS (SELECT doc_id, pos, sum(brk) OVER (
         |        PARTITION BY doc_id ORDER BY pos) AS island FROM b)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
         |  max(pos) + 9 - min(pos) + 1 AS span_tokens
         |FROM s GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin),

    // Removal side: every duplicated gram occurrence except the
    // lexicographically first (doc_id, pos) is stripped; unique and
    // short documents pass through unchanged.
    "dedup_span_removal" -> Query((s, dir) =>
      Spans.removeDuplicateSpans(tc(s, dir, "documents"), "doc_id", "text",
          k = 10, minDocs = 2)
        .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS T FROM documents),
         |gp AS (SELECT doc_id, i AS pos, array_to_string(T[i:i+9], ' ') AS g
         |       FROM toks, unnest(range(1, greatest(len(T) - 9, 0) + 1)) AS t(i)),
         |d AS (SELECT g FROM gp GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |r AS (SELECT gp.doc_id, gp.pos, row_number() OVER (
         |        PARTITION BY gp.g ORDER BY gp.doc_id, gp.pos) AS rn
         |      FROM gp JOIN d USING (g)),
         |m AS (SELECT DISTINCT doc_id, pos + u.i AS tp
         |      FROM r, unnest(range(0, 10)) AS u(i) WHERE rn > 1),
         |tk AS (SELECT doc_id, i AS tp, T[i] AS tok
         |       FROM toks, unnest(range(1, len(T) + 1)) AS t(i)),
         |kept AS (SELECT tk.doc_id, tk.tp, tk.tok FROM tk
         |         LEFT JOIN m ON tk.doc_id = m.doc_id AND tk.tp = m.tp
         |         WHERE m.doc_id IS NULL),
         |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text,
         |              count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(ka.clean_text, '') AS clean_text,
         |  coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
         |  (len(T) - coalesce(ka.n_kept, 0))::BIGINT AS n_removed
         |FROM toks t LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Incremental minhash dedup: a simulated new batch (doc_id % 5 = 0)
    // against the standing corpus — the per-ingest production shape.
    // Same recall caveat as dedup_minhash_lsh (fixture pairs sit far
    // from the banding margin).
    "dedup_incremental_minhash" -> Query((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashIncremental(
          d.where(col("doc_id") % 5 === 0), d.where(col("doc_id") % 5 =!= 0),
          "doc_id", "text", shingleLen = 3, numHashes = 32, bands = 16,
          threshold = 0.5)
        .orderBy("doc_id", "dup_of")
    },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS T FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("T", 3)} AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
         |co AS (SELECT n.doc_id AS id_new, o.doc_id AS id_old, count(*) AS c
         |       FROM ex n JOIN ex o USING (h)
         |       WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 != 0
         |       GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(s) AS sz FROM sh)
         |SELECT id_new AS doc_id, id_old AS dup_of,
         |  round(c / (sa.sz + sb.sz - c), 6) AS jaccard
         |FROM co JOIN sz sa ON co.id_new = sa.doc_id
         |JOIN sz sb ON co.id_old = sb.doc_id
         |WHERE c / (sa.sz + sb.sz - c) >= 0.5
         |ORDER BY doc_id, dup_of""".stripMargin),

    // Near-dup families as connected components with canonical keepers —
    // the cluster step a dedup pipeline runs after pair generation.
    "dedup_clusters" -> Query((s, dir) =>
      graft.operators.Clusters.dedupClusters(
          t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy("doc_id"),
      s"""WITH RECURSIVE ${fastPairsCte(3, 0.5)},
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS id, least(a, min(b)) AS cluster_id
         |         FROM reach GROUP BY a)
         |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_keeper
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |ORDER BY d.doc_id""".stripMargin),

    // Ensemble dedup: text MinHash pairs UNION embedding-cosine pairs,
    // clustered once — detectors compose at the pair-stream level
    // (fixture embeddings align 1:1 with doc_ids).
    "dedup_ensemble" -> Query((s, dir) => {
      val d = t(s, dir, "documents")
      val textPairs = Dedup.minhashNearDups(d, "doc_id", "text",
        threshold = 0.5).select("id_a", "id_b")
      val embPairs = Similarity.bruteForcePairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4).select("id_a", "id_b")
      graft.operators.Clusters.clustersOver(d, "doc_id",
          textPairs.union(embPairs))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${fastPairsCte(3, 0.5)},
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ep AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |       FROM ev a JOIN ev b ON a.vec_id < b.vec_id
         |       WHERE ${cosineSql("a.v", "b.v")} >= 0.4),
         |allp AS (SELECT id_a, id_b FROM p UNION SELECT id_a, id_b FROM ep),
         |edges AS (SELECT id_a AS a, id_b AS b FROM allp
         |          UNION SELECT id_b, id_a FROM allp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS id, least(a, min(b)) AS cluster_id
         |         FROM reach GROUP BY a)
         |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_keeper
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |ORDER BY d.doc_id""".stripMargin),

    // SimHash pigeonhole join. The driver-checked variant hashes tokens
    // with md5Hash60 so DuckDB can replay the signature math exactly;
    // the xxhash64 default stays the production fast path (equivalence
    // of the pigeonhole join itself is spec-asserted on both).
    "dedup_simhash" -> Query((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          maxDist = 3, tokenHash = TextOps.md5Hash60)
        .orderBy("id_a", "id_b"),
      {
      // md5Hash60 in DuckDB: same 15 hex chars of md5, hex-parsed. Bits
      // 60-63 of the hash are constant zero, so their votes are strictly
      // negative and the corresponding sim bits never set — the SQL only
      // generates bits 0-59 (the Spark side computes all 64; bits 60-63
      // evaluate to 0 identically).
      val votes = (0 until 60).map(i =>
        s"sum(((h >> $i) & 1) * 2 - 1) AS v$i").mkString(", ")
      val sim = (0 until 60).map(i =>
        s"(CASE WHEN v$i > 0 THEN (1::BIGINT << $i) ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |h AS (SELECT doc_id,
         |  ${md5Hash60Sql("t")} AS h FROM toks),
         |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
         |s AS (SELECT doc_id, $sim AS sim FROM v)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // Embedding-cosine near-dup pairs (exact, double math).
    "dedup_embedding" -> Query((s, dir) =>
      Similarity.bruteForcePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4)
        .orderBy("id_a", "id_b"),
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT id_a, id_b, cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(${cosineSql("a.v", "b.v")}, 6) AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id) p
         |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin),

    // Brute-force cosine top-k (exactness baseline for ANN).
    "sim_topk_bruteforce" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(${cosineSql("q.v", "c.v")}, 6) AS cos
         |  FROM q JOIN e c ON q.vec_id != c.vec_id)
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // LSH-bucketed ANN top-k (the 100 TB path). The oracle replays the
    // hyperplane projections from planeValues literals, so the bucketing
    // itself — not just the final ranking — is DuckDB-verified.
    "sim_topk_lsh" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, tables = 8, bits = 8)
        .orderBy("query_id", "rank")
    },
      {
      // Exact replay of lshBucketKeys: per (table, bit) the hyperplane
      // components are emitted as double literals (Double.toString
      // round-trips, and embedding::DOUBLE[] widens floats exactly, so
      // the projection sign matches Spark's FloatVecDot bit for bit).
      def planeList(tb: Int, b: Int): String =
        "[" + Similarity.planeValues(tb, b)
          .map(java.lang.Double.toString).mkString(",") + "]"
      def keySql(tb: Int): String =
        (0 until 8).map { b =>
          val dot = s"list_sum(list_transform(range(1, len(v) + 1), " +
            s"i -> v[i] * (${planeList(tb, b)})[i]))"
          s"(CASE WHEN $dot > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
      val keys = (0 until 8).map(tb => s"(${keySql(tb)}) AS k$tb").mkString(", ")
      val collide = (0 until 8).map(tb => s"q.k$tb = c.k$tb").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |k AS (SELECT vec_id, v, $keys FROM e),
         |cand AS (SELECT q.vec_id AS query_id, q.v AS qv,
         |    c.vec_id AS neighbor_id, c.v AS cv
         |  FROM k q JOIN k c ON q.vec_id != c.vec_id AND ($collide)
         |  WHERE q.vec_id < 10),
         |scored AS (SELECT query_id, neighbor_id,
         |  round(${cosineSql("qv", "cv")}, 6) AS cos FROM cand)
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // IVF-style ANN top-k: fixed deterministic coarse quantizer (16
    // argmax-dot Voronoi cells, 4 probed per query). The oracle replays
    // the anchors as literals — assignment, probing, and ranking all
    // DuckDB-verified.
    "sim_topk_ivf" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, cells = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    },
      {
      // Anchor replay mirrors the LSH oracle: Double.toString literals
      // round-trip, embedding::DOUBLE[] widens exactly, list_indexof and
      // array_position both return the FIRST max index (tie rule).
      def anchorList(c: Int): String =
        "[" + Similarity.anchorValues(c)
          .map(java.lang.Double.toString).mkString(",") + "]"
      val dots = (0 until 16).map(c =>
        s"list_sum(list_transform(range(1, len(v) + 1), " +
          s"i -> v[i] * (${anchorList(c)})[i]))").mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |d AS (SELECT vec_id, v, [$dots] AS ds FROM e),
         |c AS (SELECT vec_id, v, list_indexof(ds, list_max(ds)) AS cell FROM d),
         |q AS (SELECT vec_id, v, ds FROM d WHERE vec_id < 10),
         |qx AS (SELECT vec_id, unnest(ds) AS dot,
         |         generate_subscripts(ds, 1) AS idx FROM q),
         |qr AS (SELECT vec_id, idx, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY dot DESC, idx) AS rnk FROM qx),
         |probe AS (SELECT q.vec_id, q.v, qr.idx AS cell
         |          FROM q JOIN qr USING (vec_id) WHERE qr.rnk <= 4),
         |cand AS (SELECT probe.vec_id AS query_id, probe.v AS qv,
         |           c.vec_id AS neighbor_id, c.v AS cv
         |         FROM probe JOIN c ON probe.cell = c.cell
         |           AND probe.vec_id != c.vec_id),
         |scored AS (SELECT query_id, neighbor_id,
         |  round(${cosineSql("qv", "cv")}, 6) AS cos FROM cand)
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // Trained IVF ANN: k-means (k=8, 2 Lloyd rounds) as the coarse
    // quantizer, 3 cells probed per query — train-then-serve, fully
    // oracle-replayed (training loop AND probe/rank).
    "sim_topk_ivfk" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = graft.operators.Kmeans.fit(e, "vec_id", "embedding",
        k = 8, iters = 2)
      Similarity.ivfTrainedTopK(e, e.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, cents, nprobe = 3)
        .orderBy("query_id", "rank")
    },
      s"""WITH ${kmeansCtesSql(k = 8, iters = 2)},
         |ca AS (SELECT e.vec_id, e.v, c.cid AS cell FROM e CROSS JOIN c2 c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY $kmSqDistSql, c.cid) = 1),
         |qp AS (SELECT e.vec_id, e.v, c.cid AS cell FROM e CROSS JOIN c2 c
         |  WHERE e.vec_id < 10
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY $kmSqDistSql, c.cid) <= 3),
         |cand AS (SELECT qp.vec_id AS query_id, qp.v AS qv,
         |    ca.vec_id AS neighbor_id, ca.v AS cv
         |  FROM qp JOIN ca USING (cell) WHERE qp.vec_id != ca.vec_id),
         |scored AS (SELECT query_id, neighbor_id,
         |  round(${cosineSql("qv", "cv")}, 6) AS cos FROM cand)
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // SemDeDup: embedding near-dup pairs blocked by trained k-means
    // cell — pair work is sum(|cell|^2), never n^2. Same threshold as
    // dedup_embedding, so the subset relation is oracle-visible.
    "dedup_semantic" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = graft.operators.Kmeans.fit(e, "vec_id", "embedding",
        k = 8, iters = 2)
      Similarity.semanticNearDups(e, "vec_id", "embedding", cents,
          threshold = 0.4)
        .orderBy("id_a", "id_b")
    },
      s"""WITH ${kmeansCtesSql(k = 8, iters = 2)},
         |ca AS (SELECT e.vec_id, e.v, c.cid AS cell FROM e CROSS JOIN c2 c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY $kmSqDistSql, c.cid) = 1)
         |SELECT id_a, id_b, cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(${cosineSql("a.v", "b.v")}, 6) AS cos
         |  FROM ca a JOIN ca b ON a.cell = b.cell
         |    AND a.vec_id < b.vec_id) p
         |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin),

    // Deterministic per-group downsampling: at most 50 docs per language,
    // chosen by smallest (md5-hash, id) — the pre-mix corpus cap, running
    // through the bounded-heap TopKPerKey operator.
    "sample_per_group" -> Query((s, dir) =>
      graft.operators.Sampling.capPerGroup(
          t(s, dir, "documents"), Seq("lang"), "doc_id", k = 50,
          hashFn = TextOps.md5Hash60)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${md5Hash60Sql("doc_id::VARCHAR")},
         |      doc_id) AS rn
         |  FROM documents) r
         |WHERE rn <= 50 ORDER BY doc_id""".stripMargin),

    // Token / character / punctuation statistics.
    "text_stats" -> Query((s, dir) =>
      tc(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_tokens_bpe"),
        length(col("text")).as("n_chars"),
        round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextOps.alphaRatio(col("text")), 6).as("alpha_ratio"))
        .orderBy("doc_id"),
      raw"""SELECT doc_id,
        |  len($toksSql) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9${TextOps.wsChars}]')) AS n_tokens_bpe,
        |  length(text) AS n_chars,
        |  round(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) /
        |    greatest(length(text), 1), 6) AS punct_ratio,
        |  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) /
        |    greatest(length(text), 1), 6) AS alpha_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Heuristic language ID (stopword argmax + CJK ratio).
    "text_langid" -> Query((s, dir) =>
      tc(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      s"""WITH s AS (SELECT doc_id, lang, text,
         |  ${hitsSql("en")} AS en, ${hitsSql("es")} AS es,
         |  ${hitsSql("de")} AS de, ${hitsSql("fr")} AS fr,
         |  $cjkRatioSql AS cjk
         |FROM documents)
         |SELECT doc_id, lang,
         |  $predLangCaseSql AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin),

    // Composite quality score.
    "text_quality" -> Query((s, dir) =>
      tc(s, dir, "documents").select(
        col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      s"""WITH s AS (SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  ${hitsSql("en")} AS sw,
         |  $punctRatioSql AS punct,
         |  $alphaRatioSql AS alpha
         |FROM documents)
         |SELECT doc_id, ${qualitySql()} AS quality
         |FROM s ORDER BY doc_id""".stripMargin),

    // Document fingerprints: bag-normalized md5 + winnowing (rolling
    // hash) via the single codegen'd WinnowFingerprint expression — a
    // narrow map, no shuffle. (The naive nested-HOF form is quadratic
    // per row and hangs at sf0.1; the explode+window form is linear but
    // shuffles one row per gram.)
    "text_fingerprint" -> Query((s, dir) => {
      val wf = graft.expressions.WinnowFingerprint.of(col("text"))
      tc(s, dir, "documents").select(
          col("doc_id"),
          TextOps.wordSetFingerprint(col("text")).as("fp_wordset"),
          wf.getField("fp_winnow").as("fp_winnow"),
          wf.getField("n_winnow").as("n_winnow"))
        .orderBy("doc_id")
    },
      s"""WITH g AS (SELECT doc_id, text,
         |  list_transform(range(1, greatest(length(text) - 7, 1) + 1),
         |    i -> substring(md5(substring(text, i, 8)), 1, 8)) AS h
         |FROM documents),
         |w AS (SELECT doc_id, text,
         |  list_sort(list_distinct(list_transform(
         |    range(1, greatest(len(h) - 3, 1) + 1),
         |    j -> list_aggregate(h[j:j+3], 'min')))) AS fp
         |FROM g)
         |SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp_wordset,
         |  md5(array_to_string(fp, '')) AS fp_winnow,
         |  len(fp) AS n_winnow
         |FROM w ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition filters: top/duplicate 2-gram occurrence
    // fractions + type-token ratio per document.
    "text_repetition" -> Query((s, dir) =>
      TextOps.repetitionStats(tc(s, dir, "documents"), "doc_id", "text", n = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS T FROM documents),
         |g AS (SELECT doc_id, unnest(${gramsSql("T", 2)}) AS g FROM toks),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |r AS (SELECT doc_id,
         |  CAST(sum(c) AS BIGINT) AS n_grams, max(c) AS top,
         |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
         |FROM c GROUP BY 1)
         |SELECT t.doc_id, r.n_grams,
         |  round(r.top / r.n_grams, 6) AS top_gram_frac,
         |  round(r.dup / r.n_grams, 6) AS dup_gram_frac,
         |  round(len(list_distinct(T)) / greatest(len(T), 1), 6) AS ttr
         |FROM toks t JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Token-budget sequence packing: deterministic pack assignment per
    // source via an exclusive prefix sum of token counts.
    "pack_sequences" -> Query((s, dir) =>
      graft.operators.Packing.assignPacks(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          Seq("source"), "doc_id", TextOps.tokenCount(col("text")), budget = 256)
        .select("doc_id", "source", "n_tokens", "pack_id")
        .orderBy("doc_id"),
      s"""WITH s AS (SELECT doc_id, source, len($toksSql) AS n_tokens
         |  FROM documents),
         |w AS (SELECT doc_id, source, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |FROM s)
         |SELECT doc_id, source, n_tokens,
         |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS pack_id
         |FROM w ORDER BY doc_id""".stripMargin),

    // Canonical text normalization (NFC + control scrub + ws collapse):
    // the step ahead of every fingerprint; identity on ASCII fixtures,
    // but the full expression pipeline runs and both engines replay it.
    "text_normalize" -> Query((s, dir) =>
      tc(s, dir, "documents").select(
        col("doc_id"),
        TextOps.normalizeText(col("text")).as("norm_text"),
        (TextOps.normalizeText(col("text")) =!= col("text")).as("changed"))
        .orderBy("doc_id"),
      s"""WITH n AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
         |    '[${TextOps.ctrlChars}]', ' ', 'g'),
         |    '[${TextOps.wsChars}]+', ' ', 'g')) AS norm_text, text
         |FROM documents)
         |SELECT doc_id, norm_text, norm_text != text AS changed
         |FROM n ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination: 5-gram overlap of the corpus (src1..9)
    // against a held-out benchmark set (src0), benchmark grams broadcast.
    "decontaminate" -> Query((s, dir) => {
      val d = tc(s, dir, "documents")
      graft.operators.Decontaminate.overlap(
          d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
          "doc_id", "text", n = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      s"""WITH toks AS (SELECT doc_id, source, $toksSql AS T FROM documents),
         |g AS (SELECT doc_id, source, unnest(${shinglesSql("T", 5)}) AS gram
         |      FROM toks),
         |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
         |c AS (SELECT g.doc_id,
         |        count(*) AS n_grams,
         |        count(b.gram) AS n_contaminated
         |      FROM g LEFT JOIN bench b ON g.gram = b.gram
         |      WHERE g.source != 'src0' GROUP BY 1)
         |SELECT doc_id, n_grams, n_contaminated,
         |  round(n_contaminated / n_grams, 6) AS contam_frac,
         |  n_contaminated > 0 AS contaminated
         |FROM c ORDER BY doc_id""".stripMargin),

    // Semantic decontamination: corpus vectors within cosine 0.35 of
    // any benchmark vector (vec_id % 37 = 0 plays the benchmark),
    // reporting the best match — benchmark broadcast, corpus unshuffled.
    "decontaminate_semantic" -> Query((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Decontaminate.semantic(
          e.where(col("vec_id") % 37 =!= 0), e.where(col("vec_id") % 37 === 0),
          "vec_id", "embedding", threshold = 0.35)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id AS bench_id, v FROM e WHERE vec_id % 37 = 0),
         |c AS (SELECT vec_id, v FROM e WHERE vec_id % 37 != 0),
         |sc AS (SELECT c.vec_id, b.bench_id,
         |    round(${cosineSql("c.v", "b.v")}, 6) AS cos
         |  FROM c CROSS JOIN b),
         |r AS (SELECT vec_id, bench_id, cos, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rn
         |  FROM sc WHERE cos >= 0.35)
         |SELECT vec_id, bench_id, cos FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin),

    // Deterministic seed-keyed global shuffle order (epoch-0 training
    // order), dense rank without a single-partition window stage.
    "shuffle_order" -> Query((s, dir) =>
      graft.operators.TrainingOrder.shuffleOrder(
          t(s, dir, "documents").select("doc_id"), "doc_id", seed = "s42")
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5('s42' || doc_id::VARCHAR), doc_id) - 1
        |    AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Pack materialization: one concatenated training sequence per pack
    // (md5 of the sequence keeps the oracle row narrow).
    "pack_materialize" -> Query((s, dir) =>
      graft.operators.Packing.materialize(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          Seq("source"), "doc_id", "text",
          TextOps.tokenCount(col("text")), budget = 256)
        .select(col("source"), col("pack_id"), col("n_docs"),
          col("pack_tokens"), md5(col("sequence")).as("seq_md5"))
        .orderBy("source", "pack_id"),
      s"""WITH s AS (SELECT doc_id, source, text, len($toksSql) AS n_tokens
         |  FROM documents),
         |w AS (SELECT doc_id, source, text, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |FROM s),
         |p AS (SELECT doc_id, source, text, n_tokens,
         |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS pack_id
         |FROM w)
         |SELECT source, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS seq_md5
         |FROM p GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin),

    // Training-mixture sampling: greedy per-source token-budget fill in
    // seed-keyed hash order (exact budgets, deterministic membership).
    "mix_to_budget" -> Query((s, dir) =>
      graft.operators.Sampling.mixToBudget(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          Seq("source"), "doc_id", TextOps.tokenCount(col("text")),
          budgets = (0 to 9).map(i =>
            s"src$i" -> (if (i < 5) 1500L else 800L)).toMap,
          seed = "m1")
        .select("doc_id", "source", "n_tokens", "keep")
        .orderBy("doc_id"),
      s"""WITH s AS (SELECT doc_id, source, len($toksSql) AS n_tokens,
         |  ${md5Hash60Sql("'m1' || doc_id::VARCHAR")} AS h FROM documents),
         |w AS (SELECT doc_id, source, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum
         |FROM s)
         |SELECT doc_id, source, n_tokens,
         |  coalesce((cum - n_tokens) <
         |    (CASE WHEN source IN ('src0','src1','src2','src3','src4')
         |          THEN 1500
         |          WHEN source IN ('src5','src6','src7','src8','src9')
         |          THEN 800 END), false) AS keep
         |FROM w ORDER BY doc_id""".stripMargin),

    // Hash-bucketed train/val/test split: stable under corpus growth.
    "split_assign" -> Query((s, dir) =>
      graft.operators.Sampling.assignSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id", seed = "s7",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .orderBy("doc_id"),
      s"""WITH b AS (SELECT doc_id,
         |  ${md5Hash60Sql("'s7' || doc_id::VARCHAR")} % 10000 AS bucket
         |FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 9000 THEN 'train'
         |       WHEN bucket < 9500 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin),

    // Token-window chunking: 64-token chunks, 16-token overlap (stride
    // 48) — the embedding-prep splitter.
    "chunk_documents" -> Query((s, dir) =>
      TextOps.chunkDocs(tc(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_id"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS T FROM documents),
         |n AS (SELECT doc_id, T,
         |  greatest(CAST(ceil((greatest(len(T), 1) - 16) / 48.0) AS BIGINT), 1)
         |    AS nc FROM toks),
         |c AS (SELECT doc_id,
         |  list_transform(range(0, nc), j -> T[j*48+1 : j*48+64]) AS chunks
         |FROM n)
         |SELECT doc_id,
         |  generate_subscripts(chunks, 1) - 1 AS chunk_id,
         |  coalesce(array_to_string(unnest(chunks), ' '), '') AS chunk_text,
         |  coalesce(len(unnest(chunks)), 0) AS n_tokens
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // Tokenizer vocabulary induction: corpus-wide top-100 tokens by
    // occurrence, total-ordered (count desc, token asc) so the cut is
    // deterministic.
    "vocab_topk" -> Query((s, dir) =>
      TextOps.vocabTopK(tc(s, dir, "documents"), "text", k = 100),
      s"""SELECT t AS token, count(*) AS n_occurrences
         |FROM (SELECT unnest($toksSql) AS t FROM documents)
         |GROUP BY 1 ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin),

    // JL-style random projection: 64-d embeddings reduced to 8
    // deterministic plane dots — a narrow codegen'd map, no shuffle.
    "embed_project" -> Query((s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding",
          outDims = 8)
        .orderBy("vec_id"),
      {
      // Same literal-replay contract as sim_topk_lsh: Double.toString
      // round-trips and embedding::DOUBLE[] widens floats exactly.
      def planeList(j: Int): String =
        "[" + Similarity.projPlaneValues(j)
          .map(java.lang.Double.toString).mkString(",") + "]"
      val cols = (0 until 8).map { j =>
        s"round(list_sum(list_transform(range(1, len(v) + 1), " +
          s"i -> v[i] * (${planeList(j)})[i])), 6) AS p$j"
      }.mkString(",\n|  ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT vec_id,
         |  $cols
         |FROM e ORDER BY vec_id""".stripMargin
    }),

    // Corpus report: per-(source, lang) rollup of the curation metrics —
    // the dashboard aggregation a pipeline run ends with. ROLLUP gives
    // per-source and grand-total rows in the same pass.
    "corpus_report" -> Query((s, dir) =>
      tc(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.qualityScore(col("text")).as("quality"),
          (TextOps.langId(col("text")) === col("lang")).cast("int").as("lang_ok"))
        .rollup("source", "lang")
        // mean quality via order-free fixed-point sums (a double avg is
        // partition-order-dependent; quality is already 6-dp so *1e6 is
        // integral up to float noise that round() removes)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(round(col("quality") * 1e6).cast("long")).as("__q6"),
          sum(col("lang_ok")).as("langid_agree"))
        .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
          round(col("__q6") / 1e6 / col("n_docs"), 6).as("avg_quality"),
          col("langid_agree"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first),
      s"""WITH s AS (SELECT source, lang,
         |  len($toksSql) AS n_tokens,
         |  ${hitsSql("en")} AS en, ${hitsSql("es")} AS es,
         |  ${hitsSql("de")} AS de, ${hitsSql("fr")} AS fr,
         |  $punctRatioSql AS punct,
         |  $alphaRatioSql AS alpha,
         |  $cjkRatioSql AS cjk
         |FROM documents),
         |scored AS (SELECT source, lang, n_tokens,
         |  ${qualitySql(sw = "en")} AS quality,
         |  $predLangCaseSql AS pred
         |FROM s)
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE)
         |    / 1000000.0 / count(*), 6) AS avg_quality,
         |  CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
         |    AS langid_agree
         |FROM scored GROUP BY ROLLUP(source, lang)
         |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin),

    // Multimodal plumbing: opaque binary column + typed features. The
    // text column stands in for the blob; real payload decode (BMP/PNG/GIF/JPEG
    // pixels, PCM samples, MP4 keyframes) lives in Multimodal.scala.
    "multimodal_features" -> Query((s, dir) =>
      tc(s, dir, "documents").select(
        col("doc_id"),
        length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text").cast("binary")).as("content_md5"),
        lower(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("header_hex"),
        md5(substring(col("text"), 1, 256)).as("head_md5"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  strlen(text) AS n_bytes,
        |  md5(text) AS content_md5,
        |  lower(hex(substr(text, 1, 8))) AS header_hex,
        |  md5(substr(text, 1, 256)) AS head_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL pixel decode end-to-end over a MIXED-format corpus: even
    // ids are valid padded bottom-up 24-bit BMPs, odd ids valid PNGs
    // whose row filters cycle all five types — both decoded back to the
    // same logical pixels (BMP: padding strip + row un-reverse; PNG:
    // zlib inflate + None/Sub/Up/Average/Paeth unfilter), reduced to
    // per-channel integer sums. The oracle replays the generator
    // arithmetic directly — any decode bug in either path (padding, row
    // order, filter reversal, channel offset) breaks the hash match.
    "multimodal_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoPixelCorpus(s, t(s, dir, "documents"))
      Multimodal.pixelStats(s,
          Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the pixel generator arithmetic (no byte parsing): the
      // Spark side must decode its own synthesized BMPs back to exactly
      // these sums through the real row-padding/bottom-up geometry.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w * h)::BIGINT AS n_pixels,
        |  list_sum(list_transform(list_filter(range(0, w*h*3), i -> i % 3 = 0),
        |    i -> (doc_id*31 + i*7) % 256))::BIGINT AS c0_sum,
        |  list_sum(list_transform(list_filter(range(0, w*h*3), i -> i % 3 = 1),
        |    i -> (doc_id*31 + i*7) % 256))::BIGINT AS c1_sum,
        |  list_sum(list_transform(list_filter(range(0, w*h*3), i -> i % 3 = 2),
        |    i -> (doc_id*31 + i*7) % 256))::BIGINT AS c2_sum
        |FROM m ORDER BY media_id""".stripMargin),

    // REAL sample decode: RIFF chunk walk to `data`, s16le reassembly,
    // peak/energy/count — incl. the -32768 edge sample.
    "multimodal_audio" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoAudioCorpus(s, t(s, dir, "documents"))
      Multimodal.audioStats(s,
          Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      """WITH m AS (SELECT doc_id, 8000 + 100 * (doc_id % 441) AS rate,
        |                  500 + doc_id % 300 AS n FROM documents),
        |s AS (SELECT doc_id, rate, n,
        |        list_transform(range(0, n),
        |          j -> (doc_id*13 + j*37) % 65536 - 32768) AS ss FROM m)
        |SELECT doc_id AS media_id, rate::BIGINT AS sample_rate,
        |  n::BIGINT AS n_samples,
        |  list_max(list_transform(ss, x -> abs(x)))::BIGINT AS peak_abs,
        |  list_sum(list_transform(ss, x -> x*x))::BIGINT AS sum_sq
        |FROM s ORDER BY media_id""".stripMargin),

    // Acoustic fingerprint end-to-end: decode the synthesized PCM WAVs
    // (RIFF walk + s16le reassembly), frame into 64-sample windows,
    // integer energy contour → delta-bit signature. The oracle replays
    // the sample generator arithmetic — any framing/decode/packing
    // off-by-one breaks the exact-integer fingerprints.
    "audio_fingerprint" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoAudioCorpus(s, t(s, dir, "documents"))
      Multimodal.audioFingerprint(s,
          Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the PCM generator arithmetic (same corpus as
      // multimodal_audio): 64-sample frame energies, first-63-delta bit
      // packing, first-occurrence peak frame.
      """WITH m AS (SELECT doc_id, 500 + doc_id % 300 AS n FROM documents),
        |f AS (SELECT doc_id, n, n // 64 AS nf FROM m),
        |e AS (SELECT doc_id, nf,
        |  list_transform(range(0, nf), fr ->
        |    list_sum(list_transform(range(fr*64, fr*64 + 64),
        |      j -> ((doc_id*13 + j*37) % 65536 - 32768)
        |           * ((doc_id*13 + j*37) % 65536 - 32768)))) AS es
        |  FROM f)
        |SELECT doc_id AS media_id, nf::INT AS n_frames,
        |  COALESCE(list_sum(list_transform(range(0, LEAST(nf - 1, 63)), i ->
        |    CASE WHEN es[i + 2] > es[i + 1]
        |         THEN (1::BIGINT << i) ELSE 0 END)), 0)::BIGINT AS fp_bits,
        |  (list_position(es, list_max(es)) - 1)::INT AS peak_frame_idx,
        |  list_sum(es)::BIGINT AS total_energy
        |FROM e ORDER BY media_id""".stripMargin),

    // HTML boilerplate removal end-to-end: deterministic HTML wrapping
    // (title/h1, 25-word paragraphs, id-conditional nav/footer chrome,
    // entities), then the codegen'd RE2-safe strip chain. The oracle
    // reconstructs the expected prose from the raw table — tag leakage,
    // missed chrome, or broken entity decode all break the md5s.
    "html_extract" -> Query((s, dir) => {
      val html = Html.demoHtmlCorpus(tc(s, dir, "documents"))
      html.select(col("doc_id"), Html.extractText(col("html")).as("__t"))
        .select(col("doc_id"),
          size(split(col("__t"), " ")).cast("long").as("n_words"),
          length(col("__t")).cast("long").as("n_chars"),
          md5(col("__t").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    },
      // Reconstructs the post-strip prose (`doc <id> <text>`, whitespace
      // collapsed) straight from the raw table — no HTML parsing in the
      // oracle, so the Spark strip chain is tested, not mirrored.
      """WITH t AS (
        |  SELECT doc_id,
        |    trim('doc ' || doc_id || ' ' ||
        |         trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents)
        |SELECT doc_id, len(string_split(t, ' '))::BIGINT AS n_words,
        |  strlen(t)::BIGINT AS n_chars, md5(t) AS text_md5
        |FROM t ORDER BY doc_id""".stripMargin),

    // REAL keyframe extraction end-to-end: synthesize valid ISO-BMFF
    // files with sample tables (stsz/stco/stss), walk the boxes back,
    // pick 3 evenly-spaced sync samples, and slice their exact byte
    // ranges out of mdat. The oracle replays the generator arithmetic —
    // any off-by-one in the box walk, the 1-based stss numbering, or
    // the chunk-offset table breaks the byte sums.
    "video_keyframes" -> Query((s, dir) => {
      import s.implicits._
      val corpus = Multimodal.demoVideoCorpus(s, t(s, dir, "documents"))
      Multimodal.keyframeStats(s,
          Multimodal.shapeForDecode(corpus.toDF(), 32).as[Multimodal.MediaFile],
          n = 3)
        .toDF().orderBy("media_id", "frame_idx")
    },
      // Replays the MP4 generator arithmetic: ns samples, keyframes at
      // odd 1-based numbers (0-based 0,2,4,…), 3 evenly spaced picks, and
      // per-frame unsigned byte sums. The Spark side must walk real
      // stsz/stco/stss tables and slice real mdat ranges to match.
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS ns,
        |         (4 + doc_id % 5 + 1) // 2 AS k
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, k, LEAST(3, k) AS take, i
        |  FROM m, (SELECT unnest(range(0, 3)) AS i)
        |  WHERE i < LEAST(3, k)),
        |sel AS (
        |  SELECT doc_id, i,
        |         2 * (CASE WHEN take = 1 THEN 0
        |              ELSE (i * (k - 1)) // (take - 1) END) AS s0
        |  FROM f),
        |sized AS (
        |  SELECT doc_id, i, s0,
        |         16 + ((doc_id + s0) % 3) * 8 AS sz
        |  FROM sel)
        |SELECT doc_id AS media_id, i::INT AS frame_idx, s0::INT AS sample_idx,
        |  sz::INT AS n_bytes,
        |  list_sum(list_transform(range(0, sz),
        |    j -> (doc_id*131 + s0*17 + j*7) % 256))::BIGINT AS byte_sum
        |FROM sized ORDER BY media_id, frame_idx""".stripMargin),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
