package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, language ID, quality scoring, token counting,
  * and winnowing document fingerprints.
  *
  * Everything here is pure built-in Catalyst expression composition — no
  * UDFs — so each function stays inside whole-stage codegen and runs as a
  * narrow map over the scan at any scale. Formulas are deliberately
  * mirrorable in ANSI/DuckDB SQL for the oracle gate.
  */
object TextOps {

  /** The whitespace set, spelled out once: Java `\s` includes vertical
    * tab (\x0B), RE2's does not — every Spark regex AND every DuckDB
    * oracle fragment derives from THIS string (escapes pass through SQL
    * single-quotes verbatim, so the same characters reach both engines).
    */
  private[graft] val wsChars = " \\t\\n\\r\\f\\x0B"
  private[graft] val wsClass = s"[$wsChars]"

  /** Control + zero-width characters scrubbed by [[normalizeText]]:
    * C0 controls, DEL, zero-width space/joiners, BOM. `\x{...}` escapes
    * parse identically in Java regex and RE2, so — like [[wsChars]] —
    * the one string serves both engines.
    */
  private[graft] val ctrlChars = "\\x00-\\x1F\\x7F\\x{200B}-\\x{200D}\\x{FEFF}"

  /** Canonical text normalization ahead of fingerprinting/dedup:
    * Unicode NFC (codegen'd [[graft.expressions.NfcNormalize]]), control
    * and zero-width characters to spaces, whitespace runs collapsed to
    * one space, ends trimmed. A pure narrow map that stays inside
    * whole-stage codegen; byte-identical in DuckDB as
    * `trim(regexp_replace(regexp_replace(nfc_normalize(t), ctrl, ' ',
    * 'g'), ws+, ' ', 'g'))`.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.expressions.NfcNormalize.of(text),
        s"[$ctrlChars]", " "),
      wsClass + "+", " "))

  /** Lowercased whitespace tokens, empties removed. Codegen'd
    * ([[graft.expressions.WsTokens]]) — pinned bit-identical to the
    * composed `filter(split(lower(text), ws+), t => t != "")` by
    * WsTokensSpec: split's generic path re-compiled the regex per ROW
    * and the empty-filter lambda evaluated interpreted per TOKEN.
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.WsTokens(
        org.apache.spark.sql.graft.ColumnBridge.expression(text),
        wsClass + "+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenizer count: letter runs, digit runs, and single
    * other non-space marks each count once (the GPT-2 pre-tokenizer
    * shape, minus byte-level merges) — the cheap "how many subword-ish
    * tokens will this cost" estimator a training pipeline filters on.
    * RE2-compatible pattern, so external oracles reproduce it verbatim.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit(s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9$wsChars]"), lit(0)))

  /** Word n-grams of the token array in document order, NON-distinct —
    * repetition metrics need every occurrence, not the set. Documents
    * shorter than n yield one truncated gram (the whole document), so
    * the gram count is never 0 and occurrence fractions stay
    * well-defined. THE one copy of the gram expression: shingles are
    * defined as its distinct form, mirroring the SQL side
    * (`shinglesSql = list_distinct(gramsSql)`), so the truncated-gram
    * convention cannot desynchronize between the two.
    */
  def wordGrams(toks: Column, n: Int): Column =
    // Codegen'd loop (graft.expressions.WordGrams) — semantics pinned
    // bit-identical to the composed
    // transform(sequence(...), i => array_join(slice(toks, i, n), " "))
    // by WordGramsSpec; transform's lambda evaluates interpreted per
    // position with a fresh slice per gram, which dominated the shingle
    // stages' CPU.
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.WordGrams(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks), n))

  /** Distinct word n-shingles ("w1 w2 w3") of the token array. Documents
    * shorter than n yield one truncated shingle (the whole document).
    */
  def wordShingles(toks: Column, n: Int): Column =
    array_distinct(wordGrams(toks, n))

  /** Set Jaccard similarity of two pre-distinct arrays. Int/int division
    * promotes to double identically in Spark and DuckDB.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_distinct(concat(a, b)))

  // --- language ID (n-gram/stopword heuristic) ---------------------------

  /** Tiny per-language stopword marker lists (public, common function
    * words). Deliberately small so the oracle SQL stays readable.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est"),
  )

  // Codegen'd set-membership count (graft.expressions.TokenSetCount) —
  // pinned bit-identical to the composed
  // `size(filter(toks, t => t.isInCollection(set)))` by TokenSetOpsSpec;
  // the filter HOF evaluated its lambda interpreted per TOKEN, and every
  // reference re-evaluated the tokenizer child.
  private def stopwordHits(toks: Column, lang: String): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokenSetCount(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks),
        stopwords(lang)))

  /** Fraction of characters in the CJK unified ideograph block. */
  def cjkRatio(text: Column): Column =
    length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")) /
      greatest(length(text), lit(1))

  /** Heuristic language ID: CJK-dominant → zh, else argmax of stopword
    * hits (ties broken by the fixed order en,es,de,fr), no hits → und.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val langs = Seq("en", "es", "de", "fr")
    // All four languages' hit counts in ONE codegen pass over the tokens
    // (TokenSetCounts) and the argmax pick as ONE expression
    // (ArgmaxLabel) — the old per-language filter compositions were
    // referenced 8× per row (4 langs × best and pick), and because
    // CaseWhen branches evaluate conditionally, codegen INLINES every
    // reference instead of CSE-hoisting them: the expanded pick crossed
    // HotSpot's ~8 KB method JIT ceiling and ran bytecode-interpreted.
    // Equivalence (first-max-wins, max>0 required, null text → 'und')
    // pinned end to end by TokenSetOpsSpec.
    val counts = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokenSetCounts(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks),
        langs.map(stopwords)))
    val pick = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.ArgmaxLabel(
        org.apache.spark.sql.graft.ColumnBridge.expression(counts),
        langs, "und"))
    when(cjkRatio(text) > 0.3, lit("zh"))
      .otherwise(coalesce(pick, lit("und")))
  }

  // --- quality scoring ---------------------------------------------------

  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()]", "")) /
      greatest(length(text), lit(1))

  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", "")) /
      greatest(length(text), lit(1))

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    stopwordHits(toks, "en") / greatest(size(toks), lit(1))
  }

  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    // Codegen'd char-count sum (TokenSetOpsSpec pins ≡ the composed
    // `aggregate(toks, 0, (acc, t) => acc + length(t))`, whose lambda
    // evaluated interpreted per token). The original int accumulator
    // wraps mod 2^32 on each add; long-sum-then-cast-int wraps mod 2^32
    // once — two's-complement addition makes the two identical.
    tokensCharSum(toks).cast("int") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Total character count of the tokens — codegen'd
    * `aggregate(toks, 0L, (acc, t) => acc + length(t))`.
    */
  def tokensCharSum(toks: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokensCharSum(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks)))

  /** Composite quality score in [0,1]: length saturation, low punctuation,
    * alphabetic density, some stopwords (fluency proxy). Weights are fixed
    * so the oracle can mirror them.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text) / lit(100.0), lit(1.0))
    round(
      lit(0.3) * lenScore +
        lit(0.3) * (lit(1.0) - punctRatio(text)) +
        lit(0.2) * alphaRatio(text) +
        lit(0.2) * least(stopwordRatio(text) * 4, lit(1.0)),
      6)
  }

  // --- fingerprinting ----------------------------------------------------

  /** Bag-normalized document fingerprint: md5 of the sorted distinct token
    * set. Two documents with the same vocabulary collide regardless of
    * word order — the cheap first-stage near-dup key.
    */
  def wordSetFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** 60-bit hash from the first 15 hex chars of md5 — an oracle-checkable
    * stand-in for xxhash64 (DuckDB: `('0x' || substring(md5(t),1,15))
    * ::BIGINT`). 60 bits keep the value inside a signed long on both
    * engines; the top 4 bits of the 64-bit space are constant zero.
    */
  def md5Hash60(c: Column): Column =
    graft.expressions.Md5Hash60.of(c)

  /** Char k-gram hashes of a string (first 8 hex chars of md5 each, in
    * document order). Building block for winnowing.
    */
  def gramHashes(text: Column, k: Int = 8): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => substring(md5(substring(text, lit(i), lit(k))), 1, 8))

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03 — public
    * algorithm) as a single array expression: minimum of each sliding
    * window of `w` gram hashes, distinct, sorted.
    *
    * WARNING — small inputs only: expression-tree evaluation re-computes
    * the `gramHashes` child for EVERY window slice (HOF children are not
    * CSE'd), i.e. O(len²) md5 calls per row. For corpus-scale use take
    * [[winnowTable]], which computes each hash once and does the window
    * minima codegen'd.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    val hashes = gramHashes(text, k)
    val minima = transform(
      sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
      j => array_min(slice(hashes, j, lit(w))))
    array_sort(array_distinct(minima))
  }

  /** Repetition metrics per document (the Gopher-paper repetition
    * filters — Rae et al. 2021, public): over the word n-gram
    * OCCURRENCES of each document,
    *   - `n_grams`        total n-gram occurrences,
    *   - `top_gram_frac`  occurrences of the most frequent n-gram / total,
    *   - `dup_gram_frac`  occurrences of grams appearing more than once / total,
    *   - `ttr`            type-token ratio (distinct tokens / tokens).
    * Boilerplate-heavy or looping documents score high on the fracs and
    * low on ttr; a curation pipeline thresholds on them.
    *
    * Plan shape: one narrow gram explode, then two hash aggregations —
    * (id, gram) counts and per-id rollup — both with map-side partial
    * aggregation, plus a co-partitioned join back to the per-doc ttr.
    * Per-group state is bounded by document length (no corpus-scale
    * skew key exists), so the plan survives arbitrary corpus size.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
    val perDoc = toks.select(col("id"),
      (size(array_distinct(col("t"))) / greatest(size(col("t")), lit(1))).as("ttr"))
    val counts = toks
      .select(col("id"), explode(wordGrams(col("t"), n)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
    val rolled = counts.groupBy("id").agg(
      sum(col("c")).as("n_grams"),
      max(col("c")).as("top"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"))
    rolled.join(perDoc, "id").select(
      col("id"),
      col("n_grams"),
      round(col("top") / col("n_grams"), 6).as("top_gram_frac"),
      round(col("dup") / col("n_grams"), 6).as("dup_gram_frac"),
      round(col("ttr"), 6).as("ttr"))
  }

  /** Token-window chunking: split each document into `chunkTokens`-token
    * chunks advancing by `chunkTokens - overlap` — the
    * embedding/RAG-prep counterpart of sequence packing (packing merges
    * short documents; chunking splits long ones). Output: (id, chunk_id,
    * chunk_text, n_tokens), one row per chunk, chunk_id 0-based in
    * document order; a document never yields zero rows (an empty doc
    * produces one empty chunk). A narrow map + generate — no shuffle —
    * so it runs at corpus scale as a pure scan stage. Tokens are
    * materialized into a column first (HOF re-eval trap) and referenced
    * twice in the chunk transform, which keeps CollapseProject from
    * re-inlining the tokenizer.
    */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int,
      overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    // NULL text -> empty token array (not a null): the doc then takes the
    // one-empty-chunk path instead of emitting a NULL chunk row (oracle
    // coalesces to ''/0 — the engine must match)
    df.select(col(idCol).as("id"),
        coalesce(tokens(col(textCol)), array().cast("array<string>")).as("t"))
      .withColumn("nc", greatest(
        ceil((greatest(size(col("t")), lit(1)) - lit(overlap)) / lit(stride.toDouble)),
        lit(1L)).cast("int"))
      .select(col("id"), posexplode(transform(
        sequence(lit(0), col("nc") - 1),
        j => slice(col("t"), j * stride + 1, lit(chunkTokens)))))
      .select(col("id"), col("pos").as("chunk_id"),
        array_join(col("col"), " ").as("chunk_text"),
        size(col("col")).as("n_tokens"))
  }

  /** Tokenizer-vocabulary induction: the corpus-wide top-`k` tokens by
    * occurrence count, deterministically tie-broken by token. Plan shape
    * at scale: one narrow explode, a map-side-partial hash aggregation
    * over the (small-by-definition) vocabulary, then Spark's
    * `TakeOrderedAndProject` — each partition keeps only its local
    * top-k, so no global sort materializes.
    */
  def vocabTopK(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)

  /** Collocation mining by integer LIFT — the log-free PMI variant
    * (PMI = log lift; log is monotone, so ranking by lift ranks by PMI
    * without a libm call crossing engines). For adjacent token pairs:
    *
    *   lift_micro(x,y) = ⌊c_xy · N · 10⁶ / (c_x · c_y)⌋
    *
    * over OCCURRENCE counts (not distinct-per-doc): c_xy adjacent-pair
    * occurrences, c_x/c_y unigram occurrences, N total pair count.
    * `minCount` suppresses the rare-pair explosion PMI is notorious
    * for. Integer headroom: c_xy·N·10⁶ < 2⁶³ holds while
    * c_xy·N < 9.2e12 — per-shard corpora beyond that should widen to
    * DECIMAL.
    *
    * Scale shape: one narrow map explodes adjacent pairs, ONE shuffle
    * counts pairs, unigram counts ride a second small aggregate joined
    * back by word (broadcast when the vocab is small); top-k through
    * TakeOrderedAndProject.
    */
  def collocationLift(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int, minCount: Long = 5): org.apache.spark.sql.DataFrame = {
    val toks = graft.sources.Tables.rebalanceForCompute(df)
      .select(tokens(col(textCol)).as("t"))
    val pairs = toks.select(explode(expr(
      "transform(sequence(1, greatest(size(t) - 1, 0)), " +
        "i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val cxy = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val cx = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val n = cxy.agg(sum("c_xy").as("n_pairs"))
    cxy.where(col("c_xy") >= minCount)
      .join(cx.select(col("w").as("w1"), col("c_w").as("c_x")), "w1")
      .join(cx.select(col("w").as("w2"), col("c_w").as("c_y")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_xy"),
        expr("(c_xy * n_pairs * 1000000L) DIV (c_x * c_y)")
          .as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Corpus-scale winnowing: (id, fp_winnow, n_winnow) per document.
    * Gram hashes are computed ONCE per row, exploded, and the sliding
    * minima run as a codegen'd window min partitioned by document — the
    * plan is a narrow map + one shuffle by id, linear in total text size
    * (the expression form above is quadratic per row). Output equals
    * `md5(concat(sorted distinct minima))` / count exactly.
    */
  def winnowTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val base = df.select(col(idCol).as("id"), gramHashes(col(textCol), k).as("hs"))
    val ex = base.select(col("id"), size(col("hs")).as("sz"),
      posexplode(col("hs")).as(Seq("pos", "h")))
    val win = W.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    ex.withColumn("m", min(col("h")).over(win))
      .where(col("pos") <= greatest(col("sz") - w, lit(0))) // pos is 0-based
      .groupBy(col("id"))
      .agg(array_sort(collect_set(col("m"))).as("fp"))
      .select(col("id"),
        md5(array_join(col("fp"), "")).as("fp_winnow"),
        size(col("fp")).as("n_winnow"))
  }
}
