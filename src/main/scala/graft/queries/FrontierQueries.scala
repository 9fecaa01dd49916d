package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.{Graph, Skyline}
import graft.sources.Tables

/** Round-4 frontier surface: skyline (Pareto) queries, seed-personalized
  * PageRank, label-propagation communities, degree distributions,
  * Benford/skew data-quality audits, readability scoring, exact
  * rank-selected percentiles, and vocabulary-growth tracking.
  *
  * Repo-wide oracle contract throughout: integer/fixed-point arithmetic
  * wherever aggregation or partition order could vary, `div`/`//` floor
  * division only on non-negative operands (where the two engines agree),
  * and tie orders total on both sides.
  */
object FrontierQueries {

  // IMA-ADPCM oracle building blocks, shared VERBATIM by the mono and
  // stereo query oracles so the step table / nibble decomposition /
  // clamp expression cannot drift between them
  private val ImaStepSql: String = Seq(7, 8, 9, 10, 11, 12, 13, 14, 16,
    17, 19, 21, 23, 25, 28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80,
    88, 97, 107, 118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876, 963, 1060,
    1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024,
    3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385,
    24623, 27086, 29794, 32767).zipWithIndex
    .map { case (s, i) => s"($i,$s)" }.mkString(",")
  private val ImaNibSql: String = (0 until 16).map { n =>
    val adj = Seq(-1, -1, -1, -1, 2, 4, 6, 8)(n & 7)
    s"($n,${n & 1},${(n >> 1) & 1},${(n >> 2) & 1}," +
      s"${if (n >= 8) -1 else 1},$adj)"
  }.mkString(",")
  private val ImaNpSql: String =
    "LEAST(GREATEST(d.pred + nb.sgn*(st.s//8 + nb.b0*(st.s//4)" +
      " + nb.b1*(st.s//2) + nb.b2*st.s), -32768), 32767)"

  // MS-ADPCM oracle building blocks, shared by the mono and stereo
  // query oracles (same drift argument as the IMA trio above)
  private val MsCoefSql: String = Seq((256, 0), (512, -256), (0, 0),
    (192, 64), (240, 0), (460, -208), (392, -232)).zipWithIndex
    .map { case ((a, c), i) => s"($i,$a,$c)" }.mkString(",")
  private val MsNibSql: String = {
    val adapt = Seq(230, 230, 230, 230, 307, 409, 512, 614,
      768, 614, 512, 409, 307, 230, 230, 230)
    (0 until 16).map { n =>
      s"($n,${if (n >= 8) n - 16 else n},${adapt(n)})"
    }.mkString(",")
  }
  /** One MS-ADPCM predictor step for channel-suffix `ch` reading its
    * nibble from table alias `nb` — the clamped two-tap update. */
  private def msNpSql(ch: String, nb: String): String =
    s"LEAST(GREATEST(CAST(floor((d.prev$ch*d.c1$ch + d.prev2$ch*d.c2$ch)" +
      s" / 256.0) AS BIGINT) + $nb.sn * d.delta$ch, -32768), 32767)"
  private def msDeltaSql(ch: String, nb: String): String =
    s"LEAST(GREATEST(16, ($nb.ad * d.delta$ch) // 256), 32767)"


  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.rebalanceForCompute(t(s, dir, name))

  /** The sparse supplier-scoped part co-purchase edge list shared by the
    * community / degree queries: parts are linked when the same supplier
    * ships both within one order, 1-in-2 part subsample — the graph that
    * fragments into ~150 components at sf0.01 (same construction as
    * `graph_components`, one scan + one shuffle). Pairs satisfy
    * `src < dst` and are globally DISTINCT — matching the paired
    * [[partEdgesSql]] CTE `e` exactly, so a consumer may pair the two
    * directly (e.g. count edges) without its own canonicalization.
    */
  private def partEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .where(pmod(col("l_partkey"), lit(2)) === 0)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("l_partkey").as("pk"))
    // Codegen'd ordered-pair enumeration (OrderedPairs sorts the set
    // internally) — the flatten/transform/slice composition it replaces
    // evaluated interpreted per element with a fresh slice per pair
    // (OrderedPairsSpec pins multiset equality to the join form).
    li.groupBy("ok", "sk")
      .agg(collect_set(col("pk")).as("ps"))
      .select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
        graft.expressions.OrderedPairs(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("ps")))))
        .as("p"))
      .select(col("p.p1").as("src"), col("p.p2").as("dst"))
      .distinct()
  }

  /** Shared SQL for [[partEdges]]: canonical `u < v` distinct pairs. */
  private val partEdgesSql =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk,
      |         l_partkey AS pk
      |       FROM lineitem WHERE l_partkey % 2 = 0),
      |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |      FROM li a JOIN li b
      |        ON a.ok = b.ok AND a.sk = b.sk AND a.pk < b.pk)""".stripMargin

  /** The rank-selection scaffold shared by `metrics_latency_pcts` and
    * `metrics_winsorize`: events as (event_type, event_id, cents) with
    * each row's per-type rank under the TOTAL (cents, event_id) order
    * (`rn`) and the type's row count (`n`).
    */
  private def rankedEventCents(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    ev.withColumn("rn", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("cents"), col("event_id"))))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("event_type")))
  }

  /** Aggregate picking the cents value at rank ceil(num·n/den) of the
    * per-type sort — the exact (no-interpolation) percentile selector.
    */
  private def rankPick(num: Int, den: Int): org.apache.spark.sql.Column =
    max(when(col("rn") === expr(s"($num * n + ${den - 1}) div $den"),
      col("cents")))

  lazy val registry: Registry = Registry(

    // REAL PNG pixel decode across all three supported color types:
    // the corpus cycles grayscale/RGB/RGBA (filter distance bpp 1/3/4,
    // row filters cycling all five types), so reproducing the oracle's
    // generator arithmetic requires a correct zlib inflate, a correct
    // unfilter at each bpp, AND the gray-replicate / alpha-drop channel
    // mapping. Complements multimodal_pixels (mixed BMP/PNG, RGB only).
    "multimodal_png_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoPngCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the PNG sample-generator arithmetic per color type: the
      // Spark side must arrive at these sums by inflating and unfiltering
      // its own synthesized PNGs. Channel k's sum runs over the w·h·ch
      // sample indices congruent to k; grayscale replicates its single
      // channel into all three outputs, RGBA drops the 4th.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
        |  FROM documents),
        |sums AS (SELECT doc_id, w, h, ch,
        |    list_transform(range(0, ch), k ->
        |      list_sum(list_transform(
        |        list_filter(range(0, w*h*ch), i -> i % ch = k),
        |        i -> (doc_id*31 + i*7) % 256))) AS cs
        |  FROM m)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w*h)::BIGINT AS n_pixels,
        |  cs[1]::BIGINT AS c0_sum,
        |  (CASE WHEN ch = 1 THEN cs[1] ELSE cs[2] END)::BIGINT AS c1_sum,
        |  (CASE WHEN ch = 1 THEN cs[1] ELSE cs[3] END)::BIGINT AS c2_sum
        |FROM sums ORDER BY media_id""".stripMargin),

    // REAL palette-BMP decode: 8-bit and 4-bit indexed bitmaps resolve
    // genuine BGRA color tables through the bottom-up padded row
    // geometry (nibbles unpacked high-first) — the oracle replays the
    // palette arithmetic like the GIF query.
    "multimodal_bmp_indexed" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoBmpPalCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the palette-BMP generator: index of pixel i is
      // (id*31 + i*7) mod np (np = 256 for 8bpp even ids, 16 for 4bpp
      // odd), channel c of color-table entry j is
      // (j*{41,73,97} + {7,11,13}) % 256 in B,G,R order.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 256 ELSE 16 END AS np
        |  FROM documents)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w*h)::BIGINT AS n_pixels,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 41 + 7) % 256))::BIGINT AS c0_sum,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 73 + 11) % 256))::BIGINT AS c1_sum,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 97 + 13) % 256))::BIGINT AS c2_sum
        |FROM m ORDER BY media_id""".stripMargin),

    // REAL TIFF pixel decode: IFD tag walks in BOTH byte orders plus
    // multi-strip reassembly over gray/RGB corpora — the oracle
    // replays the sample generator, the Spark side must parse genuine
    // IFDs (inline and out-of-line values) to match.
    "multimodal_tiff_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoTiffCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the TIFF sample generator per spp (gray replicated,
      // RGB channel-striped) — same shape as the PNG oracle.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
        |  FROM documents),
        |sums AS (SELECT doc_id, w, h, ch,
        |    list_transform(range(0, ch), k ->
        |      list_sum(list_transform(
        |        list_filter(range(0, w*h*ch), i -> i % ch = k),
        |        i -> (doc_id*31 + i*7) % 256))) AS cs
        |  FROM m)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w*h)::BIGINT AS n_pixels,
        |  cs[1]::BIGINT AS c0_sum,
        |  (CASE WHEN ch = 1 THEN cs[1] ELSE cs[2] END)::BIGINT AS c1_sum,
        |  (CASE WHEN ch = 1 THEN cs[1] ELSE cs[3] END)::BIGINT AS c2_sum
        |FROM sums ORDER BY media_id""".stripMargin),

    // TIFF gray-photometric profiles: WhiteIsZero (the fax/scan
    // default — stored bytes invert), BlackIsZero, and palette
    // (Photometric 3, resolved through a real 16-bit ColorMap tag)
    // cycling across compressions and byte orders — the oracle
    // replays invert/identity/palette arithmetic, the Spark side must
    // resolve the photometric from genuine IFDs to match.
    "multimodal_tiff_photometric" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoTiffPhotoCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the photometric arithmetic: stored byte v decodes to
      // 255-v (WhiteIsZero), v (BlackIsZero), or palette entry v's
      // channel (v·{41,73,97} + {7,11,13}) % 256 — compression and byte
      // order are transparent to the sums.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    doc_id % 3 AS ph FROM documents),
        |s AS (SELECT doc_id, w, h, ph,
        |    list_transform(range(0, w*h), i -> (doc_id*31 + i*7) % 256) AS g
        |  FROM m)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w*h)::BIGINT AS n_pixels,
        |  list_sum(list_transform(g, v -> CASE ph WHEN 0 THEN 255 - v
        |    WHEN 1 THEN v ELSE (v*41 + 7) % 256 END))::BIGINT AS c0_sum,
        |  list_sum(list_transform(g, v -> CASE ph WHEN 0 THEN 255 - v
        |    WHEN 1 THEN v ELSE (v*73 + 11) % 256 END))::BIGINT AS c1_sum,
        |  list_sum(list_transform(g, v -> CASE ph WHEN 0 THEN 255 - v
        |    WHEN 1 THEN v ELSE (v*97 + 13) % 256 END))::BIGINT AS c2_sum
        |FROM s ORDER BY media_id""".stripMargin),

    // WebDataset-shaped shard reading: walk REAL tar headers (octal
    // fields, verified checksums, 512-byte padding) across the three
    // layouts real shards ship in — plain ustar, PAX (Python tarfile's
    // default: g/x extension records whose `path` overrides the
    // truncated embedded names), and GNU longname (L records) — and
    // regroup member files into training samples by basename. The
    // oracle replays the shard generator including the recovered long
    // dotted-directory paths; the Spark side must parse genuine
    // extension records to match.
    "shard_tar_samples" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoTarShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.tarShardSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "sample_key")
    },
      // Replays the tar-shard generator: sample s of shard id has a
      // (16 + (id+s)%8)-byte .txt part and a 1-byte .cls label; the
      // key carries the per-style directory (ustar / PAX-path-override /
      // GNU-longname) up to the first dot of the BASENAME — dotted
      // directory names stay intact, pinning both the extension-record
      // name recovery and the WebDataset key-split convention.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents),
        |k AS (SELECT doc_id, s,
        |    CASE doc_id % 3
        |      WHEN 0 THEN ''
        |      WHEN 1 THEN 'paxdir.' || (doc_id % 5)::VARCHAR || '/'
        |                  || repeat('p', 92) || '/'
        |      ELSE 'gnu.dir.' || (doc_id % 7)::VARCHAR || '/'
        |           || repeat('g', 95) || '/'
        |    END || lpad(s::VARCHAR, 6, '0') AS sample_key
        |  FROM m),
        |reg AS (SELECT doc_id AS shard_id, sample_key,
        |    2::INT AS n_parts,
        |    (16 + (doc_id + s) % 8 + 1)::BIGINT AS n_bytes,
        |    (list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |       j -> (doc_id*31 + s*17 + j*7) % 256))
        |     + (doc_id + s) % 256)::BIGINT AS byte_sum
        |  FROM k),
        |-- ustar shards carry one extra old-GNU SPARSE sample (key =
        |-- the next index, always 2): logical realSize bytes with two
        |-- fragments around a zero hole — zeros add nothing to the sum
        |sp AS (SELECT doc_id AS shard_id,
        |    lpad('2', 6, '0') AS sample_key, 1::INT AS n_parts,
        |    (64 + doc_id % 32)::BIGINT AS n_bytes,
        |    (list_sum(list_transform(range(0, 10 + doc_id % 6),
        |       j -> (doc_id*37 + j*13) % 256))
        |     + list_sum(list_transform(range(0, 8 + doc_id % 5),
        |       j -> (doc_id*41 + j*19) % 256)))::BIGINT AS byte_sum
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT * FROM reg UNION ALL SELECT * FROM sp
        |ORDER BY shard_id, sample_key""".stripMargin),

    // GNU incremental-backup tar ingest: dumpdir ('D') listings parse
    // into restore metadata (present / not-dumped / subdirectory
    // records), volume labels skip — previously named profile gaps.
    "shard_tar_dumpdir" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoTarIncrementalCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.tarDumpdirStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "dir")
    },
      // Replays the dumpdir listing generator: control cycle, name
      // char sums (ASCII algebra: 'f'=102, '_'=95, digits 48+d).
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents)
        |SELECT doc_id AS shard_id,
        |  'dir' || (doc_id % 7)::VARCHAR || '/' AS dir,
        |  n::INT AS n_entries,
        |  length(list_filter(range(0, n),
        |    e -> (doc_id + e) % 3 = 0))::INT AS n_present,
        |  length(list_filter(range(0, n),
        |    e -> (doc_id + e) % 3 = 1))::INT AS n_not_dumped,
        |  length(list_filter(range(0, n),
        |    e -> (doc_id + e) % 3 = 2))::INT AS n_subdirs,
        |  list_sum(list_transform(range(0, n),
        |    e -> 293 + doc_id % 10 + e))::BIGINT AS name_char_sum
        |FROM m ORDER BY shard_id, dir""".stripMargin),

    // ZIP-shard reading — the other archive format real datasets ship
    // in: EOCD scan, central-directory walk, per-member local-header
    // re-read, STORED + DEFLATE decode with CRC-32 verification,
    // directory entries skipped, WebDataset key regrouping. The
    // oracle replays the shard generator; compression and framing
    // must be transparent.
    "shard_zip_samples" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoZipShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.zipShardSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "sample_key")
    },
      // Replays the zip-shard generator: same sample formulas as the
      // tar twin, keys carrying the per-layout directory (flat /
      // dotted-dir-with-entry / deflate-all) — the dot inside "imgs.N"
      // pins the key split starting at the basename.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents),
        |k AS (SELECT doc_id, s,
        |    CASE doc_id % 3
        |      WHEN 0 THEN ''
        |      WHEN 1 THEN 'imgs.' || (doc_id % 5)::VARCHAR || '/'
        |      ELSE 'd' || (doc_id % 7)::VARCHAR || '/'
        |    END || lpad(s::VARCHAR, 6, '0') AS sample_key
        |  FROM m)
        |SELECT doc_id AS shard_id, sample_key,
        |  2::INT AS n_parts,
        |  (16 + (doc_id + s) % 8 + 1)::BIGINT AS n_bytes,
        |  (list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |     j -> (doc_id*31 + s*17 + j*7) % 256))
        |   + (doc_id + s) % 256)::BIGINT AS byte_sum
        |FROM k ORDER BY shard_id, sample_key""".stripMargin),

    // ZIP shards whose members are compressed with the codec MATRIX
    // (DEFLATE / BZIP2 / Zstandard / XZ / LZMA / SHRINK / IMPLODE,
    // methods 8/12/93/95/14/1/6) — the non-DEFLATE streams decode
    // through the library adapters (Bzip2, Zstd, Xz + raw LZMA1) and
    // the from-scratch dynamic-LZW unshrink and Shannon-Fano explode,
    // each member still CRC-32-verified. Every codec is pinned
    // against an independent implementation on at least one side.
    "shard_zip_codecs" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoZipCodecShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.zipShardSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "sample_key")
    },
      // Replays the codec-matrix zip-shard generator: flat keys, same
      // sample formulas — compression methods must be transparent.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents)
        |SELECT doc_id AS shard_id, lpad(s::VARCHAR, 6, '0') AS sample_key,
        |  2::INT AS n_parts,
        |  (16 + (doc_id + s) % 8 + 1)::BIGINT AS n_bytes,
        |  (list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |     j -> (doc_id*31 + s*17 + j*7) % 256))
        |   + (doc_id + s) % 256)::BIGINT AS byte_sum
        |FROM m ORDER BY shard_id, sample_key""".stripMargin),

    // ZIP shards behind traditional ZipCrypto (APPNOTE 6.1) — the
    // legacy password scheme real-world dataset drops still use:
    // per-member 12-byte crypt envelopes decrypt (plaintext-fed
    // rolling keys, check-byte + CRC gates), composing with the full
    // 12-method codec matrix beneath. Same oracle as the codec
    // corpus: cipher and codec must BOTH vanish.
    "shard_zip_encrypted" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoZipEncShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.zipShardSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile],
          graft.operators.Multimodal.DemoZipPassword)
        .toDF().orderBy("shard_id", "sample_key")
    },
      // The encrypted corpus shares the codec corpus's formulas: the
      // ZipCrypto envelope must be transparent on top of the codecs.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents)
        |SELECT doc_id AS shard_id, lpad(s::VARCHAR, 6, '0') AS sample_key,
        |  2::INT AS n_parts,
        |  (16 + (doc_id + s) % 8 + 1)::BIGINT AS n_bytes,
        |  (list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |     j -> (doc_id*31 + s*17 + j*7) % 256))
        |   + (doc_id + s) % 256)::BIGINT AS byte_sum
        |FROM m ORDER BY shard_id, sample_key""".stripMargin),

    // GNU multi-volume tar reassembly (`tar -M`) — the tar profile a
    // single shard can't close: members split mid-data across
    // volumes rejoin through 'M' continuation headers (remaining
    // size + GNU offset field verified against bytes collected),
    // volume labels skip, one co-locating shuffle per set. Both
    // directions live-pinned against GNU tar itself in the spec.
    "shard_tar_multivolume" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoTarMultivolumeShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.tarMultivolumeSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "sample_key")
    },
      // Replays the multi-volume generator: the split payload's row
      // unions with the usual sample rows; volume mechanics vanish.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents),
        |samples AS (
        |  SELECT doc_id AS shard_id, lpad(s::VARCHAR, 6, '0') AS sample_key,
        |    2::INT AS n_parts,
        |    (16 + (doc_id + s) % 8 + 1)::BIGINT AS n_bytes,
        |    (list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |       j -> (doc_id*31 + s*17 + j*7) % 256))
        |     + (doc_id + s) % 256)::BIGINT AS byte_sum
        |  FROM m),
        |payload AS (
        |  SELECT doc_id AS shard_id, 'payload' AS sample_key, 1::INT AS n_parts,
        |    (1500 + doc_id % 700)::BIGINT AS n_bytes,
        |    list_sum(list_transform(range(0, 1500 + doc_id % 700),
        |      j -> (doc_id*7 + j*3) % 256))::BIGINT AS byte_sum
        |  FROM documents)
        |SELECT * FROM samples UNION ALL SELECT * FROM payload
        |ORDER BY shard_id, sample_key""".stripMargin),

    // cpio-shard reading — initrd/RPM-style archives as dataset
    // shards: all four on-disk dialects walk (newc/crc ASCII-hex
    // with 4-byte padding and VERIFIED crc checksums, odc octal,
    // old-binary 16-bit words with split 32-bit fields), trailer
    // detection, WebDataset regrouping. Oracle replays the shard
    // generator; the header dialects must be transparent.
    "shard_cpio_samples" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoCpioShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.cpioShardSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "sample_key")
    },
      // Replays the cpio generator: same flat formulas, the four
      // header dialects transparent.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents)
        |SELECT doc_id AS shard_id, lpad(s::VARCHAR, 6, '0') AS sample_key,
        |  2::INT AS n_parts,
        |  (16 + (doc_id + s) % 8 + 1)::BIGINT AS n_bytes,
        |  (list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |     j -> (doc_id*31 + s*17 + j*7) % 256))
        |   + (doc_id + s) % 256)::BIGINT AS byte_sum
        |FROM m ORDER BY shard_id, sample_key""".stripMargin),

    // ar-shard reading — the .deb/.a outer container: 60-byte ASCII
    // headers, '\n' padding, GNU `//` long-name tables and BSD
    // `#1/len` embedded names both resolve, symbol tables skip.
    "shard_ar_samples" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoArShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.arShardSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "sample_key")
    },
      // Replays the ar generator: long-name dialects must resolve, so
      // the key carries the directory prefix on doc_id%3=1.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents)
        |SELECT doc_id AS shard_id,
        |  (CASE WHEN doc_id % 3 = 1
        |     THEN 'dataset-shard-directory-' || (doc_id % 7)::VARCHAR || '/'
        |     ELSE '' END) || lpad(s::VARCHAR, 6, '0') AS sample_key,
        |  2::INT AS n_parts,
        |  (16 + (doc_id + s) % 8 + 1)::BIGINT AS n_bytes,
        |  (list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |     j -> (doc_id*31 + s*17 + j*7) % 256))
        |   + (doc_id + s) % 256)::BIGINT AS byte_sum
        |FROM m ORDER BY shard_id, sample_key""".stripMargin),

    // TFRecord shard reading — TensorFlow's training framing:
    // length + masked-CRC32C headers verified per record (the JDK's
    // independent CRC32C is the checksum pin), whole-file gzip
    // transparent on odd ids. Oracle replays the record formulas.
    "shard_tfrecord_samples" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoTfRecordCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.tfrecordStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id")
    },
      // Replays the TFRecord generator: framing vanishes.
      """WITH m AS (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents)
        |SELECT doc_id AS shard_id, n::INT AS n_records,
        |  list_sum(list_transform(range(0, n),
        |    r -> 18 + (doc_id + r) % 14))::BIGINT AS total_bytes,
        |  list_sum(list_transform(range(0, n), r ->
        |    list_sum(list_transform(range(0, 18 + (doc_id + r) % 14),
        |      j -> (doc_id*29 + r*13 + j*7) % 256))))::BIGINT AS byte_sum
        |FROM m ORDER BY shard_id""".stripMargin),

    // tf.Example feature extraction — the REAL payload of TensorFlow
    // training shards: CRC-verified TFRecord framing, then the
    // protobuf wire walk (packed varint lists, length-delimited
    // nesting, map entries) per record. The oracle replays the
    // token/text/weight arithmetic in closed form.
    "tfexample_features" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoTfExampleCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.tfexampleStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id")
    },
      // Replays the tf.Example generator: framing + protobuf vanish.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents)
        |SELECT doc_id AS shard_id, n::INT AS n_examples,
        |  list_sum(list_transform(range(0, n), e ->
        |    list_sum(list_transform(range(0, 3 + (doc_id + e) % 4),
        |      k -> doc_id*7 + e*3 + k))))::BIGINT AS token_sum,
        |  list_sum(list_transform(range(0, n),
        |    e -> 10 + (doc_id + e) % 12))::BIGINT AS text_char_sum,
        |  list_sum(list_transform(range(0, n),
        |    e -> 1 + (doc_id + e) % 3))::INT AS n_weights
        |FROM m ORDER BY shard_id""".stripMargin),

    // Avro object-container extraction — the Hadoop-era row format:
    // metadata map + schema JSON parse, per-block sync verification,
    // zigzag varints, nullable unions, and the codec grid
    // (null / deflate / snappy+CRC32 / zstandard).
    // Pinned both directions against real Avro in the spec.
    "shard_avro_records" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoAvroCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.avroStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("avro_id")
    },
      // Replays the Avro corpus: container, codecs, and unions vanish.
      """WITH m AS (SELECT doc_id, 4 + doc_id % 5 AS n,
        |    list_sum(list_transform(range(0, length(doc_id::VARCHAR)),
        |      k -> ascii(substring(doc_id::VARCHAR, (k+1)::INT, 1))))
        |      AS id_digit_sum
        |  FROM documents)
        |SELECT doc_id AS avro_id, n::INT AS n_rows,
        |  list_sum(list_transform(range(0, n),
        |    r -> CASE WHEN r % 4 = 0 THEN 0
        |         ELSE doc_id*23 + r*19 END))::BIGINT AS val_sum,
        |  -- 'rec-' (114+101+99+45=359) + id digits + '-' + digit r
        |  list_sum(list_transform(range(0, n),
        |    r -> 359 + id_digit_sum + 45 + 48 + r))::BIGINT
        |    AS name_char_sum,
        |  length(list_filter(range(0, n), r -> r % 4 = 0))::INT AS n_nulls
        |FROM m ORDER BY avro_id""".stripMargin),

    // git packfile census — code-corpus ingest: v2 object walk,
    // OFS_DELTA resolution (always exercised), SHA-1 trailer
    // verification, commit/tree/blob typing. Live-pinned both
    // directions against git itself in the spec.
    "git_pack_objects" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoGitPackCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.gitPackStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("pack_id")
    },
      // Replays the git-pack generator: deltas/zlib/framing vanish.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS nb FROM documents)
        |SELECT doc_id AS pack_id, 1::INT AS n_commits, 1::INT AS n_trees,
        |  nb::INT AS n_blobs,
        |  list_sum(list_transform(range(0, nb), k ->
        |    list_sum(list_transform(range(0, 24 + (doc_id + k) % 16),
        |      j -> (doc_id*37 + k*17 + j*5) % 256))))::BIGINT
        |    AS blob_byte_sum
        |FROM m ORDER BY pack_id""".stripMargin),

    // NumPy .npz embedding drops — npy headers (the python-literal
    // dict, version framing, dtype/order grid) through the zip wrap,
    // live-pinned against real numpy in the spec. Oracle replays the
    // array arithmetic.
    "embeddings_npz" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoNpzCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.npzStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("npz_id")
    },
      // Replays the npz generator: headers and zip wrap vanish.
      """WITH m AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents)
        |SELECT doc_id AS npz_id, 2::INT AS n_arrays,
        |  (n + n*4)::BIGINT AS total_elems,
        |  list_sum(list_transform(range(0, n),
        |    k -> doc_id*13 + k))::BIGINT AS ids_sum,
        |  list_sum(list_transform(range(0, n*4),
        |    j -> (doc_id*7 + (j // 4)*5 + (j % 4)*3) % 1000))::BIGINT
        |    AS feat_sum
        |FROM m ORDER BY npz_id""".stripMargin),

    // safetensors weight files — the tensor-serialization format
    // model/embedding dumps ship in: LE header framing, JSON tensor
    // map, offset validation, the dtype grid. Pinned against a
    // pure-python spec construction in the spec.
    "safetensors_weights" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoSafetensorsCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.safetensorsStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("st_id")
    },
      // Replays the safetensors generator.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS rows_ FROM documents)
        |SELECT doc_id AS st_id, 2::INT AS n_tensors,
        |  (rows_*4 + 4)::BIGINT AS n_params,
        |  list_sum(list_transform(range(0, rows_*4),
        |    j -> doc_id*11 + (j // 4)*7 + (j % 4)))::BIGINT
        |    AS int_param_sum
        |FROM m ORDER BY st_id""".stripMargin),

    // mbox email extraction — the classic text-corpus format
    // (mailing-list archives): message splitting, header unfolding,
    // RFC 2047 subject decode, MIME multipart walking with
    // 7bit/quoted-printable/base64 transfer decodes. Pinned both
    // directions against Python's reference email package in the
    // spec; the oracle reconstructs every character sum.
    "mbox_messages" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoMboxCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.mboxStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("mbox_id")
    },
      // Replays the mbox generator: 'msg ' = 359, 'grüße ' = 825
      // (103+114+252+223+101+32), 'body ' = 462; single-digit m/p.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS nm,
        |    list_sum(list_transform(range(0, length(doc_id::VARCHAR)),
        |      k -> ascii(substring(doc_id::VARCHAR, (k+1)::INT, 1))))
        |      AS ds
        |  FROM documents),
        |msgs AS (SELECT doc_id, nm, ds, unnest(range(0, nm)) AS mi FROM m),
        |per AS (SELECT doc_id, nm, mi,
        |    (CASE WHEN mi % 2 = 0 THEN 359 ELSE 825 END)
        |      + ds + 45 + 48 + mi AS subj,
        |    1 + (doc_id + mi) % 3 AS np,
        |    list_sum(list_transform(range(0, 1 + (doc_id + mi) % 3), p ->
        |      (1 + (doc_id + mi + p) % 3) *
        |      (462 + ds + 45 + 48 + mi + 45 + 48 + p + 10))) AS txt
        |  FROM msgs)
        |SELECT doc_id AS mbox_id, nm::INT AS n_messages,
        |  sum(np)::INT AS n_parts,
        |  sum(subj)::BIGINT AS subject_char_sum,
        |  sum(txt)::BIGINT AS text_char_sum
        |FROM per GROUP BY doc_id, nm ORDER BY mbox_id""".stripMargin),

    // Jupyter-notebook cell extraction — the code-training ingest
    // path: nbformat-4 JSON parse (array-of-lines sources
    // normalized, execution counts, output counting) through the
    // from-scratch JSON reader. The oracle RECONSTRUCTS the exact
    // source strings in SQL and sums their characters — the parse
    // must be character-exact to match.
    "notebook_cells" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoNotebookCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.notebookStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("nb_id")
    },
      // Replays the notebook generator by RECONSTRUCTING each cell's
      // source text and summing characters.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents),
        |cells AS (SELECT doc_id, n, unnest(range(0, n)) AS c FROM m),
        |src AS (SELECT doc_id, n, c,
        |    CASE WHEN c % 2 = 0 THEN
        |      list_aggregate(list_transform(range(0, 2 + (doc_id + c) % 3),
        |        l -> 'x' || doc_id::VARCHAR || '_' || c::VARCHAR || '_' ||
        |             l::VARCHAR || ' = ' || (doc_id + c + l)::VARCHAR ||
        |             chr(10)), 'string_agg', '')
        |    ELSE
        |      list_aggregate(list_transform(range(0, 2 + (doc_id + c) % 3),
        |        l -> '# note ' || doc_id::VARCHAR || '-' || c::VARCHAR ||
        |             '-' || l::VARCHAR || chr(10)), 'string_agg', '')
        |    END AS text FROM cells),
        |sums AS (SELECT doc_id, n, c,
        |    list_sum(list_transform(range(0, length(text)),
        |      k -> ascii(substring(text, (k+1)::INT, 1)))) AS cs
        |  FROM src)
        |SELECT doc_id AS nb_id, n::INT AS n_cells,
        |  length(list_filter(range(0, n), c -> c % 2 = 0))::INT AS n_code,
        |  sum(CASE WHEN c % 2 = 0 THEN cs ELSE 0 END)::BIGINT
        |    AS code_char_sum,
        |  sum(CASE WHEN c % 2 = 1 THEN cs ELSE 0 END)::BIGINT
        |    AS md_char_sum,
        |  length(list_filter(range(0, n), c -> c % 4 = 0))::INT AS n_outputs
        |FROM sums GROUP BY doc_id, n ORDER BY nb_id""".stripMargin),

    // RPM package ingest — the other Linux package family: lead +
    // signature/main rpm header structures (index entries, tag
    // store), provenance tags, then the magic-sniffed compressed
    // newc-cpio payload (gzip/xz/zstd). Oracle replays every formula.
    "shard_rpm_packages" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoRpmCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.rpmPackages(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("rpm_id")
    },
      // Replays the RPM generator: lead/headers/compressor vanish.
      """WITH m AS (SELECT doc_id, 1 + doc_id % 3 AS nf FROM documents)
        |SELECT doc_id AS rpm_id,
        |  'pkg-' || (doc_id % 20)::VARCHAR AS package_name,
        |  '2.' || (doc_id % 9)::VARCHAR AS version,
        |  nf::INT AS n_files,
        |  list_sum(list_transform(range(0, nf),
        |    f -> 22 + (doc_id + f) % 14))::BIGINT AS data_bytes,
        |  list_sum(list_transform(range(0, nf), f ->
        |    list_sum(list_transform(range(0, 22 + (doc_id + f) % 14),
        |      j -> (doc_id*17 + f*29 + j*13) % 256))))::BIGINT AS byte_sum
        |FROM m ORDER BY rpm_id""".stripMargin),

    // SQLite table extraction — the single-file database format
    // annotation drops ship in, read through a from-scratch B-tree
    // walk: page-1 schema resolution, interior+leaf pages, overflow
    // chains (the id%7 long-name rows), and the full serial-type
    // system. Live-pinned both directions against real SQLite
    // (python3) in the spec; the oracle replays the row formulas.
    "sqlite_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoSqliteCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.sqliteStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("db_id")
    },
      // Replays the SQLite corpus: names are 'doc-<id>-<r>' (the id%7
      // row-0 overflow name is 6000 'Z's = char 90), val sums are
      // closed-form, NULL scores land on r%3=0.
      """WITH m AS (SELECT doc_id, 3 + doc_id % 5 AS n,
        |    list_sum(list_transform(range(0, length(doc_id::VARCHAR)),
        |      k -> ascii(substring(doc_id::VARCHAR, (k+1)::INT, 1))))
        |      AS id_digit_sum
        |  FROM documents)
        |SELECT doc_id AS db_id, n::INT AS n_rows,
        |  list_sum(list_transform(range(0, n),
        |    r -> doc_id*31 + r*17))::BIGINT AS val_sum,
        |  list_sum(list_transform(range(0, n), r ->
        |    CASE WHEN doc_id % 7 = 0 AND r = 0 THEN 6000*90
        |    -- 'doc-' + id digits + '-' + digit r: d+o+c=310, '-'x2=90
        |    ELSE 400 + id_digit_sum + 48 + r END))::BIGINT
        |    AS name_char_sum,
        |  length(list_filter(range(0, n), r -> r % 3 = 0))::INT AS n_nulls
        |FROM m ORDER BY db_id""".stripMargin),

    // Pickle structural extraction — crawled pickles read as DATA
    // with zero code execution: scalar/container opcodes evaluate,
    // object construction stays opaque. Protocols 0/2/4 cycled;
    // live-pinned against python3 itself in PickleSpec.
    "pickle_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoPickleCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pickleRows(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("pickle_id")
    },
      // Replays the pickle dict plants: id echo, tag count, text slice.
      // Protocol (doc_id%3) must vanish.
      """SELECT doc_id AS pickle_id, doc_id AS id_echo,
        |  (1 + doc_id % 4)::INT AS n_tags,
        |  substr(text, 1, 24) AS text
        |FROM documents ORDER BY pickle_id""".stripMargin),

    // Object-dtype .npy reading — numpy's pickle fallback walked
    // structurally (_reconstruct + BUILD state); closes the named
    // object-dtype gap. Live-pinned against numpy in PickleSpec.
    "npy_object_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoNpyObjectCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.npyObjectRows(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("npy_id")
    },
      // Replays the object-array element generator: 'e'+'-' = 146 plus
      // '0' = 48 gives the 194 constant; element digit k <= 4 is
      // single-digit.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n,
        |    list_sum(list_transform(range(0, length(doc_id::VARCHAR)),
        |      j -> ascii(substring(doc_id::VARCHAR, (j+1)::INT, 1))))
        |      AS ids
        |  FROM documents)
        |SELECT doc_id AS npy_id, n::INT AS n_elems,
        |  length(list_filter(range(0, n), k -> k % 3 = 2))::INT AS n_nulls,
        |  length(list_filter(range(0, n), k -> k % 3 = 1))::INT AS n_ints,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), k -> k % 3 = 1),
        |    k -> doc_id*7 + k)), 0)::BIGINT AS val_sum,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), k -> k % 3 = 0),
        |    k -> 194 + ids + k)), 0)::BIGINT AS char_sum
        |FROM m ORDER BY npy_id""".stripMargin),

    // Arrow IPC reading — the columnar interchange format of the ML
    // data ecosystem: from-scratch flatbuffers walk (vtables, unions,
    // struct vectors), FILE + STREAM framings, validity bitmaps,
    // varbinary offsets. Corpus written by the independent
    // arrow-vector implementation; the read side is under test.
    "arrow_ipc_records" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoArrowCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.arrowStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("table_id")
    },
      // Replays the Arrow corpus arithmetic: 'rec-'+'-' chars = 404,
      // row digit r <= 6 is single-digit (ascii 48+r), nulls on r%4=0.
      // Framing (file/stream, batch splits) must vanish.
      """WITH m AS (SELECT doc_id, 3 + doc_id % 5 AS n,
        |    list_sum(list_transform(range(0, length(doc_id::VARCHAR)),
        |      k -> ascii(substring(doc_id::VARCHAR, (k+1)::INT, 1))))
        |      AS id_digit_sum
        |  FROM documents)
        |SELECT doc_id AS table_id, n::INT AS n_rows,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 4 != 0),
        |    r -> doc_id*13 + r*7)), 0)::BIGINT AS val_sum,
        |  (n * (452 + id_digit_sum) + n*(n-1)//2)::BIGINT AS name_char_sum,
        |  length(list_filter(range(0, n), r -> r % 4 = 0))::INT AS n_nulls
        |FROM m ORDER BY table_id""".stripMargin),

    // Nested Arrow IPC reading — the column shapes HF-dataset /
    // Feather tables actually ship: dictionary-encoded strings,
    // List<Float32> embeddings, struct metadata, timestamp/date,
    // decimal. Corpus written by the independent arrow-vector
    // implementation (dictionary batches, both framings); the
    // from-scratch reader resolves the dictionary indirection and
    // nesting. The oracle replays the generator arithmetic — the
    // encoding must vanish.
    "arrow_ipc_nested" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoArrowNestedCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.arrowNestedStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("table_id")
    },
      // Replays the nested-Arrow corpus arithmetic: dictionary word
      // char sums alpha=518 beta=412 gamma=515 delta=522 by (id+r)%4;
      // emb row sum = L*(id%97 + r*3) + L(L-1)/2 with L = 1 + r%3;
      // meta char sum 's'+digit = 163 + (id+r)%10. Dictionary
      // indirection, nesting, framing and batch splits must vanish.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents)
        |SELECT doc_id AS table_id, n::INT AS n_rows,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 5 != 3),
        |    r -> CASE (doc_id + r) % 4 WHEN 0 THEN 518 WHEN 1 THEN 412
        |         WHEN 2 THEN 515 ELSE 522 END)), 0)::BIGINT AS tag_char_sum,
        |  length(list_filter(range(0, n), r -> r % 5 = 3))::INT AS n_tag_nulls,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 6 != 5),
        |    r -> (1 + r % 3) * (doc_id % 97 + r * 3)
        |         + (r % 3) * (1 + r % 3) // 2)), 0)::BIGINT AS emb_sum,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 6 != 5),
        |    r -> 1 + r % 3)), 0)::INT AS n_emb_vals,
        |  list_sum(list_transform(range(0, n),
        |    r -> doc_id % 1000 + r + 163 + (doc_id + r) % 10))::BIGINT AS meta_sum,
        |  list_sum(list_transform(range(0, n),
        |    r -> doc_id * 1000 + r * 7))::BIGINT AS ts_sum,
        |  list_sum(list_transform(range(0, n),
        |    r -> doc_id % 20000 + r))::BIGINT AS date_sum,
        |  list_sum(list_transform(range(0, n),
        |    r -> doc_id * 100 + r * 13))::BIGINT AS price_cents
        |FROM m ORDER BY table_id""".stripMargin),

    // Parquet-as-blob — the data-lake file INSIDE a shard, where
    // Spark's native scan cannot reach: parquet-mr writes real files
    // on the executors (codec/version/dictionary cycling), tar wraps
    // them, and the from-scratch thrift/page/RLE/delta reader
    // extracts. The oracle replays the row arithmetic — every layer
    // must vanish.
    "shard_parquet_members" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoParquetShardCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.parquetShardStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("pq_id")
    },
      // Replays the parquet-shard row arithmetic: 'p'=112 + digit of
      // (id+r)%7; codec/version/dictionary and tar framing vanish.
      """WITH m AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents)
        |SELECT doc_id AS pq_id, n::INT AS n_rows,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 4 != 1),
        |    r -> doc_id * 17 + r * 23)), 0)::BIGINT AS v_sum,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 6 != 5),
        |    r -> 160 + (doc_id + r) % 7)), 0)::BIGINT AS s_char_sum,
        |  length(list_filter(range(0, n), r -> r % 4 = 1))::INT AS n_null_v,
        |  length(list_filter(range(0, n), r -> r % 6 = 5))::INT AS n_null_s
        |FROM m ORDER BY pq_id""".stripMargin),

    // Iceberg metadata walk — the other lakehouse format: metadata
    // JSON selection (highest version wins; stale ones dangle), the
    // current snapshot's manifest-list Avro, and nested manifest
    // entries written by the REAL avro library on the executors —
    // decoded by the nested Avro reader. The oracle
    // replays the live/deleted arithmetic.
    "iceberg_snapshot" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoIcebergCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.icebergSnapshotStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("ice_id")
    },
      // Replays the iceberg generator arithmetic: manifest m entry e
      // deleted when (id+m+e)%5==4; records 1+(id+m+e)%9; sizes
      // 100 + id%50 + m*10 + e.
      """SELECT doc_id AS ice_id,
        |  (1 + doc_id % 2)::INT AS format_version,
        |  (doc_id * 1000 + doc_id % 3)::BIGINT AS snapshot_id,
        |  (1 + doc_id % 2)::INT AS n_manifests,
        |  (CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END)::INT
        |    AS n_delete_manifests,
        |  length(flatten(list_transform(range(0, 1 + doc_id % 2), mm ->
        |    list_filter(range(0, 2 + (doc_id + mm) % 3),
        |      e -> (doc_id + mm + e) % 5 != 4))))::INT AS n_live,
        |  length(flatten(list_transform(range(0, 1 + doc_id % 2), mm ->
        |    list_filter(range(0, 2 + (doc_id + mm) % 3),
        |      e -> (doc_id + mm + e) % 5 = 4))))::INT AS n_deleted_entries,
        |  coalesce(list_sum(flatten(list_transform(range(0, 1 + doc_id % 2),
        |    mm -> list_transform(list_filter(range(0, 2 + (doc_id + mm) % 3),
        |      e -> (doc_id + mm + e) % 5 != 4),
        |      e -> 1 + (doc_id + mm + e) % 9)))), 0)::BIGINT AS total_records,
        |  coalesce(list_sum(flatten(list_transform(range(0, 1 + doc_id % 2),
        |    mm -> list_transform(list_filter(range(0, 2 + (doc_id + mm) % 3),
        |      e -> (doc_id + mm + e) % 5 != 4),
        |      e -> 100 + doc_id % 50 + mm * 10 + e)))), 0)::BIGINT
        |    AS total_size
        |FROM documents ORDER BY ice_id""".stripMargin),

    // Delta-Lake log replay — the lakehouse table format's source of
    // truth as a blob: JSON commits with add/remove/metaData actions,
    // and on a third of tables a parquet CHECKPOINT (nested structs +
    // partitionValues MAP, written by parquet-mr, decoded by the
    // nested Parquet reader) that reconstruction must
    // start from. The oracle replays the add/remove arithmetic —
    // both reconstruction paths must land on the same state.
    "delta_snapshot" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoDeltaCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.deltaSnapshotStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("delta_id")
    },
      // Replays the delta generator arithmetic: commit v adds
      // 1+(id+v)%3 files; (v,0) is removed when (id+v+1)%2==0 and
      // v<n-1; meta id "meta-<id>" charsum = 468 + digit asciis.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents)
        |SELECT doc_id AS delta_id,
        |  (n - 1)::BIGINT AS version,
        |  (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE n END)::INT
        |    AS n_commits_applied,
        |  (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::INT
        |    AS used_checkpoint,
        |  (list_sum(list_transform(range(0, n), v -> 1 + (doc_id + v) % 3))
        |   - length(list_filter(range(0, n - 1),
        |       v -> (doc_id + v + 1) % 2 = 0)))::INT AS n_active,
        |  list_sum(flatten(list_transform(range(0, n), v ->
        |    list_transform(list_filter(range(0, 1 + (doc_id + v) % 3),
        |      j -> NOT (j = 0 AND v < n - 1 AND (doc_id + v + 1) % 2 = 0)),
        |      j -> doc_id % 1000 + v * 100 + j))))::BIGINT AS total_size,
        |  list_sum(flatten(list_transform(range(0, n), v ->
        |    list_transform(list_filter(range(0, 1 + (doc_id + v) % 3),
        |      j -> NOT (j = 0 AND v < n - 1 AND (doc_id + v + 1) % 2 = 0)),
        |      j -> 1 + (doc_id + v + j) % 7))))::BIGINT AS total_records,
        |  (CASE WHEN doc_id % 3 = 0
        |    THEN CASE WHEN (doc_id + n - 1) % 2 = 0 THEN 1 ELSE 0 END
        |    ELSE length(list_filter(range(1, n),
        |      v -> (doc_id + v) % 2 = 0)) END)::INT AS n_removes,
        |  (468 + list_sum(list_transform(range(0, length(doc_id::VARCHAR)),
        |    k -> ascii(substring(doc_id::VARCHAR, (k+1)::INT, 1)))))::BIGINT
        |    AS meta_charsum,
        |  1::INT AS n_part_cols
        |FROM m ORDER BY delta_id""".stripMargin),

    // ORC-as-blob — the warehouse-dump format next to parquet:
    // orc-core writes real files on the executors (codec cycling
    // across all five, RLEv2 runs, PRESENT streams, a list column,
    // timestamps, decimals) and the from-scratch postscript/protobuf/
    // RLE reader walks them. The oracle replays the arithmetic.
    "orc_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoOrcCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.orcFileStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("orc_id")
    },
      // Replays the ORC generator arithmetic: v = id*31 + r*7, s
      // charsum 159 + (id+r)%9, li values id%13 + r + j, ts micros,
      // dec cents (id%997)*10 + r.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 5 AS n FROM documents)
        |SELECT doc_id AS orc_id, n::INT AS n_rows,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 4 != 3),
        |    r -> doc_id * 31 + r * 7)), 0)::BIGINT AS v_sum,
        |  length(list_filter(range(0, n), r -> r % 4 = 3))::INT AS n_null_v,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 5 != 4),
        |    r -> 159 + (doc_id + r) % 9)), 0)::BIGINT AS s_charsum,
        |  length(list_filter(range(0, n), r -> r % 5 = 4))::INT AS n_null_s,
        |  coalesce(list_sum(flatten(list_transform(
        |    list_filter(range(0, n), r -> r % 6 != 5),
        |    r -> list_transform(range(0, r % 3),
        |      j -> doc_id % 13 + r + j)))), 0)::BIGINT AS li_sum,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 6 != 5),
        |    r -> r % 3)), 0)::INT AS n_li_vals,
        |  length(list_filter(range(0, n), r -> r % 6 = 5))::INT AS n_null_li,
        |  list_sum(list_transform(range(0, n),
        |    r -> (1600000000 + (doc_id % 100000) * 7 + r) * 1000000
        |         + (r % 4) * 250000))::BIGINT AS ts_micros_sum,
        |  list_sum(list_transform(range(0, n),
        |    r -> (doc_id % 997) * 10 + r))::BIGINT AS dec_cents_sum
        |FROM m ORDER BY orc_id""".stripMargin),

    // NESTED parquet-as-blob — the HF-dataset shapes (list<int64>
    // embedding column with null lists AND null elements, a struct,
    // a bare repeated field) assembled through the from-scratch
    // reader's Dremel record assembly; parquet-mr writes the files on
    // the executors cycling codec/writer-version/dictionary. The
    // oracle replays the arithmetic — the level streams must
    // reassemble exactly.
    "parquet_nested" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoParquetNestedCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.parquetNestedStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("pq_id")
    },
      // Replays the nested-parquet generator arithmetic: emb elements
      // id%89 + r*5 + j (list null on r%5==4, element null on
      // (id+r+j)%7==6), meta.a = id%97 + r*3, meta.s charsum
      // 157 + (id+r)%8, raw values id%11 + r + j.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents)
        |SELECT doc_id AS pq_id, n::INT AS n_rows,
        |  coalesce(list_sum(flatten(list_transform(
        |    list_filter(range(0, n), r -> r % 5 != 4),
        |    r -> list_transform(
        |      list_filter(range(0, 1 + (doc_id + r) % 3),
        |        j -> (doc_id + r + j) % 7 != 6),
        |      j -> doc_id % 89 + r * 5 + j)))), 0)::BIGINT AS emb_sum,
        |  length(flatten(list_transform(
        |    list_filter(range(0, n), r -> r % 5 != 4),
        |    r -> list_filter(range(0, 1 + (doc_id + r) % 3),
        |      j -> (doc_id + r + j) % 7 != 6))))::INT AS n_emb_vals,
        |  length(list_filter(range(0, n), r -> r % 5 = 4))::INT
        |    AS n_null_emb_lists,
        |  length(flatten(list_transform(
        |    list_filter(range(0, n), r -> r % 5 != 4),
        |    r -> list_filter(range(0, 1 + (doc_id + r) % 3),
        |      j -> (doc_id + r + j) % 7 = 6))))::INT AS n_null_elems,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 6 != 5 AND r % 3 != 2),
        |    r -> doc_id % 97 + r * 3)), 0)::BIGINT AS meta_a_sum,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 6 != 5 AND r % 4 != 3),
        |    r -> 157 + (doc_id + r) % 8)), 0)::BIGINT AS meta_s_charsum,
        |  coalesce(list_sum(flatten(list_transform(range(0, n),
        |    r -> list_transform(range(0, (doc_id + r) % 3),
        |      j -> doc_id % 11 + r + j)))), 0)::BIGINT AS raw_sum,
        |  coalesce(list_sum(list_transform(range(0, n),
        |    r -> (doc_id + r) % 3)), 0)::INT AS n_raw
        |FROM m ORDER BY pq_id""".stripMargin),

    // WARC digest integrity — the layer Common Crawl ships on every
    // record: recompute SHA-1 over each content block and compare to
    // the labelled base32 WARC-Block-Digest. Absent headers, real
    // mismatches and non-sha1 labels are distinct classes; the gzip
    // member framing must vanish.
    "warc_digest_audit" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcDigestCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcDigestAudit(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id")
    },
      // Replays the digest-audit plants: class by (id + r) % 4 —
      // ok / absent / mismatch / unsupported label.
      """WITH m AS (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents)
        |SELECT doc_id AS shard_id, n::INT AS n_records,
        |  length(list_filter(range(0, n),
        |    r -> (doc_id + r) % 4 = 0))::INT AS n_ok,
        |  length(list_filter(range(0, n),
        |    r -> (doc_id + r) % 4 = 1))::INT AS n_absent,
        |  length(list_filter(range(0, n),
        |    r -> (doc_id + r) % 4 = 2))::INT AS n_mismatch,
        |  length(list_filter(range(0, n),
        |    r -> (doc_id + r) % 4 = 3))::INT AS n_unsupported
        |FROM m ORDER BY shard_id""".stripMargin),

    // Modern-Arrow reading — the arrow-14+/polars shapes: Utf8View
    // strings (inline + variadic buffers), sparse unions, run-end
    // encoding, half floats. Corpus written by arrow-vector; the
    // oracle replays the row arithmetic — view indirection, union
    // tags, run expansion and half widening must vanish.
    "arrow_ipc_modern" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoArrowModernCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.arrowModernStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("table_id")
    },
      // Replays the modern-Arrow corpus arithmetic: short view strings
      // 'v'+digit+digit = 214 + id%10 + r; long 'payload-<id>-<r>-y…'
      // = 929 + id digit sum + r + (8+r)*121; union int on even rows /
      // float (doubled to stay integral) on odd; REE word by
      // (id + r//2)%3 with 'aa'=194 'bb'=196; halves doubled.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 5 AS n,
        |    list_sum(list_transform(range(0, length(doc_id::VARCHAR)),
        |      k -> ascii(substring(doc_id::VARCHAR, (k+1)::INT, 1))))
        |      AS ids
        |  FROM documents)
        |SELECT doc_id AS table_id, n::INT AS n_rows,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 4 != 3),
        |    r -> CASE WHEN r % 2 = 0 THEN 214 + doc_id % 10 + r
        |         ELSE 929 + ids + r + (8 + r) * 121 END)), 0)::BIGINT
        |    AS s_char_sum,
        |  length(list_filter(range(0, n), r -> r % 4 = 3))::INT AS n_s_nulls,
        |  list_sum(list_transform(list_filter(range(0, n), r -> r % 2 = 0),
        |    r -> doc_id % 1000 + r))::BIGINT AS u_int_sum,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> r % 2 = 1),
        |    r -> 2 * r + 1)), 0)::BIGINT AS u_f8_twice,
        |  coalesce(list_sum(list_transform(
        |    list_filter(range(0, n), r -> (doc_id + r // 2) % 3 != 2),
        |    r -> CASE (doc_id + r // 2) % 3 WHEN 0 THEN 194 ELSE 196 END)),
        |    0)::BIGINT AS ree_char_sum,
        |  length(list_filter(range(0, n),
        |    r -> (doc_id + r // 2) % 3 = 2))::INT AS n_ree_nulls,
        |  list_sum(list_transform(range(0, n),
        |    r -> 2 * r - 3))::BIGINT AS hf_twice
        |FROM m ORDER BY table_id""".stripMargin),

    // GGUF metadata walk — the LLM-era single-file weights format:
    // v3 header, the full KV value-type table (incl. string arrays),
    // tensor descriptors; census + quant-mix audit, spec-constructed
    // fixtures (the safetensors pin posture).
    "gguf_metadata" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoGgufCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.ggufStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("model_id")
    },
      // Replays the GGUF census: name/context from the KV plants,
      // parameter count and quant mix from the tensor generator.
      """SELECT doc_id AS model_id,
        |  'model-' || doc_id::VARCHAR AS model_name,
        |  (doc_id % 4096)::BIGINT AS context_length,
        |  (2 + doc_id % 3)::INT AS n_tensors,
        |  ((2 + doc_id % 3) * (64 + doc_id % 16) * 32)::BIGINT AS n_params,
        |  array_to_string(list_transform(range(0, 2 + doc_id % 3),
        |    l -> CASE (doc_id + l) % 4 WHEN 0 THEN 'f32' WHEN 1 THEN 'f16'
        |         WHEN 2 THEN 'q8_0' ELSE 'q4_k' END), ',') AS quant_mix
        |FROM documents ORDER BY model_id""".stripMargin),

    // 7z shard reading — signature + header CRCs, the property-ID
    // header grammar, folders as coder graphs, encoded headers, solid
    // substreams, empty-stream/empty-file vectors; Copy/LZMA2 members
    // through the Xz adapter over xz-java. Pinned both
    // directions against commons-compress in the spec.
    "shard_7z_samples" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoSevenZipShards(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.sevenZipShardSamples(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("shard_id", "sample_key")
    },
      // Replays the 7z member arithmetic (names, lengths, byte sums);
      // the empty member appears with zero length/sum on doc_id%5=0.
      // Variant-independent, so no CASE on doc_id % 4.
      """WITH m AS (SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::BIGINT)) AS s
        |  FROM documents),
        |rows_ AS (
        |  SELECT doc_id AS shard_id,
        |    'sample-' || s::VARCHAR || '.txt' AS sample_key,
        |    (16 + (doc_id + s) % 8)::BIGINT AS n_bytes,
        |    list_sum(list_transform(range(0, 16 + (doc_id + s) % 8),
        |      j -> (doc_id*31 + s*17 + j*7) % 256))::BIGINT AS byte_sum
        |  FROM m
        |  UNION ALL
        |  SELECT doc_id, 'zz-empty.txt', 0::BIGINT, 0::BIGINT
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT * FROM rows_ ORDER BY shard_id, sample_key""".stripMargin),

    // PDF text extraction — the most common document format in crawled
    // corpora: xref tables AND xref streams (PNG-predicted), object
    // streams, incremental /Prev updates, Flate/LZW content, literal/
    // hex/TJ string forms, ToUnicode CMaps, /Differences encodings. The
    // oracle replays only the page-text split; the six structural
    // profiles (doc_id % 6) must all extract identically.
    "pdf_text_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoPdfCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pdfTexts(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("pdf_id")
    },
      // Replays the PDF corpus text split (two pages: first 40 chars,
      // rest) — profile-independent by construction, so the oracle needs
      // no CASE on doc_id % 6.
      """SELECT doc_id AS pdf_id, 2::INT AS n_pages,
        |  substr(text, 1, 40) || '|' || coalesce(substr(text, 41), '')
        |    AS text
        |FROM documents ORDER BY pdf_id""".stripMargin),

    // Debian package ingest — the archive layers COMPOSED: ar outer
    // walk, debian-binary version check, control.tar/data.tar
    // decompressed by MAGIC (gzip/xz/zstd/plain — extensions can
    // lie), tar walks beneath, RFC-822 control fields parsed, payload
    // files aggregated. Oracle replays every formula.
    "shard_deb_packages" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoDebCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.debPackages(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("deb_id")
    },
      // Replays the .deb generator: ar + compressor + tar all vanish.
      """WITH m AS (SELECT doc_id, 1 + doc_id % 3 AS nf FROM documents)
        |SELECT doc_id AS deb_id,
        |  'pkg-' || (doc_id % 20)::VARCHAR AS package_name,
        |  '1.' || (doc_id % 10)::VARCHAR || '.' || (doc_id % 5)::VARCHAR
        |    AS version,
        |  nf::INT AS n_files,
        |  list_sum(list_transform(range(0, nf),
        |    f -> 20 + (doc_id + f) % 16))::BIGINT AS data_bytes,
        |  list_sum(list_transform(range(0, nf), f ->
        |    list_sum(list_transform(range(0, 20 + (doc_id + f) % 16),
        |      j -> (doc_id*19 + f*23 + j*11) % 256))))::BIGINT AS byte_sum
        |FROM m ORDER BY deb_id""".stripMargin),

    // Common-Crawl-shaped WARC ingest: walk REAL record structure
    // (version line, CRLF headers, Content-Length blocks) and reduce
    // the response payloads; odd crawls ship as `.warc.gz` with each
    // record its own gzip member (Common Crawl's framing), expanded
    // through a real multi-member gunzip — generator-replay oracle
    // again (compression is transparent to the sums).
    "warc_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("crawl_id")
    },
      // Replays the WARC generator: records cycle
      // response/request/metadata; only responses are reduced.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    list_filter(range(0, n), s -> s % 3 = 0) AS resp FROM m)
        |SELECT doc_id AS crawl_id, n::INT AS n_records,
        |  length(resp)::INT AS n_responses,
        |  list_sum(list_transform(resp,
        |    s -> 24 + (doc_id + s) % 16))::BIGINT AS response_bytes,
        |  list_sum(list_transform(resp, s ->
        |    list_sum(list_transform(range(0, 24 + (doc_id + s) % 16),
        |      j -> (doc_id*13 + s*29 + j*7) % 256))))::BIGINT AS payload_sum
        |FROM r ORDER BY crawl_id""".stripMargin),

    // REAL FLAC audio decode: frame walk with CRC-8/16 verification,
    // FIXED (orders 0-4) and LPC predictor reconstruction, Rice
    // residuals (multi-partition, raw-bits escapes, RICE2),
    // CONSTANT/VERBATIM subframes, and all three stereo
    // decorrelations (left/side, mid/side, right/side) across the
    // corpus's sample-formula × encode-shape grid — the oracle
    // replays the sample formulas; FLAC is lossless so the whole
    // codec must vanish.
    "multimodal_audio_flac" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoFlacCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the FLAC corpus sample formulas per id%4 shape —
      // sawtooth / constant / noise mono, interleaved stereo for the
      // left/side variant. Lossless: framing never appears.
      """WITH m AS (SELECT doc_id, 200 + doc_id % 100 AS n,
        |    doc_id % 4 AS var FROM documents),
        |s AS (SELECT doc_id, n,
        |    CASE var
        |      WHEN 0 THEN list_transform(range(0, n),
        |        j -> ((doc_id % 50 + 1) * j) % 4096 - 2048)
        |      WHEN 1 THEN list_transform(range(0, n),
        |        j -> (doc_id*37) % 4000 - 2000)
        |      WHEN 2 THEN list_transform(range(0, n),
        |        j -> (doc_id*13 + j*37) % 65536 - 32768)
        |      ELSE flatten(list_transform(range(0, n), j ->
        |        [(doc_id*13 + j*37) % 65536 - 32768,
        |         (doc_id*19 + j*23) % 65536 - 32768]))
        |    END AS vs
        |  FROM m)
        |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
        |  length(vs)::BIGINT AS n_samples,
        |  list_max(list_transform(vs, y -> abs(y)))::BIGINT AS peak_abs,
        |  list_sum(list_transform(vs, y -> y*y))::BIGINT AS sum_sq
        |FROM s ORDER BY media_id""".stripMargin),

    // ID3v2 provenance + decode-through: parse the tag real-world
    // audio carries PREPENDED (v2.3 big-endian and v2.4 syncsafe
    // frame sizes; ISO-8859-1, BOM-led UTF-16, and UTF-8 text
    // encodings with non-ASCII content), surface the attribution
    // fields, and decode the FLAC stream BENEATH the tag — the strip
    // must be byte-exact or the codec won't sync.
    "multimodal_audio_id3" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoId3Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.id3AudioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the ID3 corpus field formulas and the FLAC sample
      // count; the non-ASCII characters must survive all three tag
      // encodings byte-for-byte.
      """SELECT doc_id AS media_id,
        |  'Tïtle ' || doc_id::VARCHAR AS title,
        |  'ártist_' || (doc_id % 50)::VARCHAR AS artist,
        |  'album_' || (doc_id % 20)::VARCHAR AS album,
        |  4::BIGINT AS n_text_frames,
        |  (120 + doc_id % 60)::BIGINT AS n_samples
        |FROM documents ORDER BY media_id""".stripMargin),

    // robots.txt compliance filter (RFC 9309) — the legality gate
    // before a crawled page may become training data: parse each
    // host's policy once, select the most specific agent group,
    // decide per URL by longest-match with Allow winning ties,
    // wildcards and $ anchors included. The oracle encodes every
    // expected decision in closed form.
    "crawl_robots_filter" -> Query((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      graft.operators.Robots.filterPages(s,
          graft.operators.Multimodal.demoRobotsDocs(s, docs),
          graft.operators.Multimodal.demoCrawlUrls(s, docs), "graftbot")
        .orderBy("media_id", "url_idx")
    },
      // Encodes the robots decisions in closed form: hosts with a
      // graftbot group (id%3=0) disallow ONLY /g/ for that agent (the
      // specific group replaces *); other hosts disallow the /p{k}/
      // tree (except the /ok/ Allow carve-out) and $-anchored *.tmp.
      """WITH u AS (SELECT doc_id,
        |    unnest(range(0, 6::BIGINT)) AS url_idx FROM documents)
        |SELECT doc_id AS media_id, url_idx,
        |  CASE url_idx
        |    WHEN 0 THEN '/p' || (doc_id % 4)::VARCHAR || '/a'
        |    WHEN 1 THEN '/p' || (doc_id % 4)::VARCHAR || '/ok/b'
        |    WHEN 2 THEN '/g/c' WHEN 3 THEN '/x/y.tmp'
        |    WHEN 4 THEN '/x/y.tmpz' ELSE '/pub/d'
        |  END AS path,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    CASE WHEN url_idx = 2 THEN 0 ELSE 1 END
        |  ELSE
        |    CASE WHEN url_idx = 0 OR url_idx = 3 THEN 0 ELSE 1 END
        |  END::BIGINT AS allowed
        |FROM u ORDER BY media_id, url_idx""".stripMargin),

    // Caption-to-frame alignment — how video-text training pairs are
    // made: parse REAL WebVTT and SRT (identifier lines, cue
    // settings, comma/dot decimals, multi-line text), then align
    // sampled frame timestamps to covering cues with a doc-key
    // equality join carrying the time band as residual. LEFT join:
    // frames in caption gaps surface with cue_idx -1.
    "caption_frame_align" -> Query((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val capDocs = graft.operators.Multimodal.demoCaptionDocs(s, docs)
      val cues = capDocs.as[(Long, String)].flatMap { case (id, text) =>
        graft.operators.Captions.parse(id, text)
      }
      graft.operators.Captions.alignFrames(s, cues,
          graft.operators.Multimodal.demoFrameTimes(s, docs))
        .orderBy("media_id", "frame_idx")
    },
      // Replays the caption and frame-time formulas and re-derives the
      // alignment relationally — cue c covers [c*25000 + (id%7)*100,
      // +15000 + (id%5)*100); frames outside every cue keep -1/''.
      """WITH c AS (SELECT doc_id,
        |    unnest(range(0, (3 + doc_id % 4)::BIGINT)) AS c FROM documents),
        |cues AS (SELECT doc_id, c::INT AS cue_idx,
        |    c*25000 + (doc_id % 7)*100 AS start_ms,
        |    c*25000 + (doc_id % 7)*100 + 15000 + (doc_id % 5)*100 AS end_ms,
        |    'cap ' || doc_id::VARCHAR || ' ' || c::VARCHAR AS text
        |  FROM c),
        |f AS (SELECT doc_id,
        |    unnest(range(0, (5 + doc_id % 4)::BIGINT)) AS f FROM documents),
        |frames AS (SELECT doc_id AS media_id, f::BIGINT AS frame_idx,
        |    (f*21000 + (doc_id % 11)*50)::BIGINT AS t_ms FROM f)
        |SELECT frames.media_id, frames.frame_idx, frames.t_ms,
        |  coalesce(cues.cue_idx, -1)::INT AS cue_idx,
        |  coalesce(cues.text, '') AS cue_text
        |FROM frames LEFT JOIN cues
        |  ON frames.media_id = cues.doc_id
        |  AND frames.t_ms >= cues.start_ms AND frames.t_ms < cues.end_ms
        |ORDER BY media_id, frame_idx""".stripMargin),

    // EXIF extraction — the audit half of the image privacy pass:
    // JPEG marker walk to APP1, TIFF/IFD parse with the 4-byte inline
    // rule, the GPS sub-IFD, and integer-exact deg/min/centi-sec
    // coordinates. The oracle replays the planted-field formulas.
    "multimodal_exif" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoExifCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.exifExtract(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the EXIF corpus's planted-field formulas; extraction
      // must invert the TIFF/IFD layout exactly to match.
      """SELECT doc_id AS media_id,
        |  (1 + doc_id % 8)::BIGINT AS orientation,
        |  printf('%04d:%02d:%02d %02d:%02d:%02d',
        |    2000 + doc_id % 25, 1 + doc_id % 12, 1 + doc_id % 28,
        |    doc_id % 24, doc_id % 60, (doc_id * 7) % 60) AS date_time,
        |  'cam_' || (doc_id % 13)::VARCHAR AS make,
        |  'mdl_' || (doc_id % 11)::VARCHAR AS model,
        |  CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
        |  (doc_id % 90)::BIGINT AS lat_deg,
        |  (doc_id % 60)::BIGINT AS lat_min,
        |  ((doc_id * 7) % 6000)::BIGINT AS lat_sec_centi,
        |  CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
        |  (doc_id % 180)::BIGINT AS lon_deg,
        |  ((doc_id * 3) % 60)::BIGINT AS lon_min,
        |  ((doc_id * 11) % 6000)::BIGINT AS lon_sec_centi
        |FROM documents ORDER BY media_id""".stripMargin),

    // EXIF strip — the redaction half: remove the APP1, verify
    // re-extraction finds nothing and pixels still decode, account
    // for removed bytes byte-exactly (the oracle recomputes the APP1
    // size from the planted string lengths).
    "exif_strip_privacy" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoExifCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.exifStrip(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the strip accounting: every blob had EXIF with GPS,
      // none after, pixels survive, and the removed byte count is the
      // APP1's exact size — marker+len (4) + 'Exif\0\0' (6) + TIFF
      // header+IFD0 (74) + NUL-terminated make/model + DateTime (20) +
      // GPS IFD (54) + two DMS rational triples (48).
      """SELECT doc_id AS media_id, 1::BIGINT AS had_exif,
        |  1::BIGINT AS had_gps, 0::BIGINT AS exif_after,
        |  1::BIGINT AS pixels_ok,
        |  (4 + 6 + 74 + length('cam_' || (doc_id % 13)::VARCHAR) + 1
        |     + length('mdl_' || (doc_id % 11)::VARCHAR) + 1
        |     + 20 + 54 + 48)::BIGINT AS bytes_removed
        |FROM documents ORDER BY media_id""".stripMargin),

    // REAL Ogg-FLAC decode: CRC-32-verified page walk, lacing-value
    // packet reassembly (incl. packets continued across pages), the
    // Xiph mapping header with its header-packet skip, then the FLAC
    // frame decoder — the oracle replays the sample formulas; both
    // container AND codec must vanish.
    "multimodal_audio_oggflac" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoOggFlacCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the Ogg-FLAC corpus sample formulas per id%4 shape —
      // sawtooth / noise / interleaved stereo / constant. Lossless:
      // neither the Ogg framing nor the FLAC codec may appear.
      """WITH m AS (SELECT doc_id, 150 + doc_id % 80 AS n,
        |    doc_id % 4 AS var FROM documents),
        |s AS (SELECT doc_id, n,
        |    CASE var
        |      WHEN 0 THEN list_transform(range(0, n),
        |        j -> ((doc_id % 40 + 2) * j) % 4096 - 2048)
        |      WHEN 1 THEN list_transform(range(0, n),
        |        j -> (doc_id*17 + j*31) % 65536 - 32768)
        |      WHEN 2 THEN flatten(list_transform(range(0, n), j ->
        |        [(doc_id*17 + j*31) % 65536 - 32768,
        |         (doc_id*23 + j*29) % 65536 - 32768]))
        |      ELSE list_transform(range(0, n),
        |        j -> (doc_id*41) % 5000 - 2500)
        |    END AS vs
        |  FROM m)
        |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
        |  length(vs)::BIGINT AS n_samples,
        |  list_max(list_transform(vs, y -> abs(y)))::BIGINT AS peak_abs,
        |  list_sum(list_transform(vs, y -> y*y))::BIGINT AS sum_sq
        |FROM s ORDER BY media_id""".stripMargin),

    // REAL lossless-WebP (VP8L) pixel decode: prefix trees described
    // by code-length codes, simple codes, 2-D-distance LZ77, and the
    // subtract-green transform, across four encoder shapes — the
    // oracle replays closed-form pixel arithmetic; the Spark side
    // must earn it through the from-scratch decoder (pinned
    // byte-exact against real libwebp output in WebpSpec).
    "multimodal_webp_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWebpCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the WebP corpus closed forms per id%4 shape: literal /
      // subtract-green sums are the (id*31 + i*7)%256 generator;
      // checkerboard counts even-parity cells in closed form; row-copy
      // is h × the first-row sum.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    doc_id % 4 AS var,
        |    ((8 + doc_id % 9 + 1)//2)*((8 + doc_id % 7 + 1)//2)
        |      + ((8 + doc_id % 9)//2)*((8 + doc_id % 7)//2) AS nb
        |  FROM documents),
        |sums AS (SELECT doc_id, w, h,
        |    CASE var
        |      WHEN 1 THEN list_transform(range(0, 3), k ->
        |        nb * ([ (doc_id*17+2) % 256, (doc_id*23+9) % 256,
        |                (doc_id*5+4) % 256 ][k+1])
        |        + (w*h - nb) * ([ (doc_id*13+5) % 256, (doc_id*29+3) % 256,
        |                          (doc_id*7+11) % 256 ][k+1]))
        |      WHEN 2 THEN list_transform(range(0, 3), k ->
        |        h * list_sum(list_transform(range(0, w),
        |          x -> (doc_id*31 + (x*3+k)*7) % 256)))
        |      ELSE list_transform(range(0, 3), k ->
        |        list_sum(list_transform(
        |          list_filter(range(0, w*h*3), i -> i % 3 = k),
        |          i -> (doc_id*31 + i*7) % 256)))
        |    END AS cs
        |  FROM m)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w*h)::BIGINT AS n_pixels, cs[1]::BIGINT AS c0_sum,
        |  cs[2]::BIGINT AS c1_sum, cs[3]::BIGINT AS c2_sum
        |FROM sums ORDER BY media_id""".stripMargin),

    // Common Crawl's NEWER `.warc.zst` framing through the Zstd
    // adapter over zstd-jni: per-record zstd frames (real
    // compressor output on even ids — FSE tables, Huffman literals,
    // sequence execution — skippable frames + checksummed synth
    // frames on odd), then the same WARC record walk as warc_extract.
    // Generator-replay oracle: compression is transparent to the sums.
    "warc_zstd_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcZstdCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("crawl_id")
    },
      // Replays the `.warc.zst` generator: records cycle
      // response/request/metadata; only responses are reduced. The zstd
      // framing never appears — decode must be the identity on content.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    list_filter(range(0, n), s -> s % 3 = 0) AS resp FROM m)
        |SELECT doc_id AS crawl_id, n::INT AS n_records,
        |  length(resp)::INT AS n_responses,
        |  list_sum(list_transform(resp,
        |    s -> 20 + (doc_id + s) % 24))::BIGINT AS response_bytes,
        |  list_sum(list_transform(resp, s ->
        |    list_sum(list_transform(range(0, 20 + (doc_id + s) % 24),
        |      j -> (doc_id*17 + s*23 + j*11) % 256))))::BIGINT AS payload_sum
        |FROM r ORDER BY crawl_id""".stripMargin),

    // ALPH transparency planes over VP8X lossy stills: raw and
    // lossless-compressed alpha under all four filter methods, plus
    // the uniform lossy Y reconstruction beneath.
    "multimodal_webp_alpha" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWebpAlphaCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.webpAlphaStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the alpha generator and the Y reconstruction: every MB
      // shares one DC level, but the DC PREDICTION chains left-to-right,
      // so the residual STAIRS across macroblock columns — frames wider
      // than 16 px have a second column value clamp(P0 + r).
      {
      val q2 = graft.operators.Vp8.y2dcQuant(15)
      s"""WITH m AS (SELECT doc_id,
        |    (13 + doc_id % 8) AS w, (9 + doc_id % 6) AS h,
        |    CAST(floor((CAST(floor(((doc_id % 9 - 4) * $q2 + 3) / 8.0)
        |      AS BIGINT) + 4) / 8.0) AS BIGINT) AS r
        |  FROM documents),
        |p AS (SELECT *, GREATEST(0, LEAST(255, 128 + r)) AS py0 FROM m),
        |q AS (SELECT *, GREATEST(0, LEAST(255, py0 + r)) AS py1 FROM p)
        |SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
        |  list_sum(list_transform(range(0, w * h),
        |    i -> (doc_id*7 + i*37) % 256))::BIGINT AS alpha_sum,
        |  (h * CASE WHEN w > 16 THEN 16 * py0 + (w - 16) * py1
        |            ELSE w * py0 END)::BIGINT AS y_sum
        |FROM q ORDER BY media_id""".stripMargin
    }),

    // Animated WebP composition: ANIM/ANMF walk, frame placement,
    // blend flags, dispose-to-background — final-canvas channel sums
    // replayed per pixel by the oracle.
    "multimodal_webp_anim" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWebpAnimCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.webpAnimStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the animation paint order per pixel: f2 over (f1's
      // rect disposed to background) over f0 over background.
      """WITH px AS (SELECT doc_id, x, y
        |  FROM documents, range(0, 24) t1(x), range(0, 16) t2(y)),
        |c AS (SELECT doc_id, x, y,
        |    (x >= 2*(doc_id % 5) AND x < 2*(doc_id % 5) + 10 AND
        |     y >= 2*(doc_id % 3) AND y < 2*(doc_id % 3) + 6) AS in2,
        |    (x >= 8 AND x < 20 AND y >= 4 AND y < 12) AS in1,
        |    (x < 12 AND y < 8) AS in0
        |  FROM px),
        |v AS (SELECT doc_id,
        |    CASE WHEN in2 THEN (doc_id*37) % 256
        |         WHEN in1 THEN (doc_id*13) % 256
        |         WHEN in0 THEN (doc_id*5) % 256
        |         ELSE (doc_id*13) % 256 END AS r,
        |    CASE WHEN in2 THEN (doc_id*41) % 256
        |         WHEN in1 THEN (doc_id*17) % 256
        |         WHEN in0 THEN (doc_id*7) % 256
        |         ELSE (doc_id*17) % 256 END AS g,
        |    CASE WHEN in2 THEN (doc_id*43) % 256
        |         WHEN in1 THEN (doc_id*19) % 256
        |         WHEN in0 THEN (doc_id*11) % 256
        |         ELSE (doc_id*19) % 256 END AS b
        |  FROM c)
        |SELECT doc_id AS media_id, 24::INT AS width, 16::INT AS height,
        |  3::BIGINT AS n_frames, sum(r)::BIGINT AS r_sum,
        |  sum(g)::BIGINT AS g_sum, sum(b)::BIGINT AS b_sum
        |FROM v GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // Animated WebP whose sub-frames are LOSSY VP8 keyframes (one
    // under an ALPH transparency plane): decode through Vp8, convert
    // with the pinned BT.601 integer formula, alpha-blend onto the
    // canvas, snapshot-undo the trailing dispose — the real-world
    // animation shape, closing the lossy-in-animation gap.
    "multimodal_webp_anim_lossy" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWebpAnimLossyCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.webpAnimStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the full lossy-animation pipeline in closed form: each
      // single-MB VP8 frame's DC reconstruction (same quant tables as
      // the decoder, interpolated), the pinned BT.601 integer YUV→RGB
      // conversion as floor arithmetic, per-channel alpha blending over
      // the already-painted canvas, and the paint order f2 > f1 > f0 >
      // background.
      {
      import graft.operators.Vp8
      val q2t = (20 until 60).map(Vp8.y2dcQuant).mkString("[", ", ", "]")
      val quvt = (20 until 60).map(Vp8.uvdcQuant).mkString("[", ", ", "]")
      // single-MB DC-only reconstruction: uniform Y/U/V per frame
      def recon(ly: String, lu: String, lv: String, k: Int): String = {
        val ry = s"CAST(floor((CAST(floor(($ly * q2 + 3) / 8.0) AS BIGINT)" +
          s" + 4) / 8.0) AS BIGINT)"
        val ru = s"CAST(floor(($lu * quv + 4) / 8.0) AS BIGINT)"
        val rv = s"CAST(floor(($lv * quv + 4) / 8.0) AS BIGINT)"
        s"GREATEST(0, LEAST(255, 128 + $ry)) AS y$k, " +
          s"GREATEST(0, LEAST(255, 128 + $ru)) AS u$k, " +
          s"GREATEST(0, LEAST(255, 128 + $rv)) AS v$k"
      }
      // the pinned BT.601 limited-range fixed-point conversion;
      // arithmetic shifts are floor division
      def rgbOf(k: Int): String = {
        val c = s"(y$k - 16)"
        val d = s"(u$k - 128)"
        val e = s"(v$k - 128)"
        def cl(x: String) =
          s"GREATEST(0, LEAST(255, CAST(floor(($x + 128) / 256.0) AS BIGINT)))"
        s"${cl(s"298*$c + 409*$e")} AS fr$k, " +
          s"${cl(s"298*$c - 100*$d - 208*$e")} AS fg$k, " +
          s"${cl(s"298*$c + 516*$d")} AS fb$k"
      }
      def blend(src: String, dst: String): String =
        s"($src * a1 + ($dst) * (255 - a1)) // 255"
      def chan(f2: String, f1: String, f0: String, bgm: Long): String =
        s"""CASE WHEN in2 THEN $f2
           |      WHEN in1 THEN ${blend(f1,
          s"CASE WHEN in0 THEN (doc_id*$f0)%256 ELSE (doc_id*$bgm)%256 END")}
           |      WHEN in0 THEN (doc_id*$f0)%256
           |      ELSE (doc_id*$bgm)%256 END""".stripMargin
      s"""WITH t AS (SELECT doc_id,
        |    $q2t[(doc_id % 40 + 1)::INT] AS q2,
        |    $quvt[(doc_id % 40 + 1)::INT] AS quv,
        |    (30 + (doc_id*29) % 196) AS a1
        |  FROM documents),
        |f AS (SELECT doc_id, a1,
        |    ${recon("((doc_id*3)%25 - 12)", "((doc_id*7)%13 - 6)",
          "((doc_id*11)%13 - 6)", 1)},
        |    ${recon("((doc_id*5 + 7)%25 - 12)", "((doc_id*13 + 1)%13 - 6)",
          "((doc_id*17 + 2)%13 - 6)", 2)}
        |  FROM t),
        |g AS (SELECT *, ${rgbOf(1)}, ${rgbOf(2)} FROM f),
        |px AS (SELECT g.*, x, y
        |  FROM g, range(0, 24) t1(x), range(0, 16) t2(y)),
        |c AS (SELECT *,
        |    (x >= 2*(doc_id % 5) AND x < 2*(doc_id % 5) + 10 AND
        |     y >= 2*(doc_id % 3) AND y < 2*(doc_id % 3) + 6) AS in2,
        |    (x >= 8 AND x < 20 AND y >= 4 AND y < 12) AS in1,
        |    (x < 12 AND y < 8) AS in0
        |  FROM px),
        |v AS (SELECT doc_id,
        |    ${chan("fr2", "fr1", "5", 13)} AS r,
        |    ${chan("fg2", "fg1", "7", 17)} AS g,
        |    ${chan("fb2", "fb1", "11", 19)} AS b
        |  FROM c)
        |SELECT doc_id AS media_id, 24::INT AS width, 16::INT AS height,
        |  3::BIGINT AS n_frames, sum(r)::BIGINT AS r_sum,
        |  sum(g)::BIGINT AS g_sum, sum(b)::BIGINT AS b_sum
        |FROM v GROUP BY doc_id ORDER BY media_id""".stripMargin
    }),

    // REAL lossy VP8 WebP decode (boolean arithmetic decoder,
    // keyframe header, token trees, dequant, inverse WHT+DCT, DC
    // intra prediction) — the majority-share WebP profile. The
    // oracle replays the reconstruction arithmetic in closed form.
    "multimodal_webp_lossy" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWebpLossyCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.webpLossyStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the VP8 reconstruction in closed form: dequant (y2dc/
      // uvdc values interpolated from the SAME tables the decoder
      // uses), inverse-WHT + inverse-DCT DC shortcut as exact floor
      // arithmetic, and the DC-prediction recurrence over the 2x2 MB
      // grid with clamping.
      {
      import graft.operators.Vp8
      val q2 = (20 until 60).map(Vp8.y2dcQuant).mkString("[", ", ", "]")
      val quv = (20 until 60).map(Vp8.uvdcQuant).mkString("[", ", ", "]")
      def lvl(plane: String, m: Int): String = plane match {
        case "y" => s"((doc_id*3 + $m*5) % 25 - 12)"
        case "u" => s"((doc_id*7 + $m*3) % 13 - 6)"
        case _ => s"((doc_id*11 + $m*9) % 13 - 6)"
      }
      def r(plane: String, m: Int): String = plane match {
        case "y" =>
          s"CAST(floor((CAST(floor((${lvl(plane, m)} * q2 + 3) / 8.0) " +
            s"AS BIGINT) + 4) / 8.0) AS BIGINT)"
        case _ =>
          s"CAST(floor((${lvl(plane, m)} * quv + 4) / 8.0) AS BIGINT)"
      }
      def cl(e: String): String = s"GREATEST(0, LEAST(255, $e))"
      val rCols = (for (pl <- Seq("y", "u", "v"); m <- 0 to 3)
        yield s"${r(pl, m)} AS r$pl$m").mkString(", ")
      val aCols = Seq("y", "u", "v").map(pl =>
        s"${cl(s"128 + r${pl}0")} AS p${pl}0").mkString(", ")
      val bCols = Seq("y", "u", "v").flatMap(pl => Seq(
        s"${cl(s"p${pl}0 + r${pl}1")} AS p${pl}1",
        s"${cl(s"p${pl}0 + r${pl}2")} AS p${pl}2")).mkString(", ")
      val cCols = Seq("y", "u", "v").map(pl =>
        s"${cl(s"((p${pl}1 + p${pl}2 + 1) // 2) + r${pl}3")} AS p${pl}3")
        .mkString(", ")
      s"""WITH t AS (SELECT doc_id,
        |    $q2[(doc_id % 40 + 1)::INT] AS q2,
        |    $quv[(doc_id % 40 + 1)::INT] AS quv
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    $rCols
        |  FROM t),
        |a AS (SELECT *, $aCols FROM r),
        |b AS (SELECT *, $bCols FROM a),
        |c AS (SELECT *, $cCols FROM b)
        |SELECT doc_id AS media_id, 32::INT AS width, 32::INT AS height,
        |  (256*(py0+py1+py2+py3))::BIGINT AS y_sum,
        |  (64*(pu0+pu1+pu2+pu3))::BIGINT AS u_sum,
        |  (64*(pv0+pv1+pv2+pv3))::BIGINT AS v_sum
        |FROM c ORDER BY media_id""".stripMargin
    }),

    // Opus/Vorbis packet-walk metadata: OpusHead/OpusTags fields,
    // RFC 6716 TOC frame counts and durations, Vorbis identification
    // headers, end-granule sample clocks — the audit layer for the
    // dominant speech-corpus codec; payload decode stays a named gap.
    "audio_ogg_metadata" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoOggAudioCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.oggAudioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the Opus TOC algebra (per-config 48 kHz frame sizes
      // interpolated from the SAME table the decoder uses) and the
      // Vorbis granule arithmetic in closed form.
      {
      val fs = graft.operators.Multimodal.OggOpusConfigs
        .map(graft.operators.Ogg.opusConfigSamples)
        .mkString("[", ", ", "]")
      s"""WITH m AS (SELECT doc_id, doc_id % 2 = 0 AS opus,
        |    (1 + (doc_id // 2) % 2) AS ch,
        |    (312 + (doc_id % 5) * 10) AS ps,
        |    (doc_id // 3) % 3 AS ri,
        |    (3 + doc_id % 4) AS nop,
        |    (4 + doc_id % 5) AS nvp,
        |    (1000 + doc_id * 97) AS ge FROM documents),
        |t AS (SELECT doc_id, opus, ch,
        |    CASE WHEN opus THEN ps ELSE 0 END AS pre_skip,
        |    CASE WHEN opus THEN [48000, 44100, 16000][(ri+1)::INT]
        |         ELSE [44100, 22050, 11025][(ri+1)::INT] END AS input_rate,
        |    CASE WHEN opus THEN nop ELSE nvp END AS n_audio,
        |    CASE WHEN opus THEN
        |        list_sum(list_transform(range(0, nop), k ->
        |          (1 + (doc_id + k) % 3) * $fs[((doc_id + k) % 5 + 1)::INT]))
        |      ELSE -1 END AS toc,
        |    ge AS gev
        |  FROM m)
        |SELECT doc_id AS media_id,
        |  CASE WHEN opus THEN 'opus' ELSE 'vorbis' END AS codec,
        |  ch::INT AS channels, pre_skip::INT AS pre_skip,
        |  input_rate::INT AS input_rate,
        |  n_audio::BIGINT AS n_audio_packets,
        |  toc::BIGINT AS toc_samples,
        |  CASE WHEN opus THEN pre_skip + toc ELSE gev END::BIGINT
        |    AS granule_end,
        |  CASE WHEN opus THEN (toc * 1000) // 48000
        |       ELSE (gev * 1000) // input_rate END::BIGINT AS duration_ms
        |FROM t ORDER BY media_id""".stripMargin
    }),

    // FREE-FORMAT MPEG audio (bitrate index 0): the frame size is
    // unsignaled, recovered by scanning for the next matching sync
    // and verifying the stream tiles at it — the walk real decoders
    // do. The oracle replays the size algebra and the
    // derived-bitrate truncation.
    "audio_mp3_freeformat" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoMp3FreeCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.mp3Stats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the MP3 frame-size algebra from the SAME bitrate/
      // samplerate tables the decoder and synthesizer share
      // (interpolated below — no transcription to diverge). Truncating
      // integer division throughout, matching the slot arithmetic.
      // Replays the free-format size algebra: base size per layer,
      // 4-byte Layer-I padding slots, tiled byte totals, and the
      // derived bitrate base*sr // slotFactor — the same truncation the
      // walk reports.
      """WITH p AS (SELECT doc_id,
        |    doc_id % 3 AS vi,
        |    (1 + (doc_id // 3) % 3) AS layer,
        |    ((doc_id // 2) % 3) AS sri,
        |    (3 + doc_id % 5) AS nf
        |  FROM documents),
        |t AS (SELECT *,
        |    CASE WHEN layer = 1 THEN 4*(28 + doc_id % 9)
        |         ELSE 96 + (doc_id % 31)*3 END AS base,
        |    CASE WHEN layer = 1 THEN 4 ELSE 1 END AS slot,
        |    CASE WHEN vi = 0 THEN [44100, 48000, 32000][(sri+1)::INT]
        |         WHEN vi = 1 THEN [22050, 24000, 16000][(sri+1)::INT]
        |         ELSE [11025, 12000, 8000][(sri+1)::INT] END AS sr,
        |    CASE WHEN layer = 1 THEN 384 WHEN layer = 2 THEN 1152
        |         WHEN vi = 0 THEN 1152 ELSE 576 END AS spf
        |  FROM p)
        |SELECT doc_id AS media_id,
        |  CASE vi WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END AS version,
        |  layer::INT AS layer,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END::INT AS channels,
        |  sr::INT AS sample_rate,
        |  nf::BIGINT AS n_frames,
        |  list_sum(list_transform(range(0, nf), f ->
        |    base + slot * ((doc_id + f) % 2)))::BIGINT AS total_bytes,
        |  ((nf * spf * 1000) // sr)::BIGINT AS duration_ms,
        |  (base * sr // CASE WHEN layer = 1 THEN 48000
        |    WHEN layer = 2 THEN 144000
        |    WHEN vi = 0 THEN 144000 ELSE 72000 END)::INT AS bitrate_kbps,
        |  false AS vbr,
        |  (-1)::BIGINT AS xing_frames
        |FROM t ORDER BY media_id""".stripMargin),

    // MPEG-audio frame-header walk: version/layer/bitrate/samplerate
    // tables, padding slots, Xing VBR headers, ID3v2/v1 tags — the
    // audit columns a music/podcast corpus filters on. The oracle
    // replays the frame-size algebra from the same tables (embedded
    // by interpolation, so they can never diverge).
    "audio_mp3_metadata" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoMp3Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.mp3Stats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      {
      import graft.operators.Mp3
      def L(a: Array[Int]) = a.mkString("[", ", ", "]")
      val srV1 = "[44100, 48000, 32000]"
      val srV2 = "[22050, 24000, 16000]"
      val srV25 = "[11025, 12000, 8000]"
      s"""WITH p AS (SELECT doc_id,
        |    doc_id % 3 AS vi,
        |    (1 + (doc_id // 3) % 3) AS layer,
        |    ((doc_id // 2) % 3) AS sri,
        |    (2 + (doc_id % 5) * 2) AS base,
        |    (doc_id % 4 = 1) AS isvbr,
        |    (3 + doc_id % 5) AS nf
        |  FROM documents),
        |t AS (SELECT *,
        |    CASE WHEN vi = 0 THEN $srV1[(sri+1)::INT]
        |         WHEN vi = 1 THEN $srV2[(sri+1)::INT]
        |         ELSE $srV25[(sri+1)::INT] END AS sr,
        |    CASE WHEN vi = 0 THEN
        |        CASE layer WHEN 1 THEN ${L(Mp3.V1L1)}
        |          WHEN 2 THEN ${L(Mp3.V1L2)} ELSE ${L(Mp3.V1L3)} END
        |      ELSE CASE layer WHEN 1 THEN ${L(Mp3.V2L1)}
        |        ELSE ${L(Mp3.V2L23)} END END AS btab,
        |    CASE WHEN layer = 1 THEN 384 WHEN layer = 2 THEN 1152
        |         WHEN vi = 0 THEN 1152 ELSE 576 END AS spf
        |  FROM p)
        |SELECT doc_id AS media_id,
        |  CASE vi WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END AS version,
        |  layer::INT AS layer,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END::INT AS channels,
        |  sr::INT AS sample_rate,
        |  nf::BIGINT AS n_frames,
        |  list_sum(list_transform(range(0, nf), f ->
        |    CASE WHEN layer = 1 THEN
        |        (12 * btab[(base + CASE WHEN isvbr AND f % 2 = 1
        |            THEN 3 ELSE 0 END + 1)::INT] * 1000 // sr
        |          + (doc_id + f) % 2) * 4
        |      WHEN layer = 2 OR vi = 0 THEN
        |        144 * btab[(base + CASE WHEN isvbr AND f % 2 = 1
        |            THEN 3 ELSE 0 END + 1)::INT] * 1000 // sr
        |          + (doc_id + f) % 2
        |      ELSE
        |        72 * btab[(base + CASE WHEN isvbr AND f % 2 = 1
        |            THEN 3 ELSE 0 END + 1)::INT] * 1000 // sr
        |          + (doc_id + f) % 2
        |    END))::BIGINT AS total_bytes,
        |  ((nf * spf * 1000) // sr)::BIGINT AS duration_ms,
        |  btab[(base + 1)::INT]::INT AS bitrate_kbps,
        |  isvbr AS vbr,
        |  CASE WHEN isvbr AND layer = 3 THEN nf ELSE -1 END::BIGINT
        |    AS xing_frames
        |FROM t ORDER BY media_id""".stripMargin
    }),

    // `.warc.xz` through the Xz adapter over xz-java — xz-java-written
    // streams across presets 0-9 and all three check types.
    "warc_xz_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcXzCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("crawl_id")
    },
      // Replays the `.warc.xz` generator: compression transparent.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    list_filter(range(0, n), s -> s % 3 = 0) AS resp FROM m)
        |SELECT doc_id AS crawl_id, n::INT AS n_records,
        |  length(resp)::INT AS n_responses,
        |  list_sum(list_transform(resp,
        |    s -> 22 + (doc_id + s) % 18))::BIGINT AS response_bytes,
        |  list_sum(list_transform(resp, s ->
        |    list_sum(list_transform(range(0, 22 + (doc_id + s) % 18),
        |      j -> (doc_id*29 + s*13 + j*17) % 256))))::BIGINT AS payload_sum
        |FROM r ORDER BY crawl_id""".stripMargin),

    // `.warc.Z` through the from-scratch Unix-compress LZW decoder
    // (8-code group realignment, the maxcode width schedule with the
    // canonical -b9 bump, block-mode clears) — the framing the
    // OLDEST archived crawls ship in, cycling max widths 9-16.
    "warc_z_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcZCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("crawl_id")
    },
      // Replays the `.warc.Z` generator: compression transparent.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    list_filter(range(0, n), s -> s % 3 = 0) AS resp FROM m)
        |SELECT doc_id AS crawl_id, n::INT AS n_records,
        |  length(resp)::INT AS n_responses,
        |  list_sum(list_transform(resp,
        |    s -> 22 + (doc_id + s) % 18))::BIGINT AS response_bytes,
        |  list_sum(list_transform(resp, s ->
        |    list_sum(list_transform(range(0, 22 + (doc_id + s) % 18),
        |      j -> (doc_id*23 + s*11 + j*19) % 256))))::BIGINT AS payload_sum
        |FROM r ORDER BY crawl_id""".stripMargin),

    // Wikipedia-dump-style `.warc.bz2` through the from-scratch
    // bzip2 decoder (multi-table Huffman, MTF/RLE2, inverse BWT,
    // block+stream CRCs) — compressed by the independent
    // commons-compress implementation, so real streams must decode.
    "warc_bzip2_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcBzip2Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("crawl_id")
    },
      // Replays the `.warc.bz2` generator: compression transparent.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    list_filter(range(0, n), s -> s % 3 = 0) AS resp FROM m)
        |SELECT doc_id AS crawl_id, n::INT AS n_records,
        |  length(resp)::INT AS n_responses,
        |  list_sum(list_transform(resp,
        |    s -> 24 + (doc_id + s) % 20))::BIGINT AS response_bytes,
        |  list_sum(list_transform(resp, s ->
        |    list_sum(list_transform(range(0, 24 + (doc_id + s) % 20),
        |      j -> (doc_id*19 + s*7 + j*13) % 256))))::BIGINT AS payload_sum
        |FROM r ORDER BY crawl_id""".stripMargin),

    // `.warc.lz4` through the Lz4 adapter over lz4-java's frame reader
    // (checksums, skippable frames) — real lz4-java frames on even
    // ids, our stored frames on odd.
    "warc_lz4_extract" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcLz4Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("crawl_id")
    },
      // Replays the `.warc.lz4` generator: compression transparent.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    list_filter(range(0, n), s -> s % 3 = 0) AS resp FROM m)
        |SELECT doc_id AS crawl_id, n::INT AS n_records,
        |  length(resp)::INT AS n_responses,
        |  list_sum(list_transform(resp,
        |    s -> 28 + (doc_id + s) % 16))::BIGINT AS response_bytes,
        |  list_sum(list_transform(resp, s ->
        |    list_sum(list_transform(range(0, 28 + (doc_id + s) % 16),
        |      j -> (doc_id*23 + s*11 + j*7) % 256))))::BIGINT AS payload_sum
        |FROM r ORDER BY crawl_id""".stripMargin),

    // Common Crawl's REAL `.warc.zst` shape: the shared dictionary in
    // a leading skippable frame (raw-content via libzstd on even ids,
    // structured entropy-table dictionaries with id-checked splice
    // frames on odd), resolved by the Zstd adapter's dictionary split
    // (captured from the skippable frame, loaded into zstd-jni, id
    // checked). Generator-replay oracle: the
    // dictionary is transparent to the sums.
    "warc_zstd_dict" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcZstdDictCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("crawl_id")
    },
      // Replays the dictionary-bearing `.warc.zst` generator: payload
      // byte j < 52 is the shared dictionary pattern, j ≥ 52 the
      // id/s-keyed generator; only responses are reduced. Dictionary
      // resolution is the identity on content.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    list_filter(range(0, n), s -> s % 3 = 0) AS resp FROM m)
        |SELECT doc_id AS crawl_id, n::INT AS n_records,
        |  length(resp)::INT AS n_responses,
        |  list_sum(list_transform(resp,
        |    s -> 60 + (doc_id + s) % 24))::BIGINT AS response_bytes,
        |  list_sum(list_transform(resp, s ->
        |    list_sum(list_transform(range(0, 60 + (doc_id + s) % 24),
        |      j -> CASE WHEN j < 52 THEN (j*7 + 13) % 256
        |           ELSE (doc_id*17 + s*23 + j*11) % 256 END))))::BIGINT
        |    AS payload_sum
        |FROM r ORDER BY crawl_id""".stripMargin),

    // REAL G.711 telephony audio decode: μ-law/A-law companded WAVs
    // expand through the exact ITU segment arithmetic — the oracle
    // replays the expansion formula per byte; the Spark side must get
    // there through the RIFF walk + format-code dispatch + expansion.
    "multimodal_audio_g711" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoG711Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      """WITH m AS (SELECT doc_id, 400 + doc_id % 200 AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |    list_transform(range(0, n), j -> (doc_id*13 + j*37) % 256) AS bs
        |  FROM m),
        |v AS (SELECT doc_id, n,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      list_transform(bs, x -> CASE WHEN (255 - x) >= 128
        |        THEN 132 - ((((255 - x) % 16) * 8 + 132)
        |                    << (((255 - x) // 16) % 8))
        |        ELSE ((((255 - x) % 16) * 8 + 132)
        |              << (((255 - x) // 16) % 8)) - 132 END)
        |    ELSE
        |      list_transform(bs, x ->
        |        (CASE WHEN xor(x, 85) >= 128 THEN 1 ELSE -1 END) *
        |        (CASE WHEN ((xor(x, 85) // 16) % 8) = 0
        |          THEN (xor(x, 85) % 16) * 16 + 8
        |          ELSE ((xor(x, 85) % 16) * 16 + 264)
        |               << (((xor(x, 85) // 16) % 8) - 1) END))
        |    END AS vs
        |  FROM s)
        |SELECT doc_id AS media_id, 8000::BIGINT AS sample_rate,
        |  n::BIGINT AS n_samples,
        |  list_max(list_transform(vs, y -> abs(y)))::BIGINT AS peak_abs,
        |  list_sum(list_transform(vs, y -> y*y))::BIGINT AS sum_sq
        |FROM v ORDER BY media_id""".stripMargin),

    // REAL AIFF / AIFF-C audio decode: the IFF chunk walk with the
    // 80-bit extended sample-rate float, big-endian PCM, the
    // byte-swapped "sowt" Mac variant, and G.711 companding — the
    // corpus plants exact codeword levels so the oracle replays the
    // same ITU arithmetic as the WAV G.711 query. Pinned both
    // directions against javax.sound in the spec.
    "multimodal_audio_aiff" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoAiffCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the ITU G.711 expansion per companded byte
      // (μ-law: complement, segment shift, bias 132; A-law: 0x55
      // toggle, segment shift, sign bit SET = positive) over the
      // deterministic byte generator.
      // Replays the AIFF corpus: PCM/sowt rows use the direct sample
      // formula; ulaw/alaw rows the exact ITU expansion (same
      // arithmetic as the WAV G.711 oracle below).
      """WITH m AS (SELECT doc_id, 2*(200 + doc_id % 100) AS n FROM documents),
        |v AS (SELECT doc_id, n,
        |    CASE
        |      WHEN doc_id % 4 <= 1 THEN
        |        list_transform(range(0, n),
        |          j -> (doc_id*131 + j*277) % 65536 - 32768)
        |      WHEN doc_id % 4 = 2 THEN
        |        list_transform(range(0, n), j ->
        |          CASE WHEN (255 - ((doc_id*13 + j*37) % 256)) >= 128
        |            THEN 132 - ((((255 - ((doc_id*13 + j*37) % 256)) % 16) * 8 + 132)
        |                        << (((255 - ((doc_id*13 + j*37) % 256)) // 16) % 8))
        |            ELSE ((((255 - ((doc_id*13 + j*37) % 256)) % 16) * 8 + 132)
        |                  << (((255 - ((doc_id*13 + j*37) % 256)) // 16) % 8)) - 132
        |          END)
        |      ELSE
        |        list_transform(range(0, n), j ->
        |          (CASE WHEN xor((doc_id*13 + j*37) % 256, 85) >= 128
        |             THEN 1 ELSE -1 END) *
        |          (CASE WHEN ((xor((doc_id*13 + j*37) % 256, 85) // 16) % 8) = 0
        |            THEN (xor((doc_id*13 + j*37) % 256, 85) % 16) * 16 + 8
        |            ELSE ((xor((doc_id*13 + j*37) % 256, 85) % 16) * 16 + 264)
        |                 << (((xor((doc_id*13 + j*37) % 256, 85) // 16) % 8) - 1)
        |          END))
        |    END AS vs
        |  FROM m)
        |SELECT doc_id AS media_id,
        |  (CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 22050
        |     ELSE 8000 END)::BIGINT AS sample_rate,
        |  n::BIGINT AS n_samples,
        |  list_max(list_transform(vs, y -> abs(y)))::BIGINT AS peak_abs,
        |  list_sum(list_transform(vs, y -> y*y))::BIGINT AS sum_sq
        |FROM v ORDER BY media_id""".stripMargin),

    // REAL GIF pixel decode: a full LZW decompression (growing
    // dictionary, 12-bit cap, LSB-first packing) over a deterministic
    // palette-index generator, with odd ids additionally stored in
    // 4-pass interlaced row order — the oracle replays palette
    // arithmetic, the Spark side must earn it through the real
    // decompressor and de-interlace.
    "multimodal_gif_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoGifCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the GIF palette arithmetic: pixel i's index is
      // (id*31 + i*7) mod np, channel c of palette entry j is
      // (j*{41,73,97} + {7,11,13}) % 256 — interlacing permutes rows
      // only, so the channel SUMS are storage-order-invariant.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 32 ELSE 256 END AS np
        |  FROM documents)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w*h)::BIGINT AS n_pixels,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 41 + 7) % 256))::BIGINT AS c0_sum,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 73 + 11) % 256))::BIGINT AS c1_sum,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 97 + 13) % 256))::BIGINT AS c2_sum
        |FROM m ORDER BY media_id""".stripMargin),

    // REAL baseline-JPEG pixel decode: the corpus is block-constant
    // grayscale JPEGs with the all-8s quant table, where the whole
    // chain — marker walk, canonical-Huffman DC stream, dequantize,
    // IDCT, level shift — is integer-exact; the oracle replays the
    // block generator, the Spark side must earn it through a real
    // entropy decode. (AC coefficients, ZRL runs, byte unstuffing and
    // restart resync are exercised at spec level in MultimodalSpec —
    // lossy general JPEG can't be SQL-replayed.)
    "multimodal_jpeg_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoJpegCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the block-constant JPEG generator: gray value of block b
      // (raster order) is (id*31 + b*7) % 256, replicated to all three
      // channels over each block's 64 pixels.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
        |           FROM documents),
        |s AS (SELECT doc_id, bw, bh,
        |    list_sum(list_transform(range(0, bw*bh),
        |      b -> (doc_id*31 + b*7) % 256)) AS vs
        |  FROM m)
        |SELECT doc_id AS media_id, (bw*8)::BIGINT AS width,
        |  (bh*8)::BIGINT AS height, (bw*bh*64)::BIGINT AS n_pixels,
        |  (64*vs)::BIGINT AS c0_sum, (64*vs)::BIGINT AS c1_sum,
        |  (64*vs)::BIGINT AS c2_sum
        |FROM s ORDER BY media_id""".stripMargin),

    // REAL 4:2:0 JPEG decode — the profile virtually all real color
    // JPEGs use: four Y blocks per chroma pair in each 16×16 MCU,
    // per-component DC prediction across the interleaved walk, nearest
    // chroma upsampling, BT.601 conversion. Block-constant planes +
    // all-8s quant keep the chain integer-exact into the float
    // conversion, whose 23-step chroma offsets round identically in
    // Spark and the SQL oracle (never within 0.008 of a .5 boundary).
    "multimodal_jpeg420_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoJpeg420Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the 4:2:0 generator: per Y block, 64 pixels share
      // (yv, cb, cr) with cb/cr from the enclosing 16×16 MCU; the BT.601
      // conversion is replayed in the same left-to-right association the
      // decoder uses, with rounds clamped to [0,255]. The 23-step chroma
      // sets keep every round ≥ 0.008 from a .5 tie, so decimal/double
      // evaluation differences cannot flip an integer.
      """WITH m AS (SELECT doc_id, 2*(1 + doc_id % 3) AS bw,
        |                  2*(1 + doc_id % 2) AS bh FROM documents),
        |b AS (SELECT doc_id, bw, bh, unnest(range(0, bw*bh)) AS bi FROM m),
        |v AS (SELECT doc_id, bw, bh,
        |    (doc_id*31 + bi*7) % 256 AS yv,
        |    ((bi // bw) // 2) * (bw // 2) + ((bi % bw) // 2) AS mi
        |  FROM b),
        |c AS (SELECT doc_id, bw, bh, yv,
        |    23*(((doc_id + mi) % 5) - 2) AS cb,
        |    23*(((doc_id*7 + mi*3) % 5) - 2) AS cr
        |  FROM v),
        |p AS (SELECT doc_id, bw, bh,
        |    64*LEAST(GREATEST(round(yv + 1.402*cr), 0), 255) AS rs,
        |    64*LEAST(GREATEST(round(yv - 0.344136*cb - 0.714136*cr), 0),
        |             255) AS gs,
        |    64*LEAST(GREATEST(round(yv + 1.772*cb), 0), 255) AS bs
        |  FROM c)
        |SELECT doc_id AS media_id, (bw*8)::BIGINT AS width,
        |  (bh*8)::BIGINT AS height, (bw*bh*64)::BIGINT AS n_pixels,
        |  sum(rs)::BIGINT AS c0_sum, sum(gs)::BIGINT AS c1_sum,
        |  sum(bs)::BIGINT AS c2_sum
        |FROM p GROUP BY doc_id, bw, bh ORDER BY media_id""".stripMargin),

    // Print-origin CMYK JPEG decode: four-component baseline frames
    // with the APP14 Adobe transform — plain inverted CMYK (even ids)
    // and YCCK (odd ids, BT.601-coded inverted CMY + K). The oracle
    // replays both transforms; the Spark side must earn them through
    // the real four-plane MCU walk, APP14 dispatch, and K
    // composition.
    "multimodal_jpeg_cmyk" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoJpegCmykCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays both Adobe transforms: even ids rgb = stored_cmy·k/255
      // (truncating) on the inverted-CMYK generator; odd ids run the
      // BT.601 reconstruction (23-step chroma keeps rounding stable)
      // then the same K composition.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS bw,
        |                  1 + doc_id % 2 AS bh FROM documents),
        |b AS (SELECT doc_id, bw, bh, unnest(range(0, bw*bh)) AS i FROM m),
        |v AS (SELECT doc_id, bw, bh,
        |    (doc_id*31 + i*7) % 256 AS yv,
        |    (doc_id*31 + i*7 + 53) % 256 AS mv,
        |    (doc_id*31 + i*7 + 106) % 256 AS yv2,
        |    (doc_id*31 + i*7 + 159) % 256 AS kv0,
        |    23*(((doc_id + i) % 5) - 2) AS cb,
        |    23*(((doc_id*7 + i*3) % 5) - 2) AS cr,
        |    (doc_id*13 + i*11) % 256 AS kv2
        |  FROM b),
        |p AS (SELECT doc_id, bw, bh,
        |    CASE WHEN doc_id % 2 = 0 THEN (yv * kv0) // 255
        |      ELSE (LEAST(GREATEST(round(yv + 1.402*cr), 0), 255)::BIGINT
        |            * kv2) // 255 END AS r,
        |    CASE WHEN doc_id % 2 = 0 THEN (mv * kv0) // 255
        |      ELSE (LEAST(GREATEST(round(yv - 0.344136*cb - 0.714136*cr),
        |                           0), 255)::BIGINT * kv2) // 255 END AS g,
        |    CASE WHEN doc_id % 2 = 0 THEN (yv2 * kv0) // 255
        |      ELSE (LEAST(GREATEST(round(yv + 1.772*cb), 0), 255)::BIGINT
        |            * kv2) // 255 END AS bl
        |  FROM v)
        |SELECT doc_id AS media_id, (bw*8)::BIGINT AS width,
        |  (bh*8)::BIGINT AS height, (bw*bh*64)::BIGINT AS n_pixels,
        |  (64*sum(r))::BIGINT AS c0_sum, (64*sum(g))::BIGINT AS c1_sum,
        |  (64*sum(bl))::BIGINT AS c2_sum
        |FROM p GROUP BY doc_id, bw, bh ORDER BY media_id""".stripMargin),

    // Animated-GIF composition — the meme/reaction half of web image
    // corpora: per-frame LZW decode, GCE transparency (holes let
    // earlier frames show), local-palette scoping, and disposal
    // methods incl. restore-to-background, composed to the final
    // canvas. The oracle replays the last-writer arithmetic; the
    // Spark side must parse real extension blocks to match.
    "multimodal_gif_anim" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoGifAnimCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.gifAnimStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the animation compositor: the overlay covering a
      // pixel's quadrant wins unless transparent (index 7, frame 0
      // shows through) or later wiped by overlay 1's restore-background
      // disposal (f ≥ 3 → quadrant 0 = background = global entry 3);
      // overlay 2 resolves through its LOCAL palette.
      """WITH px AS (SELECT doc_id, 2 + doc_id % 3 AS f,
        |    unnest(range(0, 256)) AS p FROM documents),
        |c AS (SELECT doc_id, f, p % 16 AS x, p // 16 AS y FROM px),
        |q AS (SELECT doc_id, f,
        |    CASE WHEN x >= 8 THEN 1 ELSE 0 END
        |      + CASE WHEN y >= 8 THEN 2 ELSE 0 END AS quad,
        |    (y % 8) * 8 + (x % 8) AS li, y * 16 + x AS fi FROM c),
        |v AS (SELECT doc_id, f, quad, quad + 1 AS k,
        |    ((doc_id*3 + fi*5) % 15)
        |      + CASE WHEN (doc_id*3 + fi*5) % 15 >= 7 THEN 1 ELSE 0 END AS g0,
        |    (doc_id*11 + (quad+1)*29 + li*3) % 16 AS rawk
        |  FROM q),
        |r AS (SELECT doc_id, f, k,
        |    CASE WHEN f >= 3 AND quad = 0 THEN -1
        |         WHEN k <= f - 1 AND rawk <> 7 THEN rawk
        |         ELSE -2 END AS sel, g0
        |  FROM v),
        |ch AS (SELECT doc_id,
        |    CASE WHEN sel = -1 THEN (3*41+7) % 256
        |         WHEN sel = -2 THEN (g0*41+7) % 256
        |         WHEN k = 2 THEN (sel*59+17) % 256
        |         ELSE (sel*41+7) % 256 END AS cr,
        |    CASE WHEN sel = -1 THEN (3*73+11) % 256
        |         WHEN sel = -2 THEN (g0*73+11) % 256
        |         WHEN k = 2 THEN (sel*83+19) % 256
        |         ELSE (sel*73+11) % 256 END AS cg,
        |    CASE WHEN sel = -1 THEN (3*97+13) % 256
        |         WHEN sel = -2 THEN (g0*97+13) % 256
        |         WHEN k = 2 THEN (sel*101+23) % 256
        |         ELSE (sel*97+13) % 256 END AS cb
        |  FROM r)
        |SELECT doc_id AS media_id, 16::BIGINT AS width,
        |  16::BIGINT AS height, (2 + doc_id % 3)::BIGINT AS n_frames,
        |  sum(cr)::BIGINT AS c0_sum, sum(cg)::BIGINT AS c1_sum,
        |  sum(cb)::BIGINT AS c2_sum
        |FROM ch GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // 12-bit JPEG decode (DICOM/scan exports): Pq=1 16-bit quant
    // tables, 2048 level shift, 4095 clamp, and the high-byte fold to
    // 8-bit output — grayscale on even ids, 4:4:4 YCbCr on odd. The
    // oracle replays the 12-bit color math; the Spark side must earn
    // it through the real wide-precision entropy decode.
    "multimodal_jpeg12_pixels" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoJpeg12Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the 12-bit generator: even ids fold the gray sample to
      // its high byte (gv // 16); odd ids run the BT.601 reconstruction
      // in the 12-bit domain (chroma centered on 2048, clamp at 4095,
      // 368-step offsets keep rounding stable) then the same fold.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS bw,
        |                  1 + doc_id % 2 AS bh FROM documents),
        |b AS (SELECT doc_id, bw, bh, unnest(range(0, bw*bh)) AS i FROM m),
        |v AS (SELECT doc_id, bw, bh,
        |    (doc_id*37 + i*13) % 4096 AS gv,
        |    (doc_id*29 + i*5) % 4096 AS yv,
        |    368*(((doc_id + i) % 5) - 2) AS cb,
        |    368*(((doc_id*7 + i*3) % 5) - 2) AS cr
        |  FROM b),
        |p AS (SELECT doc_id, bw, bh,
        |    CASE WHEN doc_id % 2 = 0 THEN gv // 16
        |      ELSE LEAST(GREATEST(round(yv + 1.402*cr), 0), 4095)::BIGINT
        |           // 16 END AS r,
        |    CASE WHEN doc_id % 2 = 0 THEN gv // 16
        |      ELSE LEAST(GREATEST(round(yv - 0.344136*cb - 0.714136*cr),
        |                          0), 4095)::BIGINT // 16 END AS g,
        |    CASE WHEN doc_id % 2 = 0 THEN gv // 16
        |      ELSE LEAST(GREATEST(round(yv + 1.772*cb), 0), 4095)::BIGINT
        |           // 16 END AS bl
        |  FROM v)
        |SELECT doc_id AS media_id, (bw*8)::BIGINT AS width,
        |  (bh*8)::BIGINT AS height, (bw*bh*64)::BIGINT AS n_pixels,
        |  (64*sum(r))::BIGINT AS c0_sum, (64*sum(g))::BIGINT AS c1_sum,
        |  (64*sum(bl))::BIGINT AS c2_sum
        |FROM p GROUP BY doc_id, bw, bh ORDER BY media_id""".stripMargin),

    // REAL palette-PNG decode — the screenshot/diagram half of web
    // image corpora: inflate + one-byte-distance unfilter + MSB-first
    // sub-byte index unpacking (depths 1/2/4/8) + PLTE resolution.
    // The oracle replays the palette arithmetic like the GIF/BMP
    // indexed queries; the Spark side must earn it through the real
    // chunk walk and bit unpacking.
    "multimodal_png_palette" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoPngPalCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.pixelStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the palette-PNG generator: np = 2^(2^(id%4)) capped by
      // construction at 256; channel c of PLTE entry j is
      // (j*{41,73,97} + {7,11,13}) % 256 in R,G,B order.
      """WITH m AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 16
        |      ELSE 256 END AS np
        |  FROM documents)
        |SELECT doc_id AS media_id, w::BIGINT AS width, h::BIGINT AS height,
        |  (w*h)::BIGINT AS n_pixels,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 41 + 7) % 256))::BIGINT AS c0_sum,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 73 + 11) % 256))::BIGINT AS c1_sum,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> (((doc_id*31 + i*7) % np) * 97 + 13) % 256))::BIGINT AS c2_sum
        |FROM m ORDER BY media_id""".stripMargin),

    // REAL integer-PCM depth dispatch: 8-bit unsigned recentered,
    // 16-bit s16le, 24-bit s24le kept to its top 16 bits, and a
    // WAVE_FORMAT_EXTENSIBLE (0xFFFE) header whose true code lives in
    // the SubFormat GUID — the fmt-chunk shapes real audio corpora
    // actually ship. Oracle replays the per-depth arithmetic.
    "multimodal_audio_pcm_depths" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoPcmDepthCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the per-depth PCM arithmetic: 8-bit (v−128)·256, 16-bit
      // v−32768, 24-bit signed FLOOR-division by 256 (the top 16 bits —
      // an arithmetic shift in the decoder). DuckDB's `//` truncates
      // toward zero on negatives, so the floor is built from the
      // non-negative stored value: u//256 − 65536·[u ≥ 2²³] is exact
      // because 2²⁴ divides by 256 without remainder. The extensible
      // case (id%4=3) shares the 16-bit values.
      """WITH m AS (SELECT doc_id, 300 + doc_id % 100 AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |    CASE doc_id % 4
        |      WHEN 0 THEN list_transform(range(0, n),
        |        j -> ((doc_id*13 + j*37) % 256 - 128) * 256)
        |      WHEN 2 THEN list_transform(range(0, n), j ->
        |        ((doc_id*131071 + j*524287) % 16777216) // 256
        |        - CASE WHEN (doc_id*131071 + j*524287) % 16777216 >= 8388608
        |               THEN 65536 ELSE 0 END)
        |      ELSE list_transform(range(0, n),
        |        j -> (doc_id*13 + j*37) % 65536 - 32768)
        |    END AS vs
        |  FROM m)
        |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
        |  n::BIGINT AS n_samples,
        |  list_max(list_transform(vs, y -> abs(y)))::BIGINT AS peak_abs,
        |  list_sum(list_transform(vs, y -> y*y))::BIGINT AS sum_sq
        |FROM s ORDER BY media_id""".stripMargin),

    // Fragmented-MP4 (CMAF/DASH segment) sample walk: moof/traf/tfhd/
    // trun parsing with default-base-is-moof, explicit trun data
    // offsets, per-sample sizes, and first-sample-flags sync marking
    // — the streaming-capture shape stbl tables never cover. The
    // oracle re-derives every absolute byte offset from the layout
    // algebra, so one wrong base or size desyncs the sum.
    "video_fragment_samples" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoFragMp4Corpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.mp4SampleStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the fragment layout algebra: fragment f of doc id holds
      // ns = 2+(id+f)%3 samples; moof = 76+4·ns bytes, its trun data
      // offset = 84+4·ns; fragment starts chain by window prefix-sum of
      // (moof + mdat) and sample offsets by prefix-sum of sizes. Sync =
      // first sample of each fragment (first-sample-flags convention).
      """WITH m AS (SELECT doc_id, 1 + doc_id % 3 AS nf FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, nf)) AS fr FROM m),
        |fx AS (SELECT doc_id, fr, 2 + (doc_id + fr) % 3 AS ns FROM f),
        |k AS (SELECT doc_id, fr, ns, unnest(range(0, ns)) AS kk FROM fx),
        |kz AS (SELECT doc_id, fr, ns, kk,
        |    1 + (doc_id*5 + fr*7 + kk*3) % 50 AS sz FROM k),
        |fs AS (SELECT doc_id, fr, any_value(ns) AS ns, sum(sz) AS sfrag
        |  FROM kz GROUP BY doc_id, fr),
        |fo AS (SELECT doc_id, fr, ns,
        |    16 + COALESCE(SUM(76 + 4*ns + 8 + sfrag) OVER (
        |      PARTITION BY doc_id ORDER BY fr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS fstart
        |  FROM fs),
        |ko AS (SELECT kz.doc_id, kz.kk, kz.sz,
        |    fo.fstart + 84 + 4*fo.ns + COALESCE(SUM(kz.sz) OVER (
        |      PARTITION BY kz.doc_id, kz.fr ORDER BY kz.kk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS soff
        |  FROM kz JOIN fo ON fo.doc_id = kz.doc_id AND fo.fr = kz.fr)
        |SELECT doc_id AS media_id, count(*)::BIGINT AS n_samples,
        |  sum(CASE WHEN kk = 0 THEN 1 ELSE 0 END)::BIGINT AS n_sync,
        |  sum(sz)::BIGINT AS sum_size, sum(soff)::BIGINT AS sum_offset
        |FROM ko GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // REAL IMA-ADPCM decode — the classic 4-bit WAV compression
    // telephony and game audio shipped for decades: block headers,
    // low-first nibble unpacking, and the stateful step-table
    // recurrence with double clamping. The oracle replays the whole
    // recurrence in a recursive CTE; every sample must match.
    "multimodal_audio_ima" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoAudioImaCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the IMA-ADPCM recurrence itself: a recursive CTE walks
      // the 64 nibbles carrying (predictor, step index, running peak,
      // running Σx²), joining the public 89-entry step table and a
      // 16-row nibble-bit table — the oracle derives every sample
      // independently, not from the decoder.
      {
      val stepTab = ImaStepSql; val nibTab = ImaNibSql; val np = ImaNpSql
      s"""WITH RECURSIVE
         |steps AS (SELECT * FROM (VALUES $stepTab) t(i, s)),
         |nibs AS (SELECT * FROM (VALUES $nibTab) t(n, b0, b1, b2, sgn, adj)),
         |dec AS (
         |  SELECT doc_id, 0 AS j,
         |    ((doc_id*37) % 65536 - 32768) AS pred,
         |    ((doc_id*13) % 89) AS idx,
         |    abs((doc_id*37) % 65536 - 32768) AS peak,
         |    ((doc_id*37) % 65536 - 32768)
         |      * ((doc_id*37) % 65536 - 32768) AS sq
         |  FROM documents
         |  UNION ALL
         |  SELECT d.doc_id, d.j + 1, $np,
         |    LEAST(GREATEST(d.idx + nb.adj, 0), 88),
         |    GREATEST(d.peak, abs($np)), d.sq + ($np) * ($np)
         |  FROM dec d
         |  JOIN steps st ON st.i = d.idx
         |  JOIN nibs nb ON nb.n = (d.doc_id*7 + d.j*3) % 16
         |  WHERE d.j < 64)
         |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
         |  65::BIGINT AS n_samples, peak::BIGINT AS peak_abs,
         |  sq::BIGINT AS sum_sq
         |FROM dec WHERE j = 64 ORDER BY media_id""".stripMargin
    }),

    // The COMPOSED crawl-to-corpus pipeline in one query — what a C4/
    // CCNet-style ingest actually runs: gunzip the crawl, walk WARC
    // records, parse the HTTP responses, keep 200 + text/html, strip
    // HTML boilerplate (head/script/style blocks, tags, entities)
    // with the codegen'd Column chain, and aggregate text stats. The
    // binary walk is one flatMap; everything after stays whole-stage
    // codegen over (status, type, body) rows.
    "crawl_text_pipeline" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoCrawlHtmlCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.crawlPages(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF()
        .filter(col("status") === 200 && col("content_type") === "text/html")
        .withColumn("txt", graft.operators.Html.extractText(col("body")))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_pages"),
          sum(size(split(col("txt"), "\\s+"))).as("sum_tokens"),
          sum(length(col("txt"))).as("sum_chars"))
        .orderBy("media_id")
    },
      // Replays the whole composed chain from the generator: qualifying
      // records are status residues {0,2} x type residues {0,2}; the
      // post-strip text is the literal template, so tokens = 5/page and
      // chars = length of the rebuilt string.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS nr FROM documents),
        |r AS (SELECT doc_id, unnest(range(0, nr)) AS rec FROM m),
        |x AS (SELECT doc_id, rec,
        |    (doc_id + rec) % 4 AS st, (doc_id*3 + rec) % 3 AS ctc,
        |    (doc_id*7 + rec*11) % 100 AS w0,
        |    (doc_id*7 + rec*11 + 13) % 100 AS w1,
        |    (doc_id*7 + rec*11 + 26) % 100 AS w2,
        |    (doc_id*7 + rec*11 + 39) % 100 AS w3,
        |    CASE WHEN (doc_id*3 + rec) % 3 = 0 THEN
        |        CASE doc_id % 3 WHEN 0 THEN 'plain'
        |          WHEN 1 THEN 'ёжик' ELSE '犬猫' END
        |      WHEN doc_id % 2 = 1 THEN 'мир' ELSE 'ascii' END AS mark
        |  FROM r),
        |p AS (SELECT doc_id,
        |    'alpha' || w0 || ' beta' || w1 || ' & gamma' || w2
        |      || ' delta' || w3 || ' ' || mark AS txt
        |  FROM x WHERE st IN (0, 2) AND ctc IN (0, 2))
        |SELECT doc_id AS media_id, count(*)::BIGINT AS n_pages,
        |  (6 * count(*))::BIGINT AS sum_tokens,
        |  sum(length(txt))::BIGINT AS sum_chars
        |FROM p GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // HTTP-aware WARC processing: gunzip -> record walk -> parse the
    // HTTP response inside each content block (status, Content-Type
    // with parameter stripping, exact header/body split). body_sum
    // only matches on a byte-exact split, so leaking protocol headers
    // into the "document" fails the oracle — the exact bug that
    // poisons crawl-derived training text.
    "warc_http_stats" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoWarcHttpCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.warcHttpStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the HTTP generator: status/type cycles, body lengths,
      // and the modular body byte sum via a per-byte unnest.
      """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS nr FROM documents),
        |r AS (SELECT doc_id, unnest(range(0, nr)) AS rec FROM m),
        |x AS (SELECT doc_id, rec,
        |    CASE (doc_id + rec) % 4 WHEN 0 THEN 200 WHEN 1 THEN 301
        |      WHEN 2 THEN 404 ELSE 503 END AS status,
        |    CASE (doc_id*3 + rec) % 3 WHEN 0 THEN 'text/html'
        |      WHEN 1 THEN 'application/json' ELSE 'text/plain' END AS ct,
        |    20 + (doc_id*7 + rec*11) % 50 AS blen
        |  FROM r),
        |bs AS (SELECT doc_id, rec,
        |    sum((doc_id*13 + rec*17 + j*19) % 256) AS bsum
        |  FROM (SELECT doc_id, rec, blen, unnest(range(0, blen)) AS j
        |        FROM x) GROUP BY doc_id, rec)
        |SELECT x.doc_id AS media_id, count(*)::BIGINT AS n_records,
        |  sum(CASE WHEN x.status = 200 THEN 1 ELSE 0 END)::BIGINT AS n_ok,
        |  sum(CASE WHEN x.ct = 'text/html' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_html,
        |  sum(x.blen)::BIGINT AS body_bytes,
        |  sum(bs.bsum)::BIGINT AS body_sum
        |FROM x JOIN bs ON bs.doc_id = x.doc_id AND bs.rec = x.rec
        |GROUP BY x.doc_id ORDER BY media_id""".stripMargin),

    // STEREO IMA-ADPCM: alternating 4-byte channel words with
    // independent per-channel predictor state — the de-interleave is
    // where naive decoders corrupt stereo audio. The oracle runs both
    // channel recurrences in one recursive CTE.
    "multimodal_audio_ima_stereo" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoAudioImaStereoCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays BOTH stereo channels' IMA recurrences in one recursive
      // CTE with the channel as a state dimension: seeds and nibble
      // generators switch on ch, the step/nibble tables are shared.
      {
      val stepTab = ImaStepSql; val nibTab = ImaNibSql; val np = ImaNpSql
      val seedP = "CASE ch WHEN 0 THEN (doc_id*37) % 65536 - 32768" +
        " ELSE (doc_id*59) % 65536 - 32768 END"
      s"""WITH RECURSIVE
         |steps AS (SELECT * FROM (VALUES $stepTab) t(i, s)),
         |nibs AS (SELECT * FROM (VALUES $nibTab) t(n, b0, b1, b2, sgn, adj)),
         |dec AS (
         |  SELECT doc_id, ch, 0 AS j,
         |    $seedP AS pred,
         |    CASE ch WHEN 0 THEN (doc_id*13) % 89
         |      ELSE (doc_id*17) % 89 END AS idx,
         |    abs($seedP) AS peak,
         |    ($seedP) * ($seedP) AS sq
         |  FROM documents CROSS JOIN (VALUES (0), (1)) c(ch)
         |  UNION ALL
         |  SELECT d.doc_id, d.ch, d.j + 1, $np,
         |    LEAST(GREATEST(d.idx + nb.adj, 0), 88),
         |    GREATEST(d.peak, abs($np)), d.sq + ($np) * ($np)
         |  FROM dec d
         |  JOIN steps st ON st.i = d.idx
         |  JOIN nibs nb ON nb.n = CASE d.ch
         |    WHEN 0 THEN (d.doc_id*7 + d.j*3) % 16
         |    ELSE (d.doc_id*11 + d.j*5) % 16 END
         |  WHERE d.j < 64)
         |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
         |  130::BIGINT AS n_samples, MAX(peak)::BIGINT AS peak_abs,
         |  SUM(sq)::BIGINT AS sum_sq
         |FROM dec WHERE j = 64 GROUP BY doc_id ORDER BY media_id""".stripMargin
    }),

    // STEREO MS-ADPCM: field-major dual-channel headers and PER-NIBBLE
    // channel alternation (high = left, low = right) — a different
    // interleave than IMA's word blocks. Both two-tap predictors
    // advance in one recursive-CTE row in the oracle.
    "multimodal_audio_msadpcm_stereo" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoAudioMsStereoCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays BOTH stereo MS-ADPCM predictors per recursion row:
      // channel-suffixed state columns, per-channel coefficient joins in
      // the base case, and two nibble-table joins keyed on each
      // channel's generator.
      {
      val npL = msNpSql("l", "nl"); val npR = msNpSql("r", "nr")
      def seed(m: Int) = s"((doc_id*$m) % 65536 - 32768)"
      val (s1l, s1r, s2l, s2r) = (seed(37), seed(41), seed(53), seed(61))
      s"""WITH RECURSIVE
         |cf AS (SELECT * FROM (VALUES $MsCoefSql) t(i, c1, c2)),
         |nt AS (SELECT * FROM (VALUES $MsNibSql) t(n, sn, ad)),
         |dec AS (
         |  SELECT doc_id, 0 AS j,
         |    cl.c1 AS c1l, cl.c2 AS c2l, cr2.c1 AS c1r, cr2.c2 AS c2r,
         |    $s1l AS prevl, $s2l AS prev2l,
         |    (16 + (doc_id*11) % 1000) AS deltal,
         |    $s1r AS prevr, $s2r AS prev2r,
         |    (16 + (doc_id*23) % 1000) AS deltar,
         |    GREATEST(abs($s1l), abs($s2l), abs($s1r), abs($s2r)) AS peak,
         |    ($s1l)*($s1l) + ($s2l)*($s2l)
         |      + ($s1r)*($s1r) + ($s2r)*($s2r) AS sq
         |  FROM documents
         |  JOIN cf cl ON cl.i = doc_id % 7
         |  JOIN cf cr2 ON cr2.i = (doc_id*5) % 7
         |  UNION ALL
         |  SELECT d.doc_id, d.j + 1,
         |    d.c1l, d.c2l, d.c1r, d.c2r,
         |    $npL, d.prevl, ${msDeltaSql("l", "nl")},
         |    $npR, d.prevr, ${msDeltaSql("r", "nr")},
         |    GREATEST(d.peak, abs($npL), abs($npR)),
         |    d.sq + ($npL) * ($npL) + ($npR) * ($npR)
         |  FROM dec d
         |  JOIN nt nl ON nl.n = (d.doc_id*7 + d.j*3) % 16
         |  JOIN nt nr ON nr.n = (d.doc_id*19 + d.j*9) % 16
         |  WHERE d.j < 64)
         |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
         |  132::BIGINT AS n_samples, peak::BIGINT AS peak_abs,
         |  sq::BIGINT AS sum_sq
         |FROM dec WHERE j = 64 ORDER BY media_id""".stripMargin
    }),

    // REAL MS-ADPCM decode — the OTHER classic 4-bit WAV codec:
    // 7-byte block headers seeding a two-tap predictor, HIGH-first
    // nibbles, and the adaptive-delta schedule. The oracle replays the
    // whole recurrence in a recursive CTE; every sample must match.
    "multimodal_audio_msadpcm" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoAudioMsAdpcmCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.audioStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile])
        .toDF().orderBy("media_id")
    },
      // Replays the MS-ADPCM recurrence: a recursive CTE carries
      // (prev, prev2, delta) through the 64 nibbles, joining the public
      // 7-pair coefficient table (fixed per doc) and a 16-row
      // signed-nibble/adaptation table; >>8 on a possibly-negative
      // predictor is FLOOR division, modeled via floor(x/256.0).
      {
      val coefTab = MsCoefSql; val nibTab = MsNibSql
      val np = "LEAST(GREATEST(CAST(floor((d.prev*d.c1 + d.prev2*d.c2)" +
        " / 256.0) AS BIGINT) + nt.sn * d.delta, -32768), 32767)"
      s"""WITH RECURSIVE
         |cf AS (SELECT * FROM (VALUES $coefTab) t(i, c1, c2)),
         |nt AS (SELECT * FROM (VALUES $nibTab) t(n, sn, ad)),
         |dec AS (
         |  SELECT doc_id, 0 AS j, cf.c1, cf.c2,
         |    ((doc_id*37) % 65536 - 32768) AS prev,
         |    ((doc_id*53) % 65536 - 32768) AS prev2,
         |    (16 + (doc_id*11) % 1000) AS delta,
         |    GREATEST(abs((doc_id*37) % 65536 - 32768),
         |             abs((doc_id*53) % 65536 - 32768)) AS peak,
         |    ((doc_id*37) % 65536 - 32768) * ((doc_id*37) % 65536 - 32768)
         |      + ((doc_id*53) % 65536 - 32768)
         |        * ((doc_id*53) % 65536 - 32768) AS sq
         |  FROM documents JOIN cf ON cf.i = doc_id % 7
         |  UNION ALL
         |  SELECT d.doc_id, d.j + 1, d.c1, d.c2, $np, d.prev,
         |    LEAST(GREATEST(16, (nt.ad * d.delta) // 256), 32767),
         |    GREATEST(d.peak, abs($np)), d.sq + ($np) * ($np)
         |  FROM dec d
         |  JOIN nt ON nt.n = (d.doc_id*7 + d.j*3) % 16
         |  WHERE d.j < 64)
         |SELECT doc_id AS media_id, 16000::BIGINT AS sample_rate,
         |  66::BIGINT AS n_samples, peak::BIGINT AS peak_abs,
         |  sq::BIGINT AS sum_sq
         |FROM dec WHERE j = 64 ORDER BY media_id""".stripMargin
    }),

    // Decode-loss forensics across EVERY ingest family — images, WAV
    // audio, tar shards, WARC crawls, zstd frames: classify each
    // payload as ok / empty / unknown_container / unsupported_profile
    // / corrupt and count by (container, reason) — the observability
    // layer that distinguishes "ship a profile extension" from "fix
    // the ingest" at corpus scale, over one planted class per id%60.
    "decode_err_rates" -> Query((s, dir) => {
      import s.implicits._
      val corpus = graft.operators.Multimodal.demoDecodeErrCorpus(
        s, t(s, dir, "documents"))
      graft.operators.Multimodal.decodeErrStats(s,
          graft.operators.Multimodal.shapeForDecode(corpus.toDF(), 32)
            .as[graft.operators.Multimodal.MediaFile],
          graft.operators.Multimodal.FixtureOversizeCapBytes)
        .orderBy("format", "decode_err")
    },
      // Replays the planted-failure generator: each id%60 residue maps
      // to a fixed (container, reason) pair across all ingest families —
      // the four zstd outcomes of the RFC 8878 decoder, the two WebP
      // outcomes of the VP8L decoder, the mixed-member `.warc.gz`
      // recovery class (`ok_skipped_members`, distinct from corrupt),
      // the two FLAC outcomes (real decode / CRC-caught damage), the
      // two Ogg outcomes (real Ogg-FLAC decode / Vorbis named as a
      // profile gap), and the two ZIP outcomes (full-member decode /
      // member-CRC-caught damage).
      """WITH m AS (SELECT doc_id,
        |    CASE doc_id % 60
        |      WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'tiff'
        |      WHEN 3 THEN 'png' WHEN 4 THEN 'unknown' WHEN 5 THEN 'jpeg'
        |      WHEN 6 THEN 'tar' WHEN 7 THEN 'tar' WHEN 8 THEN 'tar'
        |      WHEN 9 THEN 'warc' WHEN 10 THEN 'gzip' WHEN 11 THEN 'wav'
        |      WHEN 12 THEN 'wav' WHEN 13 THEN 'wav' WHEN 14 THEN 'warc'
        |      WHEN 15 THEN 'zstd' WHEN 16 THEN 'zstd' WHEN 17 THEN 'zstd'
        |      WHEN 18 THEN 'webp' WHEN 19 THEN 'webp' WHEN 20 THEN 'warc'
        |      WHEN 21 THEN 'flac' WHEN 22 THEN 'flac'
        |      WHEN 23 THEN 'oggflac' WHEN 24 THEN 'ogg_vorbis'
        |      WHEN 25 THEN 'zip' WHEN 26 THEN 'zip'
        |      WHEN 27 THEN 'warc' WHEN 28 THEN 'zstd'
        |      WHEN 29 THEN 'warc' WHEN 30 THEN 'bzip2'
        |      WHEN 31 THEN 'warc' WHEN 32 THEN 'lz4'
        |      WHEN 33 THEN 'warc' WHEN 34 THEN 'xz'
        |      WHEN 35 THEN 'warc' WHEN 36 THEN 'compress_z'
        |      WHEN 37 THEN 'cpio' WHEN 38 THEN 'cpio'
        |      WHEN 39 THEN 'ar' WHEN 40 THEN 'ar'
        |      WHEN 41 THEN 'zip'
        |      WHEN 42 THEN 'avro' WHEN 43 THEN 'avro' WHEN 44 THEN 'avro'
        |      WHEN 45 THEN 'sqlite' WHEN 46 THEN 'sqlite'
        |      WHEN 47 THEN 'rpm' WHEN 48 THEN 'rpm'
        |      WHEN 49 THEN 'npy' WHEN 50 THEN 'npy'
        |      WHEN 51 THEN 'safetensors' WHEN 52 THEN 'safetensors'
        |      WHEN 53 THEN 'gitpack' WHEN 54 THEN 'gitpack'
        |      WHEN 59 THEN 'oversize'
        |      ELSE 'pdf'
        |    END AS format,
        |    CASE doc_id % 60
        |      WHEN 0 THEN 'ok' WHEN 1 THEN 'ok'
        |      WHEN 2 THEN 'unsupported_profile' WHEN 3 THEN 'corrupt'
        |      WHEN 4 THEN 'unknown_container'
        |      WHEN 5 THEN 'unsupported_profile'
        |      WHEN 6 THEN 'ok' WHEN 7 THEN 'corrupt'
        |      WHEN 8 THEN 'unsupported_profile'
        |      WHEN 9 THEN 'ok' WHEN 10 THEN 'corrupt'
        |      WHEN 11 THEN 'ok' WHEN 12 THEN 'unsupported_profile'
        |      WHEN 13 THEN 'corrupt' WHEN 14 THEN 'ok'
        |      WHEN 15 THEN 'corrupt' WHEN 16 THEN 'unsupported_profile'
        |      WHEN 17 THEN 'unknown_container'
        |      WHEN 18 THEN 'ok' WHEN 19 THEN 'unsupported_profile'
        |      WHEN 20 THEN 'ok_skipped_members'
        |      WHEN 21 THEN 'ok' WHEN 22 THEN 'corrupt'
        |      WHEN 23 THEN 'ok' WHEN 24 THEN 'unsupported_profile'
        |      WHEN 25 THEN 'ok' WHEN 26 THEN 'corrupt'
        |      WHEN 27 THEN 'ok' WHEN 28 THEN 'unsupported_profile'
        |      WHEN 29 THEN 'ok' WHEN 30 THEN 'corrupt'
        |      WHEN 31 THEN 'ok' WHEN 32 THEN 'corrupt'
        |      WHEN 33 THEN 'ok' WHEN 34 THEN 'corrupt'
        |      WHEN 35 THEN 'ok' WHEN 36 THEN 'unknown_container'
        |      WHEN 37 THEN 'ok' WHEN 38 THEN 'corrupt'
        |      WHEN 39 THEN 'ok' WHEN 40 THEN 'corrupt'
        |      WHEN 41 THEN 'unsupported_profile'
        |      WHEN 42 THEN 'ok' WHEN 43 THEN 'unsupported_profile'
        |      WHEN 44 THEN 'corrupt'
        |      WHEN 45 THEN 'ok' WHEN 46 THEN 'unsupported_profile'
        |      WHEN 47 THEN 'ok' WHEN 48 THEN 'corrupt'
        |      WHEN 49 THEN 'ok' WHEN 50 THEN 'ok'
        |      WHEN 51 THEN 'ok' WHEN 52 THEN 'unsupported_profile'
        |      WHEN 53 THEN 'ok' WHEN 54 THEN 'corrupt'
        |      WHEN 55 THEN 'ok' WHEN 56 THEN 'encrypted'
        |      WHEN 57 THEN 'recovered_xref'
        |      WHEN 59 THEN 'quarantined_oversize' ELSE 'image_only'
        |    END AS decode_err
        |  FROM documents)
        |SELECT format, decode_err, count(*)::BIGINT AS n
        |FROM m GROUP BY format, decode_err
        |ORDER BY format, decode_err""".stripMargin),

    // Skyline (Pareto frontier) over parts on (minimize price cents,
    // maximize size): "cheapest part for its size class". The bucketed
    // decomposition inside Skyline.frontier2d never builds the global
    // single-partition window the textbook formulation needs.
    "skyline_pareto" -> Query((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size"))
      Skyline.frontier2d(p, "cents", "p_size", bucketWidth = 10000L)
        .orderBy("p_partkey")
    },
      // NOT EXISTS strict domination — the quadratic serial definition the
      // bucketed window decomposition must reproduce exactly.
      """WITH p AS (SELECT p_partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS cents, p_size
        |  FROM part)
        |SELECT p_partkey, cents, p_size,
        |  NOT EXISTS (SELECT 1 FROM p q
        |    WHERE q.cents <= p.cents AND q.p_size >= p.p_size
        |      AND (q.cents < p.cents OR q.p_size > p.p_size))
        |    AS is_frontier
        |FROM p ORDER BY p_partkey""".stripMargin),

    // Personalized PageRank from the 1-in-10 supplier seed set over the
    // supplier co-purchase graph — TrustRank-style proximity-to-trusted
    // weighting, exact-integer sweeps.
    "graph_ppr" -> Query((s, dir) => {
      val li = tc(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
        .where(col("src") =!= col("dst"))
        .select("src", "dst")
      val seeds = t(s, dir, "supplier")
        .where(pmod(col("s_suppkey"), lit(10)) === 0)
        .select(col("s_suppkey"))
      Graph.personalizedPageRankInt(edges, "src", "dst", seeds,
          "s_suppkey", iterations = 2)
        .orderBy("node")
    },
      // Serial replay of the exact integer PPR recurrence, 2 unrolled
      // iterations; teleport mass only on seed nodes.
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |            FROM lineitem),
        |edges AS (SELECT DISTINCT a.sk AS src, b.sk AS dst
        |          FROM li a JOIN li b ON a.ok = b.ok AND a.sk != b.sk),
        |nodes AS (SELECT src AS node FROM edges
        |          UNION SELECT dst FROM edges),
        |outdeg AS (SELECT src, count(*)::BIGINT AS deg FROM edges
        |           GROUP BY src),
        |seeds AS (SELECT DISTINCT s_suppkey AS node FROM supplier
        |          WHERE s_suppkey % 10 = 0
        |            AND s_suppkey IN (SELECT node FROM nodes)),
        |ns AS (SELECT count(*)::BIGINT AS n FROM seeds),
        |fl AS (SELECT n2.node,
        |    CASE WHEN s.node IS NOT NULL
        |      THEN ((15000000000000 // 100) // ns.n) ELSE 0 END::BIGINT
        |      AS tele_fp,
        |    CASE WHEN s.node IS NOT NULL
        |      THEN (1000000000000 // ns.n) ELSE 0 END::BIGINT AS r0
        |  FROM nodes n2 LEFT JOIN seeds s ON n2.node = s.node CROSS JOIN ns),
        |s1 AS (SELECT d.src, (f.r0 // d.deg)::BIGINT AS c
        |       FROM fl f JOIN outdeg d ON f.node = d.src),
        |i1 AS (SELECT e.dst, sum(c)::BIGINT AS infl
        |       FROM edges e JOIN s1 USING (src) GROUP BY e.dst),
        |r1 AS (SELECT f.node,
        |    (f.tele_fp + ((85 * coalesce(i.infl, 0)) // 100))::BIGINT AS r
        |  FROM fl f LEFT JOIN i1 i ON f.node = i.dst),
        |s2 AS (SELECT d.src, (r.r // d.deg)::BIGINT AS c
        |       FROM r1 r JOIN outdeg d ON r.node = d.src),
        |i2 AS (SELECT e.dst, sum(c)::BIGINT AS infl
        |       FROM edges e JOIN s2 USING (src) GROUP BY e.dst),
        |r2 AS (SELECT f.node,
        |    (f.tele_fp + ((85 * coalesce(i.infl, 0)) // 100))::BIGINT AS r
        |  FROM fl f LEFT JOIN i2 i ON f.node = i.dst)
        |SELECT node, r AS rank_fp FROM r2 ORDER BY node""".stripMargin),

    // Label-propagation communities (2 synchronous sweeps, ties to the
    // smaller label) over the sparse part co-purchase graph, with
    // community sizes — density-aware grouping where connected
    // components only answer "touching at all".
    "graph_communities" -> Query((s, dir) => {
      val labels = Graph.labelPropagation(partEdges(s, dir), "src", "dst",
        rounds = 2)
      val sizes = labels.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("comm_size"))
      labels.select(col("node"), col("label").as("community"))
        .join(sizes, Seq("community"))
        .select("node", "community", "comm_size")
        .orderBy("node")
    },
      // 2 unrolled synchronous LPA sweeps: per-(node, neighbor-label)
      // vote counts, argmax by (count desc, label asc) via row_number.
      s"""WITH $partEdgesSql,
         |und AS (SELECT u, v FROM e),
         |nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und),
         |adj AS (SELECT u, v FROM und
         |        UNION ALL SELECT v AS u, u AS v FROM und
         |        UNION ALL SELECT node AS u, node AS v FROM nodes),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |v1 AS (SELECT adj.u AS nd, l0.label, count(*)::BIGINT AS cnt
         |       FROM adj JOIN l0 ON adj.v = l0.node GROUP BY 1, 2),
         |l1 AS (SELECT nd AS node, label FROM (
         |    SELECT nd, label, row_number() OVER (
         |      PARTITION BY nd ORDER BY cnt DESC, label) AS rn FROM v1) x
         |  WHERE rn = 1),
         |v2 AS (SELECT adj.u AS nd, l1.label, count(*)::BIGINT AS cnt
         |       FROM adj JOIN l1 ON adj.v = l1.node GROUP BY 1, 2),
         |l2 AS (SELECT nd AS node, label FROM (
         |    SELECT nd, label, row_number() OVER (
         |      PARTITION BY nd ORDER BY cnt DESC, label) AS rn FROM v2) x
         |  WHERE rn = 1),
         |sizes AS (SELECT label AS community, count(*)::BIGINT AS comm_size
         |          FROM l2 GROUP BY 1)
         |SELECT node::BIGINT AS node, label::BIGINT AS community, comm_size
         |FROM l2 JOIN sizes ON l2.label = sizes.community
         |ORDER BY node""".stripMargin),

    // Degree distribution of the sparse part graph in log2 bins — the
    // first diagnostic of whether a graph is hub-skewed (and therefore
    // whether joins over it need salting).
    "graph_degree_dist" -> Query((s, dir) => {
      // partEdges already emits globally-distinct src<dst pairs — a
      // second least/greatest+distinct would re-shuffle the largest
      // intermediate of the query for no semantic change
      val und = partEdges(s, dir)
        .select(col("src").as("u"), col("dst").as("v"))
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      deg.select((length(bin(col("deg"))) - 1).cast("int").as("log2_deg"))
        .groupBy("log2_deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("log2_deg")
    },
      s"""WITH $partEdgesSql,
         |deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
         |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) a
         |  GROUP BY node)
         |SELECT (length(format('{:b}', deg)) - 1)::INT AS log2_deg,
         |  count(*)::BIGINT AS n_nodes
         |FROM deg GROUP BY 1 ORDER BY log2_deg""".stripMargin),

    // Benford first-digit audit of order totals: observed vs expected
    // leading-digit shares in exact ppm — the classic fabricated-data
    // screen for money columns. Digit extraction goes through the
    // BIGINT's decimal string (identical in both engines); expected
    // shares are the log10(1+1/d) constants pre-rounded to ppm.
    "dq_benford" -> Query((s, dir) => {
      val cents = t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("cents") > 0)
      val total = broadcast(cents.agg(count(lit(1)).as("n_total")))
      val expPpm = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
        66947L, 57992L, 51153L, 45757L)
      cents.select(substring(col("cents").cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(total)
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div n_total").as("obs_ppm"),
          (2 to 9).foldLeft(when(col("digit") === "1", lit(expPpm(0)))) {
            (c, d) => c.when(col("digit") === d.toString, lit(expPpm(d - 1)))
          }.as("exp_ppm"))
        .orderBy("digit")
    },
      """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS cents FROM orders
        |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |tot AS (SELECT count(*)::BIGINT AS n_total FROM c),
        |d AS (SELECT substr(cents::VARCHAR, 1, 1) AS digit,
        |    count(*)::BIGINT AS n
        |  FROM c GROUP BY 1)
        |SELECT digit, n, ((n * 1000000) // n_total)::BIGINT AS obs_ppm,
        |  (CASE digit WHEN '1' THEN 301030 WHEN '2' THEN 176091
        |    WHEN '3' THEN 124939 WHEN '4' THEN 96910 WHEN '5' THEN 79181
        |    WHEN '6' THEN 66947 WHEN '7' THEN 57992 WHEN '8' THEN 51153
        |    WHEN '9' THEN 45757 END)::BIGINT AS exp_ppm
        |FROM d CROSS JOIN tot ORDER BY digit""".stripMargin),

    // Flesch-style readability per document in milli fixed point:
    // sentences = [.!?]+ runs, syllables = [aeiouy]+ vowel groups (the
    // standard no-dictionary approximation), words = the engine-wide
    // token count. All counts are run-length deltas over regexp_replace
    // — string-exact in both engines; the final score keeps the
    // 206.835/1.015/84.6 coefficients in integer milli units with `div`.
    "text_readability" -> Query((s, dir) =>
      tc(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_words"),
          {
            val m = regexp_replace(col("text"), "[.!?]+", "#")
            (length(m) - length(regexp_replace(m, "#", ""))).cast("long")
          }.as("n_sentences"),
          {
            val v = regexp_replace(lower(col("text")), "[aeiouy]+", "#")
            (length(v) - length(regexp_replace(v, "#", ""))).cast("long")
          }.as("n_syllables"))
        .select(col("doc_id"), col("n_words"),
          greatest(col("n_sentences"), lit(1L)).as("n_sentences"),
          col("n_syllables"))
        .withColumn("flesch_milli",
          lit(206835L) -
            expr("(1015 * n_words) div n_sentences") -
            expr("(84600 * n_syllables) div greatest(n_words, 1)"))
        .orderBy("doc_id"),
      {
      val toks = ExtensionQueries.toksSql
      s"""WITH m AS (SELECT doc_id,
         |    len($toks)::BIGINT AS n_words,
         |    (length(regexp_replace(text, '[.!?]+', '#', 'g')) -
         |     length(regexp_replace(regexp_replace(text, '[.!?]+', '#', 'g'),
         |       '#', '', 'g')))::BIGINT AS n_sentences,
         |    (length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g')) -
         |     length(regexp_replace(
         |       regexp_replace(lower(text), '[aeiouy]+', '#', 'g'),
         |       '#', '', 'g')))::BIGINT AS n_syllables
         |  FROM documents),
         |g AS (SELECT doc_id, n_words,
         |    greatest(n_sentences, 1) AS n_sentences, n_syllables FROM m)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  (206835 - ((1015 * n_words) // n_sentences)
         |   - ((84600 * n_syllables) // greatest(n_words, 1)))::BIGINT
         |    AS flesch_milli
         |FROM g ORDER BY doc_id""".stripMargin
    }),

    // Exact p50/p90/p99 event values per type by RANK SELECTION (the
    // value at row ceil(q·n) of the per-type sort) — integer-exact, no
    // interpolation, so the answer is engine-identical. This is the
    // exact-answer budget: one per-key sort; the fixed-grid
    // sketch_quantile family is the documented approximation for when
    // a 100 TB key won't sort.
    "metrics_latency_pcts" -> Query((s, dir) =>
      rankedEventCents(s, dir).groupBy("event_type")
        .agg(max(col("n")).as("n"),
          rankPick(1, 2).as("p50_cents"),
          rankPick(9, 10).as("p90_cents"),
          rankPick(99, 100).as("p99_cents"))
        .orderBy("event_type"),
      """WITH ev AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN cents END)::BIGINT
        |    AS p50_cents,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)::BIGINT
        |    AS p90_cents,
        |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END)::BIGINT
        |    AS p99_cents
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Vocabulary growth: new-to-the-corpus tokens per doc_id bucket of
    // 100 (first-seen bucket is a per-token min — no cumulative-distinct
    // state), plus the running vocabulary size over the tiny per-bucket
    // frame. The truncated-ingest fingerprint: a healthy crawl keeps
    // adding vocabulary; a looping one flatlines.
    "vocab_growth" -> Query((s, dir) => {
      val firstSeen = tc(s, dir, "documents")
        .select(expr("doc_id div 100").as("bucket"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(min(col("bucket")).as("bucket"))
      val perBucket = firstSeen.groupBy("bucket")
        .agg(count(lit(1)).as("n_new_tokens"))
      perBucket.withColumn("vocab_cum",
          sum(col("n_new_tokens")).over(Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("bucket")
    },
      {
      val toks = ExtensionQueries.toksSql
      s"""WITH tk AS (SELECT doc_id // 100 AS bucket, unnest($toks) AS tok
         |            FROM documents),
         |fs AS (SELECT tok, min(bucket)::BIGINT AS bucket FROM tk
         |       GROUP BY tok),
         |pb AS (SELECT bucket, count(*)::BIGINT AS n_new_tokens FROM fs
         |       GROUP BY bucket)
         |SELECT bucket, n_new_tokens,
         |  sum(n_new_tokens) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS vocab_cum
         |FROM pb ORDER BY bucket""".stripMargin
    }),

    // Join-key skew report over the three hottest key columns: distinct
    // counts plus the heaviest key's row share in ppm — the number that
    // decides between a plain shuffle join and the salted path. One
    // count-aggregation per column; no row ever carries payload.
    "dq_skew_report" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      def keyStats(df: DataFrame, keyCol: String): DataFrame = {
        val counts = df.groupBy(col(keyCol).as("k"))
          .agg(count(lit(1)).as("cnt"))
        counts.agg(count(lit(1)).as("n_distinct"),
            sum(col("cnt")).as("n_rows"), max(col("cnt")).as("top_n"))
          .select(lit(keyCol).as("key_col"), col("n_rows"),
            col("n_distinct"), col("top_n"),
            expr("(top_n * 1000000) div n_rows").as("top_share_ppm"))
      }
      keyStats(li, "l_suppkey")
        .unionAll(keyStats(li, "l_partkey"))
        .unionAll(keyStats(o, "o_custkey"))
        .orderBy("key_col")
    },
      """WITH s1 AS (SELECT 'l_suppkey' AS key_col, l_suppkey AS k
        |            FROM lineitem),
        |s2 AS (SELECT 'l_partkey' AS key_col, l_partkey AS k FROM lineitem),
        |s3 AS (SELECT 'o_custkey' AS key_col, o_custkey AS k FROM orders),
        |a AS (SELECT key_col, k, count(*)::BIGINT AS cnt FROM (
        |    SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |    UNION ALL SELECT * FROM s3) u
        |  GROUP BY key_col, k)
        |SELECT key_col, sum(cnt)::BIGINT AS n_rows,
        |  count(*)::BIGINT AS n_distinct, max(cnt)::BIGINT AS top_n,
        |  ((max(cnt) * 1000000) // sum(cnt))::BIGINT AS top_share_ppm
        |FROM a GROUP BY key_col ORDER BY key_col""".stripMargin),

    // Truncation dedup: document pairs where one text is a PREFIX of
    // the other (the re-crawl-cut-short duplicate exact-hash dedup
    // misses). Candidate pairs come from an equality join on the first
    // 32 chars — a pair can only be prefix-related if those agree — and
    // a substring-equality check verifies; texts shorter than 32 chars
    // are out of contract (too ambiguous to call truncations). The
    // shorter doc is id_a; equal-length (identical) texts order by id.
    "dedup_prefix_trunc" -> Query((s, dir) => {
      val d = tc(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("len"),
          substring(col("text"), 1, 32).as("k32"))
        .where(col("len") >= 32)
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"),
        col("len").as("len_a"), col("k32"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("text_b"),
        col("len").as("len_b"), col("k32"))
      a.join(b, Seq("k32"))
        .where(col("id_a") =!= col("id_b") &&
          (col("len_a") < col("len_b") ||
            (col("len_a") === col("len_b") && col("id_a") < col("id_b"))) &&
          expr("substring(text_b, 1, cast(len_a AS INT))") === col("text_a"))
        .select("id_a", "id_b", "len_a", "len_b")
        .orderBy("id_a", "id_b")
    },
      """WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS len,
        |    substr(text, 1, 32) AS k32
        |  FROM documents WHERE length(text) >= 32)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.len AS len_a, b.len AS len_b
        |FROM d a JOIN d b ON a.k32 = b.k32 AND a.doc_id != b.doc_id
        |WHERE (a.len < b.len OR (a.len = b.len AND a.doc_id < b.doc_id))
        |  AND substr(b.text, 1, CAST(a.len AS INT)) = a.text
        |ORDER BY id_a, id_b""".stripMargin),

    // Missed-heartbeat alerts: per user, events arriving more than 2h
    // after the previous one. Batch = one lag window per user key;
    // streaming = the same program through flatMapGroupsWithState
    // carrying ONE long (last-seen micros) per user — StreamingSpec
    // proves batch ≡ stream.
    "stream_gap_alert" -> Query((s, dir) =>
      graft.streaming.StreamingPipeline.gapAlertsBatch(
          t(s, dir, "events"), thresholdSeconds = 7200L)
        .orderBy("user_id", "ts_us"),
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |l AS (SELECT user_id, ts_us,
        |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |      AS prev_ts_us
        |  FROM e)
        |SELECT user_id, ts_us, prev_ts_us,
        |  ((ts_us - prev_ts_us) // 1000000)::BIGINT AS gap_s
        |FROM l
        |WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us > 7200000000
        |ORDER BY user_id, ts_us""".stripMargin),

    // Session-duration histogram: 30-minute-gap sessions binned by
    // log2 of their duration in seconds (zero-length single-event
    // sessions land in bin 0) — the engagement-shape fingerprint, and
    // the watermark/state-budget sizing input for the streaming
    // sessionizer.
    "session_duration_histogram" -> Query((s, dir) => {
      val sess = graft.streaming.StreamingPipeline.sessionizeBatch(
        t(s, dir, "events"), "user_id", "ts", lit(1800))
      sess.select(
          (length(bin(greatest(
            ((unix_micros(col("session_end")) -
              unix_micros(col("session_start"))) / lit(1000000L))
              .cast("long"), lit(1L)))) - 1).cast("int").as("log2_dur_s"))
        .groupBy("log2_dur_s").agg(count(lit(1)).as("n_sessions"))
        .orderBy("log2_dur_s")
    },
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |lagged AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
        |flagged AS (SELECT user_id, ts,
        |  CASE WHEN prev IS NULL
        |    OR epoch_us(ts) - epoch_us(prev) > 1800 * 1000000::BIGINT THEN 1
        |    ELSE 0 END AS is_new FROM lagged),
        |sess AS (SELECT user_id, ts,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM flagged),
        |agg AS (SELECT user_id, session_id,
        |    min(ts) AS session_start, max(ts) AS session_end
        |  FROM sess GROUP BY user_id, session_id),
        |durs AS (SELECT greatest(
        |    (epoch_us(session_end) - epoch_us(session_start)) // 1000000,
        |    1)::BIGINT AS dur_s FROM agg)
        |SELECT (length(format('{:b}', dur_s)) - 1)::INT AS log2_dur_s,
        |  count(*)::BIGINT AS n_sessions
        |FROM durs GROUP BY 1 ORDER BY log2_dur_s""".stripMargin),

    // Proper-noun density: capitalized-word share of each document's
    // RAW (case-preserving) token stream in ppm — the entity-richness
    // signal that separates encyclopedic prose from boilerplate. One
    // narrow codegen'd projection; the whitespace class is the shared
    // engine-wide constant.
    "text_entity_density" -> Query((s, dir) => {
      val rawToks = filter(
        split(col("text"), s"[${TextOps.wsChars}]+"), x => x =!= "")
      val caps = filter(rawToks, x => x.rlike("^[A-Z][a-z]+$"))
      tc(s, dir, "documents")
        .select(col("doc_id"),
          size(rawToks).cast("long").as("n_tokens"),
          size(caps).cast("long").as("n_caps"))
        .withColumn("caps_ppm",
          expr("(n_caps * 1000000) div greatest(n_tokens, 1)"))
        .orderBy("doc_id")
    },
      {
      val ws = graft.functions.TextOps.wsChars
      s"""WITH tk AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '[$ws]+'), x -> x != '')
         |      AS toks
         |  FROM documents)
         |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |  len(list_filter(toks,
         |    x -> regexp_full_match(x, '[A-Z][a-z]+')))::BIGINT AS n_caps,
         |  ((len(list_filter(toks,
         |      x -> regexp_full_match(x, '[A-Z][a-z]+'))) * 1000000)
         |    // greatest(len(toks), 1))::BIGINT AS caps_ppm
         |FROM tk ORDER BY doc_id""".stripMargin
    }),

    // Dominant principal direction of the embedding corpus by 2
    // fixed-point power sweeps — the anisotropy/whitening diagnostic.
    // Exact-integer throughout (portable trunc division on negatives),
    // so the 64-dim component is engine-identical.
    "embed_pca_power" -> Query((s, dir) =>
      graft.operators.Pca.dominantComponent(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, iterations = 2)
        .orderBy("pos"),
      s"""WITH ${pcaCtesSql(iters = 2)}
         |SELECT pos, w AS w_fp FROM w2 ORDER BY pos""".stripMargin),

    // Every vector's 1-D projection onto the dominant component — the
    // cheap corpus ordering / outlier score PCA buys.
    "embed_pca_project" -> Query((s, dir) =>
      graft.operators.Pca.projectDominant(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, iterations = 2)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      s"""WITH ${pcaCtesSql(iters = 2)},
         |p AS (SELECT u.vec_id, sum(u.u * w2.w)::BIGINT AS raw
         |      FROM u JOIN w2 ON u.pos = w2.pos GROUP BY 1)
         |SELECT vec_id,
         |  ${graft.operators.Pca.tdivSql("raw", "1048576", "//")}::BIGINT
         |    AS proj_fp
         |FROM p ORDER BY vec_id""".stripMargin),

    // Link prediction over the sparse part co-purchase graph: top-50
    // missing edges by common-neighbor count with Jaccard-ppm
    // tie-break — the crawl-frontier / related-item candidate list.
    "graph_link_prediction" -> Query((s, dir) =>
      Graph.linkPrediction(partEdges(s, dir), "src", "dst", k = 50),
      s"""WITH $partEdgesSql,
         |und AS (SELECT u, v FROM e),
         |adj AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT u AS node, count(*)::BIGINT AS deg
         |        FROM adj GROUP BY 1),
         |cn AS (SELECT a1.v AS a, a2.v AS c, count(*)::BIGINT AS common
         |       FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
         |       GROUP BY 1, 2),
         |miss AS (SELECT cn.a, cn.c, cn.common FROM cn
         |  LEFT JOIN und ON cn.a = und.u AND cn.c = und.v
         |  WHERE und.u IS NULL),
         |j AS (SELECT a, c, common,
         |    ((common * 1000000) // (da.deg + dc.deg - common))::BIGINT
         |      AS jaccard_ppm
         |  FROM miss JOIN deg da ON miss.a = da.node
         |  JOIN deg dc ON miss.c = dc.node)
         |SELECT a, c, common, jaccard_ppm FROM j
         |ORDER BY common DESC, jaccard_ppm DESC, a, c LIMIT 50""".stripMargin),

    // Degree assortativity of the sparse part graph: Pearson r of the
    // endpoint degrees over all directed edges, from six exact integer
    // moments (one double expression at the end) — do high-degree
    // nodes link to high-degree nodes (assortative, r>0) or to leaves
    // (disassortative, r<0)?
    "graph_assortativity" -> Query((s, dir) => {
      // partEdges already emits globally-distinct src<dst pairs — a
      // second least/greatest+distinct would re-shuffle the largest
      // intermediate of the query for no semantic change
      val und = partEdges(s, dir)
        .select(col("src").as("u"), col("dst").as("v"))
      val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      val deg = adj.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      val pairs = adj
        .join(deg.select(col("node").as("u"), col("deg").as("x")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("y")), "v")
      // moment sums in DECIMAL(38): Σdeg² over a trillion-edge graph
      // exceeds 2^63 even when every term fits — decimal partials stay
      // exact and overflow visibly (null), never wrap
      def dc(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(dc(col("x"))).as("sx"), sum(dc(col("y"))).as("sy"),
          sum(dc(col("x")) * dc(col("x"))).as("sxx"),
          sum(dc(col("y")) * dc(col("y"))).as("syy"),
          sum(dc(col("x")) * dc(col("y"))).as("sxy"))
        .select(col("n_pairs"),
          // moment PRODUCTS (n·sxy, sx·sy, …) overflow 64-bit integers
          // on large graphs even though each moment fits — every
          // multiplication happens in double, with the identical
          // expression tree in the oracle so the float path matches
          round({
            def d(c: org.apache.spark.sql.Column) = c.cast("double")
            (d(col("n_pairs")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
              sqrt((d(col("n_pairs")) * d(col("sxx")) -
                d(col("sx")) * d(col("sx"))) *
                (d(col("n_pairs")) * d(col("syy")) -
                  d(col("sy")) * d(col("sy"))))
          }, 6).as("assortativity"))
    },
      s"""WITH $partEdgesSql,
         |und AS (SELECT u, v FROM e),
         |adj AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT u AS node, count(*)::BIGINT AS deg
         |        FROM adj GROUP BY 1),
         |p AS (SELECT dx.deg AS x, dy.deg AS y FROM adj
         |      JOIN deg dx ON adj.u = dx.node
         |      JOIN deg dy ON adj.v = dy.node),
         |m AS (SELECT count(*)::BIGINT AS n_pairs, sum(x)::BIGINT AS sx,
         |    sum(y)::BIGINT AS sy, sum(x*x)::BIGINT AS sxx,
         |    sum(y*y)::BIGINT AS syy, sum(x*y)::BIGINT AS sxy
         |  FROM p)
         |SELECT n_pairs,
         |  round((n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
         |    sqrt((n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
         |         (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
         |    6) AS assortativity
         |FROM m""".stripMargin),

    // RFM customer segmentation: recency (days since last order at the
    // snapshot's max date), frequency (orders), monetary (exact cents),
    // each quartiled under a TOTAL order (metric, custkey) —
    // deterministic bucket membership in both engines.
    //
    // Scale shape: the textbook `ntile(4) OVER (ORDER BY …)` is a
    // single-partition window over every customer — billions of rows
    // at corpus scale. Instead the three metrics STACK into
    // (metric id, ascending-oriented value) rows and ONE bucketed rank
    // pass partitioned by metric id (adaptive range buckets per metric
    // from a broadcast min/max aggregate, Ranks.bucketedRowNumberBy)
    // ranks all three — one aggregation + one window shuffle instead
    // of three chained passes — then the quartile is reconstructed
    // EXACTLY from (rank, count) by Ranks.ntileFromRank: identical
    // tile membership, no data-sized single-partition window anywhere.
    "customer_rfm" -> Query((s, dir) => {
      import graft.operators.Ranks
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(unix_micros(col("o_orderdate"))).as("last_us"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("monetary_cents"))
      // ONE broadcast aggregate supplies the snapshot reference AND
      // every per-metric range bound: recency bounds are monotone
      // transforms of the last_us bounds (recency lo = 0 at the
      // newest customer), so no second stats pass over the data.
      val stats = broadcast(perCust.agg(count(lit(1)).as("__n"),
        max(col("last_us")).as("ref_us"), min(col("last_us")).as("min_us"),
        min("n_orders").as("__flo"), max("n_orders").as("__fhi"),
        min("monetary_cents").as("__mlo"),
        max("monetary_cents").as("__mhi")))
      val scored = perCust.crossJoin(stats)
        .select(col("custkey"), col("n_orders"), col("monetary_cents"),
          expr("(ref_us - last_us) div 86400000000").as("recency_days"),
          expr("(ref_us - min_us) div 86400000000").as("__rhi"),
          col("__n"), col("__flo"), col("__fhi"), col("__mlo"),
          col("__mhi"))
      // Stack: m=1 recency asc, m=2 frequency desc, m=3 monetary desc
      // (desc = ascending on the negated value; custkey breaks ties);
      // each row carries its metric's oriented (lo, hi) range bounds.
      val stacked = scored.select(col("custkey"), col("n_orders"),
          col("monetary_cents"), col("recency_days"), col("__n"),
          expr("explode(array(" +
            "struct(1 AS m, recency_days AS v, 0L AS lo, __rhi AS hi), " +
            "struct(2 AS m, -n_orders AS v, -__fhi AS lo, -__flo AS hi), " +
            "struct(3 AS m, -monetary_cents AS v, -__mhi AS lo, " +
            "-__mlo AS hi)))").as("mv"))
        .select(col("custkey"), col("n_orders"), col("monetary_cents"),
          col("recency_days"), col("__n"), col("mv.m").as("m"),
          col("mv.v").as("v"), col("mv.lo").as("__lo"),
          col("mv.hi").as("__hi"))
      val ranked = Ranks.bucketedRowNumberBy(stacked, Seq("m"),
        Ranks.rangeBucket(col("v"), col("__lo"), col("__hi"), 4096),
        Seq(col("v"), col("custkey")), "__rank")
      ranked.groupBy("custkey").agg(
          max("n_orders").as("n_orders"),
          max("monetary_cents").as("monetary_cents"),
          max("recency_days").as("recency_days"),
          max("__n").as("__n"), // = customer count, same for every metric
          max(when(col("m") === 1, col("__rank"))).as("__r_rank"),
          max(when(col("m") === 2, col("__rank"))).as("__f_rank"),
          max(when(col("m") === 3, col("__rank"))).as("__m_rank"))
        .withColumn("r_q",
          Ranks.ntileFromRank(col("__r_rank"), col("__n"), 4))
        .withColumn("f_q",
          Ranks.ntileFromRank(col("__f_rank"), col("__n"), 4))
        .withColumn("m_q",
          Ranks.ntileFromRank(col("__m_rank"), col("__n"), 4))
        .withColumn("rfm",
          (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("int"))
        .select("custkey", "n_orders", "monetary_cents", "recency_days",
          "r_q", "f_q", "m_q", "rfm")
        .orderBy("custkey")
    },
      """WITH pc AS (SELECT o_custkey AS custkey,
        |    max(epoch_us(CAST(o_orderdate AS TIMESTAMP)))::BIGINT
        |      AS last_us,
        |    count(*)::BIGINT AS n_orders,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |ref AS (SELECT max(last_us)::BIGINT AS ref_us FROM pc),
        |sc AS (SELECT custkey, n_orders, monetary_cents,
        |    ((ref_us - last_us) // 86400000000)::BIGINT AS recency_days
        |  FROM pc CROSS JOIN ref),
        |q AS (SELECT custkey, n_orders, monetary_cents, recency_days,
        |    ntile(4) OVER (ORDER BY recency_days, custkey) AS r_q,
        |    ntile(4) OVER (ORDER BY n_orders DESC, custkey) AS f_q,
        |    ntile(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_q
        |  FROM sc)
        |SELECT custkey, n_orders, monetary_cents, recency_days,
        |  r_q::INT AS r_q, f_q::INT AS f_q, m_q::INT AS m_q,
        |  (r_q * 100 + f_q * 10 + m_q)::INT AS rfm
        |FROM q ORDER BY custkey""".stripMargin),

    // Cohort lifetime value: customers grouped by first-order quarter;
    // per (cohort, quarters-since-first) the active-customer count and
    // exact-decimal revenue — the table LTV curves are read from.
    "orders_cohort_ltv" -> Query((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1)
          .cast("long").as("qidx"),
        col("o_totalprice"))
      val first = o.groupBy(col("o_custkey").as("ck"))
        .agg(min(col("qidx")).as("cohort_qidx"))
      o.join(first, o("o_custkey") === first("ck"))
        .groupBy(col("cohort_qidx"),
          (col("qidx") - col("cohort_qidx")).as("quarters_out"))
        .agg(countDistinct(col("o_custkey")).as("n_active"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
        .orderBy("cohort_qidx", "quarters_out")
    },
      """WITH o AS (SELECT o_custkey,
        |    (year(CAST(o_orderdate AS TIMESTAMP)) * 4 +
        |     quarter(CAST(o_orderdate AS TIMESTAMP)) - 1)::BIGINT AS qidx,
        |    o_totalprice
        |  FROM orders),
        |f AS (SELECT o_custkey AS ck, min(qidx)::BIGINT AS cohort_qidx
        |      FROM o GROUP BY 1)
        |SELECT cohort_qidx, (qidx - cohort_qidx)::BIGINT AS quarters_out,
        |  count(DISTINCT o.o_custkey)::BIGINT AS n_active,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue
        |FROM o JOIN f ON o.o_custkey = f.ck
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Greedy k-center coreset of the embedding corpus (k=8): the
    // diversity sample — every pick is the vector farthest from the
    // picked set, in exact fixed-point distances (the full greedy
    // trajectory replays in serial SQL).
    "sample_coreset" -> Query((s, dir) =>
      graft.operators.Coreset.kCenters(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy("rank"),
      // Serial replay of the exact greedy k-center trajectory, 8
      // unrolled pick/update rounds.
      s"""WITH ${coresetCtesSql(k = 8)}
         |SELECT * FROM picks ORDER BY rank""".stripMargin),

    // Modularity of the LPA communities over the sparse part graph —
    // did propagation find real structure (Q≫0) or noise (Q≈0)?
    // Q = Σ_c(4·m·L_c − D_c²) / (4m²): the numerator is one exact
    // integer sum (order-free), the single division happens once in
    // double — so the statistic is engine-identical.
    "graph_modularity" -> Query((s, dir) => {
      // partEdges already emits globally-distinct src<dst pairs — a
      // second least/greatest+distinct would re-shuffle the largest
      // intermediate of the query for no semantic change
      val und = partEdges(s, dir)
        .select(col("src").as("u"), col("dst").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val labels = Graph.labelPropagation(und, "u", "v", rounds = 2)
      val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      val degC = adj
        .join(labels.select(col("node").as("u"), col("label").as("lc")), "u")
        .groupBy("lc").agg(count(lit(1)).as("d_c"))
      val intraC = und
        .join(labels.select(col("node").as("u"), col("label").as("la")), "u")
        .join(labels.select(col("node").as("v"), col("label").as("lb")), "v")
        .where(col("la") === col("lb"))
        .groupBy(col("la").as("lc")).agg(count(lit(1)).as("l_c"))
      val m = broadcast(und.agg(count(lit(1)).as("m")))
      degC.join(intraC, Seq("lc"), "left")
        .select(col("lc"), col("d_c"),
          coalesce(col("l_c"), lit(0L)).as("l_c"))
        .crossJoin(m)
        .agg(count(lit(1)).as("n_communities"), max(col("m")).as("m_edges"),
          sum(lit(4L) * col("m") * col("l_c") - col("d_c") * col("d_c"))
            .as("num"))
        .select(col("n_communities"), col("m_edges"),
          round(col("num").cast("double") /
            (lit(4.0) * col("m_edges").cast("double") *
              col("m_edges").cast("double")), 6).as("modularity"))
    },
      s"""WITH $partEdgesSql,
         |und AS (SELECT u, v FROM e),
         |nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und),
         |adj AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         |adjs AS (SELECT u, v FROM adj
         |         UNION ALL SELECT node, node FROM nodes),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |v1 AS (SELECT adjs.u AS nd, l0.label, count(*)::BIGINT AS cnt
         |       FROM adjs JOIN l0 ON adjs.v = l0.node GROUP BY 1, 2),
         |l1 AS (SELECT nd AS node, label FROM (
         |    SELECT nd, label, row_number() OVER (
         |      PARTITION BY nd ORDER BY cnt DESC, label) AS rn FROM v1) x
         |  WHERE rn = 1),
         |v2 AS (SELECT adjs.u AS nd, l1.label, count(*)::BIGINT AS cnt
         |       FROM adjs JOIN l1 ON adjs.v = l1.node GROUP BY 1, 2),
         |l2 AS (SELECT nd AS node, label FROM (
         |    SELECT nd, label, row_number() OVER (
         |      PARTITION BY nd ORDER BY cnt DESC, label) AS rn FROM v2) x
         |  WHERE rn = 1),
         |mm AS (SELECT count(*)::BIGINT AS m FROM und),
         |dc AS (SELECT l2.label AS lc, count(*)::BIGINT AS d_c
         |       FROM adj JOIN l2 ON adj.u = l2.node GROUP BY 1),
         |ic AS (SELECT la.label AS lc, count(*)::BIGINT AS l_c
         |  FROM und JOIN l2 la ON und.u = la.node
         |  JOIN l2 lb ON und.v = lb.node
         |  WHERE la.label = lb.label GROUP BY 1),
         |rows_ AS (SELECT dc.lc, dc.d_c, coalesce(ic.l_c, 0)::BIGINT AS l_c
         |          FROM dc LEFT JOIN ic USING (lc))
         |SELECT count(*)::BIGINT AS n_communities,
         |  (SELECT m FROM mm) AS m_edges,
         |  round(sum(4 * (SELECT m FROM mm) * l_c - d_c * d_c)::DOUBLE /
         |    (4.0 * (SELECT m FROM mm)::DOUBLE * (SELECT m FROM mm)::DOUBLE),
         |    6) AS modularity
         |FROM rows_""".stripMargin),

    // Winsorized event values: per type, clamp at the rank-selected
    // p05/p95 (value at ceil(q·n) — integer-exact) and report the
    // clipped mean — the robust-mean preprocessing step, sharing the
    // exact-percentile machinery of metrics_latency_pcts. The mean
    // divides through Pca.tdivSql (sign·(|x| div n)) so a NEGATIVE
    // clamped sum — possible with refund-style negative event values —
    // truncates identically in both engines (bare `div` vs `//`
    // disagree on negatives).
    "metrics_winsorize" -> Query((s, dir) => {
      val ranked = rankedEventCents(s, dir)
      val pcts = ranked.groupBy("event_type")
        .agg(max(col("n")).as("n"),
          rankPick(1, 20).as("p05_cents"),
          rankPick(19, 20).as("p95_cents"))
      ranked.select("event_type", "cents")
        .join(broadcast(pcts), Seq("event_type"))
        .select(col("event_type"), col("n"), col("p05_cents"),
          col("p95_cents"),
          greatest(least(col("cents"), col("p95_cents")), col("p05_cents"))
            .as("clamped"))
        .groupBy("event_type", "n", "p05_cents", "p95_cents")
        .agg(expr(graft.operators.Pca.tdivSql("sum(clamped)", "max(n)"))
          .as("wins_mean_cents"))
        .orderBy("event_type")
    },
      s"""WITH ev AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |p AS (SELECT event_type, max(n)::BIGINT AS n,
        |    max(CASE WHEN rn = (n + 19) // 20 THEN cents END)::BIGINT
        |      AS p05_cents,
        |    max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END)::BIGINT
        |      AS p95_cents
        |  FROM r GROUP BY event_type)
        |SELECT ev.event_type, p.n, p.p05_cents, p.p95_cents,
        |  ${graft.operators.Pca.tdivSql(
             "sum(greatest(least(ev.cents, p.p95_cents), p.p05_cents))",
             "max(p.n)", "//")}::BIGINT AS wins_mean_cents
        |FROM ev JOIN p USING (event_type)
        |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin),

    // Two-sample chi-square drift between the even/odd event halves:
    // per event type the observed counts and the type's chi² term
    // against the pooled expectation — the distribution-shift monitor
    // behind "did this week's mix move". Counts are exact integers;
    // only each row's final term is a double (one expression tree,
    // engine-identical).
    "dq_chi_square_drift" -> Query((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        pmod(col("event_id"), lit(2)).as("h"))
      val o = ev.groupBy("event_type")
        .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("o1"),
          sum(when(col("h") === 1, 1L).otherwise(0L)).as("o2"))
      val tot = broadcast(o.agg(sum(col("o1")).as("n1"),
        sum(col("o2")).as("n2")))
      o.crossJoin(tot)
        .select(col("event_type"), col("o1"), col("o2"),
          round({
            val p = (col("o1") + col("o2")).cast("double") /
              (col("n1") + col("n2")).cast("double")
            val e1 = col("n1").cast("double") * p
            val e2 = col("n2").cast("double") * p
            val d1 = col("o1").cast("double") - e1
            val d2 = col("o2").cast("double") - e2
            d1 * d1 / e1 + d2 * d2 / e2
          }, 6).as("chi2_term"))
        .orderBy("event_type")
    },
      """WITH o AS (SELECT event_type,
        |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS o1,
        |    sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS o2
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(o1)::BIGINT AS n1, sum(o2)::BIGINT AS n2 FROM o)
        |SELECT event_type, o1, o2,
        |  round(
        |    (o1::DOUBLE - n1::DOUBLE * ((o1 + o2)::DOUBLE
        |      / (n1 + n2)::DOUBLE))
        |    * (o1::DOUBLE - n1::DOUBLE * ((o1 + o2)::DOUBLE
        |      / (n1 + n2)::DOUBLE))
        |    / (n1::DOUBLE * ((o1 + o2)::DOUBLE / (n1 + n2)::DOUBLE)) +
        |    (o2::DOUBLE - n2::DOUBLE * ((o1 + o2)::DOUBLE
        |      / (n1 + n2)::DOUBLE))
        |    * (o2::DOUBLE - n2::DOUBLE * ((o1 + o2)::DOUBLE
        |      / (n1 + n2)::DOUBLE))
        |    / (n2::DOUBLE * ((o1 + o2)::DOUBLE / (n1 + n2)::DOUBLE)), 6)
        |    AS chi2_term
        |FROM o CROSS JOIN t ORDER BY event_type""".stripMargin),

    // Per-node clustering coefficient over the dense part co-purchase
    // graph (same 1-in-8 subsample as graph_triangles): 2T/(deg·(deg−1))
    // in exact ppm — triangle saturation separates organic link
    // neighborhoods from link-farm cliques, per node rather than the
    // corpus-level triangle count.
    "graph_clustering_coeff" -> Query((s, dir) => {
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
      // triangleCountsWithDeg canonicalizes edges and aggregates
      // degrees ONCE internally — no second edge build out here.
      Graph.triangleCountsWithDeg(edges, "src", "dst")
        .select(col("node"), col("deg"), col("n_triangles"),
          when(col("deg") >= 2,
            expr("(2 * n_triangles * 1000000) div (deg * (deg - 1))"))
            .otherwise(lit(0L)).as("cc_ppm"))
        .orderBy("node")
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
        |SELECT n.node::BIGINT AS node, d.deg,
        |  coalesce(c.n_triangles, 0)::BIGINT AS n_triangles,
        |  (CASE WHEN d.deg >= 2
        |    THEN (2 * coalesce(c.n_triangles, 0) * 1000000)
        |         // (d.deg * (d.deg - 1))
        |    ELSE 0 END)::BIGINT AS cc_ppm
        |FROM nodes n JOIN deg d USING (node)
        |LEFT JOIN cnt c USING (node) ORDER BY node""".stripMargin),

    // ABC (Pareto) part classification by exact-cents revenue:
    // cumulative-share class A ≤80%, B ≤95%, C rest, under a total
    // (cents desc, partkey) order, integer tests only — the
    // inventory-policy / storage-tiering classic.
    //
    // Scale shape: the textbook cumulative window
    // (`sum(cents) OVER (ORDER BY cents DESC, partkey)`) collapses
    // every part into one task — billions of parts at corpus scale.
    // Instead the running sum decomposes over adaptive revenue-range
    // buckets (Ranks.bucketedRunningSum, the Skyline.frontier2d
    // two-level pattern): per-bucket partials prefix-summed over a
    // ≤4k-row frame + a within-bucket window hash-partitioned by
    // bucket. Same cum_cents, no data-sized single-partition window.
    "orders_abc_analysis" -> Query((s, dir) => {
      import graft.operators.Ranks
      val perPart = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long").as("lc"))
        .groupBy("l_partkey").agg(sum(col("lc")).as("cents"))
      val tot = broadcast(perPart.agg(sum(col("cents")).as("total"),
        min(col("cents")).as("__clo"), max(col("cents")).as("__chi")))
      val cum = Ranks.bucketedRunningSum(perPart.crossJoin(tot),
        col("cents"),
        Ranks.rangeBucket(-col("cents"), -col("__chi"), -col("__clo"),
          4096),
        Seq(col("cents").desc, col("l_partkey")), "cum_cents")
      cum
        .select(col("l_partkey"), col("cents"), col("cum_cents"),
          when(col("cum_cents") * 100 <= col("total") * 80, "A")
            .when(col("cum_cents") * 100 <= col("total") * 95, "B")
            .otherwise("C").as("abc_class"))
        .orderBy("l_partkey")
    },
      """WITH pp AS (SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT))::BIGINT AS cents
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(cents)::BIGINT AS total FROM pp),
        |cum AS (SELECT l_partkey, cents,
        |    sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents
        |  FROM pp)
        |SELECT l_partkey, cents, cum_cents,
        |  CASE WHEN cum_cents * 100 <= total * 80 THEN 'A'
        |       WHEN cum_cents * 100 <= total * 95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM cum CROSS JOIN tot ORDER BY l_partkey""".stripMargin),

    // Duplicate-family size histogram: how big do MinHash dedup
    // clusters get (including the singleton mass)? The dedup-budget /
    // dedup-sanity dashboard number — a sudden fat tail means a
    // boilerplate template flooded the crawl.
    "dedup_cluster_stats" -> Query((s, dir) => {
      val clusters = graft.operators.Clusters.dedupClusters(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
      clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },
      s"""WITH RECURSIVE ${ExtensionQueries.fastPairsCte(3, 0.5)},
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS id, least(a, min(b)) AS cluster_id
         |         FROM reach GROUP BY a),
         |lab AS (SELECT d.doc_id,
         |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |sizes AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
         |          FROM lab GROUP BY 1)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters
         |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin),

    // Skip-gram training pairs with deterministic negative sampling —
    // the word2vec/contrastive data-prep step: (center, context)
    // co-occurrence pairs from ±2 token windows, each distinct pair
    // carrying 2 hash-picked negatives from the ranked vocabulary.
    // Window pairs are enumerated locally per document (codegen'd
    // WindowPairs) — never a token-level join or product; negatives
    // index the vocab by md5-derived position, so the "random" draw
    // replays exactly in SQL. Top-100 pairs under a total
    // (count desc, center, context) order bound the output.
    //
    // Scale shape: the alphabetical vocab rank is a BUCKETED global
    // row_number (3-char-prefix buckets — an order-preserving range
    // prefix of the sort key, Ranks.bucketedRowNumber), never a
    // single-partition window over an unbounded vocabulary; and the
    // vocabulary is JOINED, not broadcast — only the 100-row pair side
    // is small (AQE broadcasts that side at runtime on its own).
    "sample_skipgram_negatives" -> Query((s, dir) => {
      import graft.operators.Ranks
      // Ranked vocabulary (alphabetical, 1-based) — the negative pool.
      val vocab = Ranks.bucketedRowNumber(
        tc(s, dir, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("v_tok"))
          .distinct(),
        substring(col("v_tok"), 1, 3), Seq(col("v_tok")), "v_idx")
      val nVocab = broadcast(vocab.agg(count(lit(1)).as("n_vocab")))
      // Window pairs enumerated LOCALLY per document (codegen'd
      // WindowPairs — guide §2.4): every (center, context) pair within
      // ±2 positions comes straight off the document's own token array.
      // The previous shape posexploded the corpus into a MEMORY_AND_DISK
      // cache and self-joined it on (doc_id, pos+off) — two exchanges of
      // the exploded token stream plus a corpus-sized cache to build the
      // pair multiset each row already contains. WindowPairsSpec pins
      // multiset equality to the join form; the counts aggregate
      // map-side before the single pair shuffle.
      val pairs = tc(s, dir, "documents")
        .select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.WindowPairs(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              TextOps.tokens(col("text"))), 2))).as("p"))
        .select(col("p.center").as("center"), col("p.context").as("context"))
        .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("center"), col("context"))
        .limit(100)
      // Deterministic negatives: vocab[h60(center|context|i) mod V] + 1.
      def negIdx(i: Int) = pmod(TextOps.md5Hash60(
        concat_ws("|", col("center"), col("context"), lit(i.toString))),
        col("n_vocab")) + 1
      pairs.crossJoin(nVocab)
        .withColumn("i1", negIdx(1)).withColumn("i2", negIdx(2))
        .join(vocab.select(col("v_idx").as("i1"),
          col("v_tok").as("neg1")), Seq("i1"))
        .join(vocab.select(col("v_idx").as("i2"),
          col("v_tok").as("neg2")), Seq("i2"))
        .select("center", "context", "n_pairs", "neg1", "neg2")
        .orderBy(col("n_pairs").desc, col("center"), col("context"))
    },
      {
      val toks = ExtensionQueries.toksSql
      def neg(i: Int) =
        "(" + ExtensionQueries.md5Hash60Sql(
          s"center || '|' || context || '|' || '$i'") + " % n_vocab) + 1"
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS tok,
         |    (generate_subscripts($toks, 1) - 1)::BIGINT AS pos
         |  FROM documents),
         |vocab AS (SELECT tok AS v_tok, row_number() OVER (ORDER BY tok)
         |    AS v_idx
         |  FROM (SELECT DISTINCT tok FROM tk) d),
         |nv AS (SELECT count(*)::BIGINT AS n_vocab FROM vocab),
         |pr AS (SELECT a.tok AS center, b.tok AS context,
         |    count(*)::BIGINT AS n_pairs
         |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id
         |    AND a.pos != b.pos AND abs(a.pos - b.pos) <= 2
         |  GROUP BY 1, 2
         |  ORDER BY n_pairs DESC, center, context LIMIT 100),
         |ni AS (SELECT center, context, n_pairs,
         |    ${neg(1)} AS i1, ${neg(2)} AS i2
         |  FROM pr CROSS JOIN nv)
         |SELECT center, context, n_pairs, v1.v_tok AS neg1,
         |  v2.v_tok AS neg2
         |FROM ni JOIN vocab v1 ON ni.i1 = v1.v_idx
         |JOIN vocab v2 ON ni.i2 = v2.v_idx
         |ORDER BY n_pairs DESC, center, context""".stripMargin
    }),

    // Per-user daily quota audit: events beyond the first 5 of each
    // (user, day) under the total (ts, event_id) arrival order — the
    // rate-limit / abuse-throttle accounting view. Streaming-natively
    // this is one counter per (user, day) with a day's TTL (the
    // gap-alert state shape); batch is a single windowed rank.
    "user_daily_quota" -> Query((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        to_date(col("ts")).as("day"), col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("rn") > 5, 1L).otherwise(0L)).as("n_over_quota"))
        .where(col("n_over_quota") > 0)
        .orderBy("user_id", "day")
    },
      """WITH ev AS (SELECT user_id,
        |    CAST(ts AS TIMESTAMP)::DATE AS day,
        |    CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |r AS (SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY ts, event_id) AS rn
        |  FROM ev)
        |SELECT user_id, day, count(*)::BIGINT AS n_events,
        |  sum(CASE WHEN rn > 5 THEN 1 ELSE 0 END)::BIGINT AS n_over_quota
        |FROM r GROUP BY 1, 2
        |HAVING sum(CASE WHEN rn > 5 THEN 1 ELSE 0 END) > 0
        |ORDER BY user_id, day""".stripMargin),

    // Open-order backlog aging: orders still 'O' bucketed by 30-day
    // age bands against the snapshot's max order date — the AR-aging /
    // fulfillment-debt report. Age arithmetic in exact epoch micros;
    // one scan + one broadcast reference date.
    "orders_backlog_aging" -> Query((s, dir) => {
      val o = t(s, dir, "orders")
      val ref = broadcast(o.agg(max(unix_micros(col("o_orderdate")))
        .as("ref_us")))
      o.where(col("o_orderstatus") === "O")
        .crossJoin(ref)
        .select(expr(
          "((ref_us - unix_micros(o_orderdate)) div 86400000000) div 30")
          .as("age_bucket_30d"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("age_bucket_30d")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("open_cents"))
        .orderBy("age_bucket_30d")
    },
      """WITH ref AS (SELECT max(epoch_us(CAST(o_orderdate AS TIMESTAMP)))
        |    ::BIGINT AS ref_us FROM orders)
        |SELECT ((ref_us - epoch_us(CAST(o_orderdate AS TIMESTAMP)))
        |    // 86400000000 // 30)::BIGINT AS age_bucket_30d,
        |  count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |    AS open_cents
        |FROM orders CROSS JOIN ref
        |WHERE o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY age_bucket_30d""".stripMargin),

    // Supplier revenue concentration (Herfindahl index, ppm): Σ share²
    // over suppliers — the single-source-risk diagnostic. Per-supplier
    // cents are exact integers; squares overflow 64-bit, so Σcᵢ² runs
    // in exact DECIMAL(38) (order-free) and ONE final double division
    // produces the index — identical expression tree in the oracle.
    "supplier_concentration_hhi" -> Query((s, dir) => {
      val perSupp = t(s, dir, "lineitem")
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long").as("lc"))
        .groupBy("l_suppkey").agg(sum(col("lc")).as("cents"))
      val c = col("cents").cast("decimal(19,0)")
      perSupp
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("cents")).as("total_cents"),
          sum(c * c).as("__sumsq"))
        .select(col("n_suppliers"), col("total_cents"),
          round(col("__sumsq").cast("double") /
            (col("total_cents").cast("double") *
              col("total_cents").cast("double")) * 1000000, 2).as("hhi_ppm"))
    },
      """WITH ps AS (SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT))::BIGINT AS cents
        |  FROM lineitem GROUP BY 1),
        |a AS (SELECT count(*)::BIGINT AS n_suppliers,
        |    sum(cents)::BIGINT AS total_cents,
        |    sum(cents::HUGEINT * cents::HUGEINT) AS sumsq
        |  FROM ps)
        |SELECT n_suppliers, total_cents,
        |  round(sumsq::DOUBLE /
        |    (total_cents::DOUBLE * total_cents::DOUBLE) * 1000000, 2)
        |    AS hhi_ppm
        |FROM a""".stripMargin),

    // Zipf power-law fit of the token frequency-of-frequencies: least-
    // squares slope over (log2 count, log2 #tokens-with-count) integer
    // bins — exact moments, one double ratio (metrics_trend's
    // contract). Healthy natural text slopes near −1; generated or
    // deduplicated-to-death corpora flatten.
    "text_zipf_slope" -> Query((s, dir) => {
      val counts = tc(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val bins = counts
        .select((length(bin(col("c"))) - 1).cast("long").as("x"))
        .groupBy("x").agg(count(lit(1)).as("nt"))
        .select(col("x"), (length(bin(col("nt"))) - 1).cast("long").as("y"))
      bins.agg(count(lit(1)).as("n_bins"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n_bins"),
          when(col("n_bins") * col("sxx") - col("sx") * col("sx") === 0,
            lit(null).cast("double"))
            .otherwise(round(
              (col("n_bins") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
                (col("n_bins") * col("sxx") - col("sx") * col("sx")),
              8)).as("zipf_slope"))
    },
      {
      val toks = ExtensionQueries.toksSql
      s"""WITH tk AS (SELECT unnest($toks) AS tok FROM documents),
         |c AS (SELECT tok, count(*)::BIGINT AS c FROM tk GROUP BY 1),
         |b AS (SELECT (length(format('{:b}', c)) - 1)::BIGINT AS x,
         |    count(*)::BIGINT AS nt
         |  FROM c GROUP BY 1),
         |xy AS (SELECT x, (length(format('{:b}', nt)) - 1)::BIGINT AS y
         |       FROM b),
         |a AS (SELECT count(*)::BIGINT AS n_bins, sum(x*y)::BIGINT AS sxy,
         |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         |    sum(x*x)::BIGINT AS sxx
         |  FROM xy)
         |SELECT n_bins,
         |  CASE WHEN n_bins * sxx - sx * sx = 0 THEN NULL
         |       ELSE round((n_bins * sxy - sx * sy)::DOUBLE
         |                  / (n_bins * sxx - sx * sx), 8) END
         |    AS zipf_slope
         |FROM a""".stripMargin
    }))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries
  lazy val oracleSql: Map[String, String] = registry.oracleSql

  /** DuckDB replay of [[graft.operators.Coreset.kCenters]] on the
    * embeddings table: `u` (2²⁰ fixed-point component lists), then per
    * round a pick CTE (`p$i` — argmax of min-distance, ties to lowest
    * id) and a distance-update CTE (`m$i`), ending in `picks`.
    */
  private def coresetCtesSql(k: Int): String = {
    val d2 = (row: String, c: String) =>
      s"list_sum(list_transform(range(1, 65), " +
        s"i -> ($row.u[i] - $c.u[i]) * ($row.u[i] - $c.u[i])))::BIGINT"
    val rounds = (2 to k).map { i =>
      val prevM = if (i == 2) "m1" else s"m${i - 1}"
      s"""p$i AS (SELECT id, u, mind FROM $prevM
         |        ORDER BY mind DESC, id LIMIT 1),
         |m$i AS (SELECT m.id, m.u,
         |    least(m.mind, ${d2("m", "p")}) AS mind
         |  FROM $prevM m CROSS JOIN p$i p)""".stripMargin
    }.mkString(",\n")
    // Mirror kCenters' exhaustion short-circuit: a radius-0 pick means
    // every point already coincides with a center, and the max
    // min-distance is non-increasing across rounds — so filtering
    // radius_sq > 0 drops exactly the re-picks the Spark side stops
    // before making, keeping parity on degenerate (< k distinct
    // vectors) corpora.
    val picks = (2 to k)
      .map(i => s"SELECT $i AS rank, id, mind AS radius_sq FROM p$i WHERE mind > 0")
      .mkString("\n  UNION ALL ")
    s"""u AS (SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS u
       |  FROM embeddings),
       |p1 AS (SELECT id, u FROM u ORDER BY id LIMIT 1),
       |m1 AS (SELECT uu.id, uu.u, ${d2("uu", "p")} AS mind
       |       FROM u uu CROSS JOIN p1 p),
       |$rounds,
       |picks AS (SELECT 1 AS rank, id, 0::BIGINT AS radius_sq FROM p1
       |  UNION ALL $picks)""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Pca.dominantComponent]] on the
    * embeddings table: CTE-body fragment defining `u` (2²⁰ fixed-point
    * components), `w0` (all-ones start) and `d$i`/`c$i`/`s$i`/`m$i`/
    * `w$i` per unrolled power sweep — final component in `w$iters`.
    */
  private def pcaCtesSql(iters: Int): String = {
    val tdiv = (x: String, k: String) =>
      graft.operators.Pca.tdivSql(x, k, "//")
    val sweeps = (1 to iters).map { i =>
      val pw = if (i == 1) "w0" else s"w${i - 1}"
      s"""d$i AS (SELECT u.vec_id, sum(u.u * $pw.w)::BIGINT AS raw
         |       FROM u JOIN $pw USING (pos) GROUP BY 1),
         |c$i AS (SELECT vec_id, ${tdiv("raw", "67108864")}::BIGINT AS c
         |        FROM d$i),
         |s$i AS (SELECT u.pos, sum(u.u * c$i.c)::BIGINT AS s
         |        FROM u JOIN c$i USING (vec_id) GROUP BY 1),
         |m$i AS (SELECT greatest(max(abs(s)) // 1048576, 1)::BIGINT AS mxs
         |        FROM s$i),
         |w$i AS (SELECT pos, ${tdiv("s", "mxs")}::BIGINT AS w
         |        FROM s$i CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    s"""u AS (SELECT vec_id, i - 1 AS pos,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
       |      AS u
       |  FROM embeddings, range(1, 65) r(i)),
       |w0 AS (SELECT i - 1 AS pos, 1048576::BIGINT AS w
       |       FROM range(1, 65) r(i)),
       |$sweeps""".stripMargin
  }
}
