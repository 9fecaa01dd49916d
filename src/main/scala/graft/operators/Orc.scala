package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

/** From-scratch Apache ORC reader — for ORC FILES AS BLOBS: members
  * of shards, bytes in a binary column, warehouse dumps pulled from
  * an object store — everywhere Spark's native scan cannot reach
  * because the file never touches a filesystem path. Completes the
  * data-lake trio next to [[Parquet]] and [[ArrowIpc]].
  *
  * Implements the documented ORCv1 format (orc.apache.org
  * /specification/ORCv1 + orc_proto.proto): the tail postscript
  * (last byte = its length) through a from-scratch protobuf
  * wire-format walker (varint / fixed64 / length-delimited /
  * fixed32, packed repeated fields), the compressed footer (type
  * tree, stripe directory), per-stripe stream segmentation
  * (index + data streams laid out in list order), and the ORC
  * compression framing (3-byte little-endian chunk headers, low bit
  * = stored-as-original). Codecs: NONE / ZLIB (raw deflate through
  * [[Capped.inflate]]) / SNAPPY ([[Snappy]] over snappy-java) / LZ4 (the
  * [[Lz4]] raw-block adapter over lz4-java) / ZSTD (the [[Zstd]]
  * adapter over zstd-jni).
  *
  * Run-length encodings, all of them: byte RLE, boolean (bit) RLE,
  * integer RLE v1 (run/literal with delta), and integer RLE v2 in
  * its four sub-encodings — SHORT_REPEAT, DIRECT, PATCHED_BASE
  * (sign-magnitude base, 255-gap patch chaining), DELTA (fixed and
  * variable) — with the 5-bit closed-width table and MSB-first bit
  * packing. Column types: boolean, tinyint (byte RLE), smallint/
  * int/bigint, float/double (IEEE LE), string/varchar/char in both
  * DIRECT_V2 and DICTIONARY_V2 encodings, binary, date (epoch
  * days), decimal (unbounded zigzag varint mantissa + scale
  * stream), timestamp (base 2015-01-01 seconds + nano stream with
  * the trailing-zero-count encoding, the negative-nanos borrow
  * honored), and nested struct/list/map assembled recursively
  * through PRESENT bit streams at every level — unions included
  * (tag stream + per-variant children). ACID table layouts are the
  * named profile gap, distinct from damage.
  *
  * Value model mirrors [[Parquet]]: ints widen to Long, floats to
  * Double, char/varchar to String, date to epoch-day Long,
  * timestamp to epoch MICROS Long, decimal to java.math.BigDecimal,
  * struct to [[Orc.OStruct]], list to Vector, map to Vector of
  * key/value pairs.
  *
  * Pinned against the INDEPENDENT orc-core implementation on the
  * Spark classpath (real Writer output across codecs, encodings,
  * multi-stripe layouts, nulls at every level — must decode
  * value-exactly) and driven by an oracle query whose corpus is
  * written by orc-core on the executors. Degrade-don't-throw; bomb
  * caps: 1<<26-byte streams, 1<<22 rows, 4096 columns, depth 64.
  */
object Orc {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  /** One assembled struct value. */
  final case class OStruct(fields: Vector[(String, Any)]) {
    def get(name: String): Any =
      fields.find(_._1 == name).map(_._2).orNull
  }

  /** One assembled union value: the active variant's tag + value. */
  final case class OUnion(tag: Int, value: Any)

  final case class OrcTable(fieldNames: Array[String],
      fieldTypes: Array[String], rows: Array[Array[Any]])

  // ---- protobuf wire format ----------------------------------------------

  /** Positioned protobuf reader: callers loop [[next]] until -1 and
    * switch on (field number, wire type).
    */
  private final class PIn(val b: Array[Byte], var p: Int, val end: Int) {
    def hasMore: Boolean = p < end
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var go = true
      while (go) {
        if (p >= end || shift > 63) fail("pb varint")
        val x = b(p) & 0xFF
        p += 1
        v |= (x & 0x7FL) << shift
        shift += 7
        go = (x & 0x80) != 0
      }
      v
    }
    /** (field, wire) or null at end. */
    def next(): (Int, Int) = {
      if (p >= end) return null
      val tag = varint()
      val f = (tag >>> 3).toInt
      val w = (tag & 7).toInt
      if (f <= 0) fail("pb field")
      (f, w)
    }
    def bytes(): (Int, Int) = { // (offset, length) of a LEN field
      val n = varint()
      if (n < 0 || p + n > end) fail("pb len")
      val off = p
      p += n.toInt
      (off, n.toInt)
    }
    def str(): String = {
      val (off, n) = bytes()
      new String(b, off, n, UTF_8)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => if (p + 8 > end) fail("pb f64") else p += 8
      case 2 => bytes()
      case 5 => if (p + 4 > end) fail("pb f32") else p += 4
      case _ => fail("pb wire")
    }
    /** Packed or single repeated varint field. */
    def packedVarints(wire: Int, into: scala.collection.mutable.ArrayBuffer[Long]): Unit =
      if (wire == 0) into += varint()
      else {
        val (off, n) = bytes()
        val sub = new PIn(b, off, off + n)
        while (sub.hasMore) into += sub.varint()
      }
  }

  // ---- file metadata models ----------------------------------------------

  private final case class OType(kind: Int, subtypes: Array[Int],
      fieldNames: Array[String], scale: Int)
  private final case class StripeInfo(offset: Long, indexLength: Long,
      dataLength: Long, footerLength: Long, numRows: Long)
  private final case class StreamInfo(kind: Int, column: Int, length: Long)
  private final case class ColEnc(kind: Int, dictSize: Int)

  private def parseType(t: PIn): OType = {
    var kind = -1
    var scale = 0
    val subs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var f = t.next()
    while (f != null) {
      f match {
        case (1, w) => kind = t.varint().toInt; if (w != 0) fail("type kind")
        case (2, w) => t.packedVarints(w, subs)
        case (3, 2) => names += t.str()
        case (6, 0) => scale = t.varint().toInt
        case (_, w) => t.skip(w)
      }
      f = t.next()
    }
    if (kind < 0) fail("type")
    OType(kind, subs.map(_.toInt).toArray, names.toArray, scale)
  }

  private def parseStripeInfo(t: PIn): StripeInfo = {
    var off = -1L; var il = 0L; var dl = 0L; var fl = 0L; var nr = -1L
    var f = t.next()
    while (f != null) {
      f match {
        case (1, 0) => off = t.varint()
        case (2, 0) => il = t.varint()
        case (3, 0) => dl = t.varint()
        case (4, 0) => fl = t.varint()
        case (5, 0) => nr = t.varint()
        case (_, w) => t.skip(w)
      }
      f = t.next()
    }
    if (off < 0 || nr < 0) fail("stripe info")
    StripeInfo(off, il, dl, fl, nr)
  }

  private final case class Footer(types: Array[OType],
      stripes: Array[StripeInfo], numRows: Long)

  private def parseFooter(b: Array[Byte]): Footer = {
    val t = new PIn(b, 0, b.length)
    val types = scala.collection.mutable.ArrayBuffer.empty[OType]
    val stripes = scala.collection.mutable.ArrayBuffer.empty[StripeInfo]
    var numRows = -1L
    var f = t.next()
    while (f != null) {
      f match {
        case (3, 2) =>
          val (off, n) = t.bytes()
          stripes += parseStripeInfo(new PIn(b, off, off + n))
        case (4, 2) =>
          if (types.length > 4096) fail("type bomb")
          val (off, n) = t.bytes()
          types += parseType(new PIn(b, off, off + n))
        case (6, 0) => numRows = t.varint()
        case (_, w) => t.skip(w)
      }
      f = t.next()
    }
    if (types.isEmpty || numRows < 0) fail("footer")
    Footer(types.toArray, stripes.toArray, numRows)
  }

  private def parseStripeFooter(b: Array[Byte]): (Array[StreamInfo], Array[ColEnc]) = {
    val t = new PIn(b, 0, b.length)
    val streams = scala.collection.mutable.ArrayBuffer.empty[StreamInfo]
    val encs = scala.collection.mutable.ArrayBuffer.empty[ColEnc]
    var f = t.next()
    while (f != null) {
      f match {
        case (1, 2) =>
          val (off, n) = t.bytes()
          val s = new PIn(b, off, off + n)
          var kind = -1; var col = -1; var len = 0L
          var g = s.next()
          while (g != null) {
            g match {
              case (1, 0) => kind = s.varint().toInt
              case (2, 0) => col = s.varint().toInt
              case (3, 0) => len = s.varint()
              case (_, w) => s.skip(w)
            }
            g = s.next()
          }
          streams += StreamInfo(kind, col, len)
        case (2, 2) =>
          val (off, n) = t.bytes()
          val s = new PIn(b, off, off + n)
          var kind = 0; var ds = 0
          var g = s.next()
          while (g != null) {
            g match {
              case (1, 0) => kind = s.varint().toInt
              case (2, 0) => ds = s.varint().toInt
              case (_, w) => s.skip(w)
            }
            g = s.next()
          }
          encs += ColEnc(kind, ds)
        case (_, w) => t.skip(w)
      }
      f = t.next()
    }
    (streams.toArray, encs.toArray)
  }

  // ---- compression framing -----------------------------------------------

  private val StreamCap = 1 << 26

  /** Decompress one ORC stream region: a sequence of 3-byte-header
    * chunks (`(len << 1) | isOriginal`, little-endian) for compressed
    * files, or the raw bytes for NONE.
    */
  private def decodeStream(b: Array[Byte], off: Long, len: Long,
      codec: Int): Array[Byte] = {
    if (off < 0 || len < 0 || off + len > b.length) fail("stream bounds")
    if (len > StreamCap) fail("stream bomb")
    if (codec == 0)
      return java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
    val out = new java.io.ByteArrayOutputStream(math.min(len.toInt * 2, 1 << 16))
    var p = off.toInt
    val end = (off + len).toInt
    while (p < end) {
      if (p + 3 > end) fail("chunk header")
      val h = (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) | ((b(p + 2) & 0xFF) << 16)
      p += 3
      val clen = h >>> 1
      val original = (h & 1) == 1
      if (clen < 0 || p + clen > end) fail("chunk bounds")
      if (original) out.write(b, p, clen)
      else {
        val dec = codec match {
          case 1 => // ZLIB = raw deflate
            val r = Capped.inflate(b, p, clen, StreamCap, clen * 4L, raw = true)
            if (r == null) fail("deflate") else r.bytes
          case 2 =>
            val r = Snappy.decode(java.util.Arrays.copyOfRange(b, p, p + clen))
            if (r == null) fail("snappy") else r
          case 4 =>
            // LZ4: chunk holds one raw block; output size unknown ⇒
            // grow-and-retry within the cap
            var want = math.max(clen * 4, 1 << 12)
            var r: Array[Byte] = null
            var stop = false
            while (r == null && !stop) {
              r = Lz4.decodeRawBlockUnsized(
                java.util.Arrays.copyOfRange(b, p, p + clen), want)
              if (r == null) {
                if (want >= StreamCap) stop = true else
                  want = math.min(want * 4, StreamCap)
              }
            }
            if (r == null) fail("lz4") else r
          case 5 =>
            val r = Zstd.decode(java.util.Arrays.copyOfRange(b, p, p + clen),
              StreamCap.toLong)
            if (r == null) fail("zstd") else r
          case 3 => fail("codec profile") // LZO
          case 6 => fail("codec profile") // BROTLI
          case _ => fail("codec")
        }
        out.write(dec, 0, dec.length)
      }
      p += clen
      if (out.size > StreamCap) fail("stream bomb")
    }
    out.toByteArray
  }

  // ---- run-length decoders -----------------------------------------------

  /** Positioned byte cursor over a decompressed stream. */
  private final class BIn(val b: Array[Byte]) {
    var p = 0
    def u8(): Int = {
      if (p >= b.length) fail("rle eof")
      val v = b(p) & 0xFF
      p += 1
      v
    }
    def varUnsigned(): Long = {
      var v = 0L
      var shift = 0
      var go = true
      while (go) {
        if (shift > 63) fail("varint")
        val x = u8()
        v |= (x & 0x7FL) << shift
        shift += 7
        go = (x & 0x80) != 0
      }
      v
    }
    def varSigned(): Long = {
      val v = varUnsigned()
      (v >>> 1) ^ -(v & 1)
    }
  }

  /** Byte RLE (tinyint + the carrier for boolean RLE): control
    * 0..127 → run of control+3 copies; 129..256 → 256-control
    * literals.
    */
  private def byteRle(in: BIn, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val c = in.u8()
      if (c < 128) {
        val run = c + 3
        if (got + run > n) fail("byte rle run")
        val v = in.u8().toByte
        java.util.Arrays.fill(out, got, got + run, v)
        got += run
      } else {
        val lit = 256 - c
        if (got + lit > n) fail("byte rle lit")
        var i = 0
        while (i < lit) { out(got + i) = in.u8().toByte; i += 1 }
        got += lit
      }
    }
    out
  }

  /** Boolean RLE: byte RLE over bit-packed bytes, MSB first. The
    * carrier rounds up to whole bytes, so decode ceil(n/8) bytes.
    */
  private def boolRle(raw: Array[Byte], n: Int): Array[Boolean] = {
    val nBytes = (n + 7) / 8
    val bytes = byteRle(new BIn(raw), nBytes)
    Array.tabulate(n)(i => ((bytes(i >> 3) >> (7 - (i & 7))) & 1) == 1)
  }

  /** Integer RLE v1: run (0..127 → 3..130 values with a signed-byte
    * delta) or literals (negative control).
    */
  private def intRleV1(in: BIn, n: Int, signed: Boolean): Array[Long] = {
    val out = new Array[Long](n)
    var got = 0
    while (got < n) {
      val c = in.u8()
      if (c < 128) {
        val run = c + 3
        if (got + run > n) fail("rle1 run")
        val delta = in.u8().toByte.toLong
        var v = if (signed) in.varSigned() else in.varUnsigned()
        var i = 0
        while (i < run) { out(got + i) = v; v += delta; i += 1 }
        got += run
      } else {
        val lit = 256 - c
        if (got + lit > n) fail("rle1 lit")
        var i = 0
        while (i < lit) {
          out(got + i) = if (signed) in.varSigned() else in.varUnsigned()
          i += 1
        }
        got += lit
      }
    }
    out
  }

  /** Round a bit count UP to the closed-width table (the writer's
    * getClosestFixedBits).
    */
  private def closestWidth(bits: Int): Int =
    if (bits <= 1) 1
    else if (bits <= 24) bits
    else if (bits <= 26) 26
    else if (bits <= 28) 28
    else if (bits <= 30) 30
    else if (bits <= 32) 32
    else if (bits <= 40) 40
    else if (bits <= 48) 48
    else if (bits <= 56) 56
    else 64

  /** The RLEv2 5-bit closed-width table (FixedBitSizes). */
  private def decodeWidth(enc: Int): Int =
    if (enc < 24) enc + 1
    else enc match {
      case 24 => 26
      case 25 => 28
      case 26 => 30
      case 27 => 32
      case 28 => 40
      case 29 => 48
      case 30 => 56
      case _  => 64
    }

  /** MSB-first bit unpacking of `count` values at `width` bits. */
  private def readBits(in: BIn, count: Int, width: Int): Array[Long] = {
    val out = new Array[Long](count)
    if (width == 0) return out
    var acc = 0L
    var bits = 0
    var i = 0
    while (i < count) {
      while (bits < width) {
        acc = (acc << 8) | in.u8()
        bits += 8
      }
      out(i) = (acc >>> (bits - width)) & (if (width == 64) -1L
        else (1L << width) - 1)
      bits -= width
      i += 1
    }
    out
  }

  private def zigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** Integer RLE v2: SHORT_REPEAT / DIRECT / PATCHED_BASE / DELTA. */
  private def intRleV2(in: BIn, n: Int, signed: Boolean): Array[Long] = {
    val out = new Array[Long](n)
    var got = 0
    while (got < n) {
      val h = in.u8()
      (h >>> 6) match {
        case 0 => // SHORT_REPEAT: width bits 5-3 (bytes-1), count bits 2-0 (+3)
          val w = ((h >>> 3) & 7) + 1
          val run = (h & 7) + 3
          if (got + run > n) fail("rle2 repeat")
          var v = 0L
          var k = 0
          while (k < w) { v = (v << 8) | in.u8(); k += 1 }
          val value = if (signed) zigzag(v) else v
          java.util.Arrays.fill(out, got, got + run, value)
          got += run
        case 1 => // DIRECT
          val w = decodeWidth((h >>> 1) & 0x1F)
          val len = (((h & 1) << 8) | in.u8()) + 1
          if (got + len > n) fail("rle2 direct")
          val vals = readBits(in, len, w)
          var i = 0
          while (i < len) {
            out(got + i) = if (signed) zigzag(vals(i)) else vals(i)
            i += 1
          }
          got += len
        case 2 => // PATCHED_BASE
          val w = decodeWidth((h >>> 1) & 0x1F)
          val len = (((h & 1) << 8) | in.u8()) + 1
          if (got + len > n) fail("rle2 patched")
          val third = in.u8()
          val bw = ((third >>> 5) & 7) + 1 // base width, bytes
          val pw = decodeWidth(third & 0x1F) // patch width
          val fourth = in.u8()
          val pgw = ((fourth >>> 5) & 7) + 1 // patch gap width
          val pll = fourth & 0x1F // patch list length
          // base: sign-magnitude, MSB of the bw-byte value
          var base = 0L
          var k = 0
          while (k < bw) { base = (base << 8) | in.u8(); k += 1 }
          val signBit = 1L << (bw * 8 - 1)
          if ((base & signBit) != 0) base = -(base & (signBit - 1))
          val vals = readBits(in, len, w)
          // patch list: (gap, patch) pairs packed at the CLOSEST
          // fixed width of pgw+pw (the writer's rule); gap 255 with
          // patch 0 chains longer gaps
          if (pgw + pw > 64) fail("rle2 patch width")
          val patchBits = closestWidth(pgw + pw)
          val patches = readBits(in, pll, patchBits)
          var pi = 0
          var patchIdx = 0L
          while (pi < pll) {
            val gap = patches(pi) >>> pw
            val patch = patches(pi) & (if (pw == 64) -1L else (1L << pw) - 1)
            patchIdx += gap
            if (patch != 0) {
              if (patchIdx >= len) fail("rle2 patch idx")
              vals(patchIdx.toInt) |= patch << w
            }
            pi += 1
          }
          var i = 0
          while (i < len) { out(got + i) = base + vals(i); i += 1 }
          got += len
        case _ => // DELTA
          val wEnc = (h >>> 1) & 0x1F
          val w = if (wEnc == 0) 0 else decodeWidth(wEnc)
          val len = (((h & 1) << 8) | in.u8()) + 1
          if (got + len > n) fail("rle2 delta")
          val base = if (signed) in.varSigned() else in.varUnsigned().toLong
          val deltaBase = in.varSigned()
          out(got) = base
          if (len > 1) {
            out(got + 1) = base + deltaBase
            if (w == 0) {
              var i = 2
              while (i < len) {
                out(got + i) = out(got + i - 1) + deltaBase
                i += 1
              }
            } else {
              val deltas = readBits(in, len - 2, w)
              val sign = if (deltaBase < 0) -1L else 1L
              var i = 2
              while (i < len) {
                out(got + i) = out(got + i - 1) + sign * deltas(i - 2)
                i += 1
              }
            }
          }
          got += len
      }
    }
    out
  }

  // ---- column readers -----------------------------------------------------

  private final class Stripe(val b: Array[Byte], val codec: Int,
      val streams: Array[StreamInfo], val offsets: Array[Long],
      val encs: Array[ColEnc]) {
    def find(col: Int, kind: Int): Int = {
      var i = 0
      while (i < streams.length) {
        if (streams(i).column == col && streams(i).kind == kind) return i
        i += 1
      }
      -1
    }
    def stream(col: Int, kind: Int): Array[Byte] = {
      val i = find(col, kind)
      if (i < 0) null
      else decodeStream(b, offsets(i), streams(i).length, codec)
    }
  }

  private val TimestampBase = 1420070400L // 2015-01-01T00:00:00Z, seconds

  /** Decode `count` slots of column `col` in this stripe. */
  private def readColumn(st: Stripe, types: Array[OType], col: Int,
      count: Int, depth: Int): Array[Any] = {
    if (depth > 64) fail("depth bomb")
    if (col >= types.length) fail("column id")
    val tpe = types(col)
    val enc = if (col < st.encs.length) st.encs(col) else ColEnc(0, 0)
    val v2 = enc.kind == 2 || enc.kind == 3
    val presentRaw = st.stream(col, 0)
    val present: Array[Boolean] =
      if (presentRaw == null) null else boolRle(presentRaw, count)
    val m = if (present == null) count else present.count(identity)
    def ints(kind: Int, signed: Boolean, n: Int): Array[Long] = {
      val raw = st.stream(col, kind)
      if (raw == null) { if (n == 0) return new Array[Long](0); fail("stream missing") }
      val in = new BIn(raw)
      if (v2) intRleV2(in, n, signed) else intRleV1(in, n, signed)
    }
    val values: Array[Any] = tpe.kind match {
      // ORC suppresses zero-length streams: an all-null column in a
      // stripe may carry NO value streams at all — every scalar
      // branch must accept m == 0 with absent streams
      case 0 => // BOOLEAN
        val raw = st.stream(col, 1)
        if (raw == null) { if (m > 0) fail("stream missing"); new Array[Any](0) }
        else boolRle(raw, m).map(v => (v: Any))
      case 1 => // BYTE
        val raw = st.stream(col, 1)
        if (raw == null) { if (m > 0) fail("stream missing"); new Array[Any](0) }
        else byteRle(new BIn(raw), m).map(v => (v.toLong: Any))
      case 2 | 3 | 4 => // SHORT / INT / LONG
        ints(1, signed = true, m).map(v => (v: Any))
      case 5 => // FLOAT: IEEE 754 LE
        val raw = st.stream(col, 1)
        if (m > 0 && (raw == null || raw.length < 4L * m)) fail("float stream")
        Array.tabulate[Any](m) { i =>
          val o = 4 * i
          java.lang.Float.intBitsToFloat(
            (raw(o) & 0xFF) | ((raw(o + 1) & 0xFF) << 8) |
              ((raw(o + 2) & 0xFF) << 16) | ((raw(o + 3) & 0xFF) << 24))
            .toDouble
        }
      case 6 => // DOUBLE
        val raw = st.stream(col, 1)
        if (m > 0 && (raw == null || raw.length < 8L * m)) fail("double stream")
        Array.tabulate[Any](m) { i =>
          var v = 0L
          var k = 7
          while (k >= 0) { v = (v << 8) | (raw(8 * i + k) & 0xFFL); k -= 1 }
          java.lang.Double.longBitsToDouble(v)
        }
      case 7 | 16 | 17 => // STRING / VARCHAR / CHAR
        if (enc.kind == 1 || enc.kind == 3) { // DICTIONARY
          val dictData = st.stream(col, 3)
          val lens = {
            val raw = st.stream(col, 2)
            if (raw == null) fail("dict lengths")
            val in = new BIn(raw)
            if (v2) intRleV2(in, enc.dictSize, signed = false)
            else intRleV1(in, enc.dictSize, signed = false)
          }
          val dict = new Array[String](enc.dictSize)
          var off = 0
          var i = 0
          while (i < enc.dictSize) {
            val l = lens(i).toInt
            if (l < 0 || dictData == null || off + l > dictData.length)
              fail("dict bounds")
            dict(i) = new String(dictData, off, l, UTF_8)
            off += l
            i += 1
          }
          ints(1, signed = false, m).map { id =>
            if (id < 0 || id >= dict.length) fail("dict id")
            (dict(id.toInt): Any)
          }
        } else {
          val data = st.stream(col, 1)
          val lens = ints(2, signed = false, m)
          val out = new Array[Any](m)
          var off = 0
          var i = 0
          while (i < m) {
            val l = lens(i).toInt
            if (l < 0 || data == null || off + l > data.length)
              fail("string bounds")
            out(i) = new String(data, off, l, UTF_8)
            off += l
            i += 1
          }
          out
        }
      case 8 => // BINARY
        val data = st.stream(col, 1)
        val lens = ints(2, signed = false, m)
        val out = new Array[Any](m)
        var off = 0
        var i = 0
        while (i < m) {
          val l = lens(i).toInt
          if (l < 0 || data == null || off + l > data.length)
            fail("binary bounds")
          out(i) = java.util.Arrays.copyOfRange(data, off, off + l)
          off += l
          i += 1
        }
        out
      case 9 | 18 => // TIMESTAMP (local / instant): epoch micros
        val secs = ints(1, signed = true, m)
        val nanoEnc = ints(5, signed = false, m)
        Array.tabulate[Any](m) { i =>
          val t = (nanoEnc(i) & 7).toInt
          var nanos = nanoEnc(i) >>> 3
          if (t != 0) {
            var k = 0
            while (k <= t) { nanos *= 10; k += 1 }
          }
          // the writer truncates millis/1000 toward zero: a negative
          // second with a millisecond-sized fraction borrows one back
          // (the same rule orc-core's reader applies)
          var s = secs(i) + TimestampBase
          if (s < 0 && nanos > 999999) s -= 1
          s * 1000000L + nanos / 1000
        }
      case 15 => // DATE: epoch days
        ints(1, signed = true, m).map(v => (v: Any))
      case 14 => // DECIMAL: unbounded zigzag varint mantissa + scale
        val raw = st.stream(col, 1)
        if (m > 0 && raw == null) fail("decimal stream")
        val scales = ints(5, signed = true, m)
        val in = new BIn(if (raw == null) new Array[Byte](0) else raw)
        Array.tabulate[Any](m) { i =>
          var mag = java.math.BigInteger.ZERO
          var shift = 0
          var go = true
          while (go) {
            val x = in.u8()
            if (shift > 8 * 16) fail("decimal varint")
            mag = mag.or(java.math.BigInteger.valueOf(x & 0x7FL)
              .shiftLeft(shift))
            shift += 7
            go = (x & 0x80) != 0
          }
          // zigzag over the unbounded magnitude
          val unscaled =
            if (mag.testBit(0)) mag.shiftRight(1).not()
            else mag.shiftRight(1)
          // the writer strips trailing zeros (HiveDecimal) and records
          // the value's own scale in SECONDARY; readers present the
          // TYPE scale
          try new java.math.BigDecimal(unscaled, scales(i).toInt)
            .setScale(tpe.scale)
          catch { case _: ArithmeticException => fail("decimal scale") }
        }
      case 12 => // STRUCT
        val children = tpe.subtypes.map(c =>
          readColumn(st, types, c, m, depth + 1))
        Array.tabulate[Any](m) { i =>
          OStruct(tpe.subtypes.indices.map { k =>
            val name =
              if (k < tpe.fieldNames.length) tpe.fieldNames(k) else s"_$k"
            name -> children(k)(i)
          }.toVector)
        }
      case 10 => // LIST
        val lens = ints(2, signed = false, m)
        var total = 0L
        lens.foreach { l => if (l < 0) fail("list len"); total += l }
        if (total > (1 << 24)) fail("list bomb")
        if (tpe.subtypes.length != 1) fail("list shape")
        val child = readColumn(st, types, tpe.subtypes(0), total.toInt, depth + 1)
        val out = new Array[Any](m)
        var off = 0
        var i = 0
        while (i < m) {
          val l = lens(i).toInt
          out(i) = child.slice(off, off + l).toVector
          off += l
          i += 1
        }
        out
      case 11 => // MAP: vector of (key, value) pairs
        val lens = ints(2, signed = false, m)
        var total = 0L
        lens.foreach { l => if (l < 0) fail("map len"); total += l }
        if (total > (1 << 24)) fail("map bomb")
        if (tpe.subtypes.length != 2) fail("map shape")
        val keys = readColumn(st, types, tpe.subtypes(0), total.toInt, depth + 1)
        val vals = readColumn(st, types, tpe.subtypes(1), total.toInt, depth + 1)
        val out = new Array[Any](m)
        var off = 0
        var i = 0
        while (i < m) {
          val l = lens(i).toInt
          out(i) = (off until off + l).map(j => (keys(j), vals(j))).toVector
          off += l
          i += 1
        }
        out
      case 13 => // UNION: DATA = tag per value (byte RLE), children by tag
        val raw = st.stream(col, 1)
        if (m > 0 && raw == null) fail("union tags")
        val tags =
          if (raw == null) new Array[Byte](0) else byteRle(new BIn(raw), m)
        if (tpe.subtypes.isEmpty) fail("union shape")
        val counts = new Array[Int](tpe.subtypes.length)
        tags.foreach { t =>
          val k = t & 0xFF
          if (k >= tpe.subtypes.length) fail("union tag")
          counts(k) += 1
        }
        val children = tpe.subtypes.indices.map(k =>
          readColumn(st, types, tpe.subtypes(k), counts(k), depth + 1)).toArray
        val cursors = new Array[Int](tpe.subtypes.length)
        Array.tabulate[Any](m) { i =>
          val k = tags(i) & 0xFF
          val v = children(k)(cursors(k))
          cursors(k) += 1
          OUnion(k, v)
        }
      case _  => fail("type kind")
    }
    if (present == null) values
    else {
      val out = new Array[Any](count)
      var vi = 0
      var i = 0
      while (i < count) {
        if (present(i)) { out(i) = values(vi); vi += 1 }
        i += 1
      }
      out
    }
  }

  private def typeString(types: Array[OType], col: Int, depth: Int): String = {
    if (depth > 64) fail("depth bomb")
    val t = types(col)
    t.kind match {
      case 0 => "bool"
      case 1 => "i8"
      case 2 => "i16"
      case 3 => "i32"
      case 4 => "i64"
      case 5 => "f32"
      case 6 => "f64"
      case 7 => "str"
      case 16 => "varchar"
      case 17 => "char"
      case 8 => "bin"
      case 9 | 18 => "ts_us"
      case 15 => "date32"
      case 14 => "dec(" + t.scale + ")"
      case 12 => "struct<" + t.subtypes.indices.map { k =>
        val nm = if (k < t.fieldNames.length) t.fieldNames(k) else s"_$k"
        nm + ":" + typeString(types, t.subtypes(k), depth + 1)
      }.mkString(",") + ">"
      case 10 => "list<" + typeString(types, t.subtypes(0), depth + 1) + ">"
      case 11 => "map<" + typeString(types, t.subtypes(0), depth + 1) + "," +
        typeString(types, t.subtypes(1), depth + 1) + ">"
      case 13 => "union<" + t.subtypes.indices.map(k =>
        typeString(types, t.subtypes(k), depth + 1)).mkString(",") + ">"
      case _  => fail("type kind")
    }
  }

  // ---- whole-file read ----------------------------------------------------

  def isOrc(b: Array[Byte]): Boolean =
    b != null && b.length >= 16 &&
      b(0) == 'O' && b(1) == 'R' && b(2) == 'C'

  /** Read a whole ORC file held in memory; null on damage or a named
    * profile gap (distinguish via [[decodeClass]]).
    */
  def read(b: Array[Byte]): OrcTable = try {
    readOrThrow(b)
  } catch { case _: RuntimeException => null }

  private[graft] def readOrThrow(b: Array[Byte]): OrcTable = {
    if (!isOrc(b)) fail("not orc")
    val psLen = b(b.length - 1) & 0xFF
    if (psLen < 1 || psLen + 1 > b.length) fail("postscript length")
    val psOff = b.length - 1 - psLen
    // postscript: 1 footerLength, 2 compression, 3 blockSize, 8000 magic
    val ps = new PIn(b, psOff, psOff + psLen)
    var footerLen = -1L
    var codec = 0
    var magic: String = null
    var f = ps.next()
    while (f != null) {
      f match {
        case (1, 0) => footerLen = ps.varint()
        case (2, 0) => codec = ps.varint().toInt
        case (8000, 2) => magic = ps.str()
        case (_, w) => ps.skip(w)
      }
      f = ps.next()
    }
    if (footerLen <= 0 || magic != "ORC") fail("postscript")
    val footerOff = psOff - footerLen
    if (footerOff < 0) fail("footer bounds")
    val footer = parseFooter(decodeStream(b, footerOff, footerLen, codec))
    if (footer.numRows > (1 << 22)) fail("row bomb")
    val root = footer.types(0)
    if (root.kind != 12) fail("root kind") // ORC roots are structs
    val nRows = footer.numRows.toInt
    val names = root.subtypes.indices.map(k =>
      if (k < root.fieldNames.length) root.fieldNames(k) else s"_$k").toArray
    val typesS = root.subtypes.map(c => typeString(footer.types, c, 0))
    val rows = new Array[Array[Any]](nRows)
    var at = 0
    footer.stripes.foreach { si =>
      if (si.numRows > (1 << 22)) fail("stripe bomb")
      val sfOff = si.offset + si.indexLength + si.dataLength
      val (streams, encs) =
        parseStripeFooter(decodeStream(b, sfOff, si.footerLength, codec))
      // stream regions are laid out consecutively in list order
      val offsets = new Array[Long](streams.length)
      var acc = si.offset
      var i = 0
      while (i < streams.length) {
        offsets(i) = acc
        acc += streams(i).length
        i += 1
      }
      if (acc > sfOff) fail("stream overrun")
      val st = new Stripe(b, codec, streams, offsets, encs)
      val n = si.numRows.toInt
      val cols = root.subtypes.map(c => readColumn(st, footer.types, c, n, 0))
      var r = 0
      while (r < n) {
        if (at >= nRows) fail("row count")
        rows(at) = Array.tabulate[Any](cols.length)(c => cols(c)(r))
        at += 1
        r += 1
      }
    }
    if (at != nRows) fail("row count")
    OrcTable(names, typesS, rows)
  }

  /** Forensic class for the decode taxonomy. */
  def decodeClass(b: Array[Byte]): String =
    if (!isOrc(b)) "not_orc"
    else try { readOrThrow(b); "ok" }
    catch {
      case e: Err if e.getMessage.endsWith("profile") => "unsupported_profile"
      case _: RuntimeException => "corrupt"
    }
}
