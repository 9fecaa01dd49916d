package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

/** From-scratch Apache Parquet reader — for parquet FILES AS BLOBS:
  * members of tar/zip/7z shards, bytes in a binary column, objects
  * pulled from an object store — everywhere Spark's native scan
  * cannot reach because the file never touches a filesystem path.
  *
  * Implements the documented format (parquet-format's parquet.thrift
  * + the Thrift Compact Protocol spec, both public): PAR1 framing
  * with the footer-length trailer, a from-scratch compact-protocol
  * walker (varint/zigzag, short+long field headers, nested
  * structs/lists, all scalar types), FileMetaData/SchemaElement/
  * RowGroup/ColumnChunk/ColumnMetaData/PageHeader models, data pages
  * V1 (4-byte-length-prefixed RLE definition levels) and V2
  * (uncompressed level slices ahead of the compressed values),
  * dictionary pages, the RLE/bit-packed hybrid (both directions of
  * use: levels and dictionary ids), and PLAIN values for every
  * physical type. Column chunks decompress through UNCOMPRESSED /
  * SNAPPY (the from-scratch [[Snappy]]) / GZIP (JDK) / ZSTD (the
  * [[Zstd]] adapter over zstd-jni) / LZ4_RAW (the [[Lz4]] raw-block
  * adapter over lz4-java).
  *
  * Scope: flat schemas decode down a dedicated fast path; NESTED and
  * repeated schemas assemble through Dremel record assembly (striped
  * repetition/definition level streams per leaf, recursive descent
  * over the schema tree) — List/Struct/Map at any nesting per
  * LogicalTypes.md, the modern 3-level list shape collapsing to
  * element vectors (legacy "array"/"*_tuple" 2-level names honored),
  * maps reading as vectors of key/value groups. All the encodings
  * parquet-mr emits decode: PLAIN, PLAIN_DICTIONARY /
  * RLE_DICTIONARY, RLE booleans, the three DELTA encodings the
  * V2 writer uses (DELTA_BINARY_PACKED block/miniblock ints,
  * DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY prefix compression),
  * and BYTE_STREAM_SPLIT for every fixed-width physical type.
  * The legacy hadoop-framed LZ4 codec and BROTLI/LZO remain named
  * profile gaps, distinct from damage.
  * Value model mirrors [[ArrowIpc]]: ints widen to Long,
  * floats to Double, UTF8/ENUM byte arrays to String, DECIMAL
  * converted types to java.math.BigDecimal, DATE to epoch-day Longs,
  * INT96 to its raw 12 bytes, everything else to its physical value.
  *
  * Pinned against the INDEPENDENT parquet-mr implementation on the
  * Spark classpath (ExampleParquetWriter bytes across codecs, writer
  * versions, dictionary + plain fallback, nulls — must decode
  * value-exactly) and driven by an oracle query whose corpus is
  * written by parquet-mr on the executors. Degrade-don't-throw;
  * bomb caps: 1<<26-byte pages, 1M values/page, 4096 columns.
  */
object Parquet {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  final case class PqTable(fieldNames: Array[String],
      fieldTypes: Array[String], rows: Array[Array[Any]])

  // ---- thrift compact protocol ------------------------------------------

  /** Positioned compact-protocol reader. Struct walking: callers loop
    * [[readFieldHeader]] until STOP, switching on (field id, type).
    */
  private final class TIn(val b: Array[Byte], var p: Int) {
    def u8(): Int = {
      if (p >= b.length) fail("thrift eof")
      val v = b(p) & 0xFF; p += 1; v
    }
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        val x = u8()
        v |= (x & 0x7FL) << shift
        shift += 7
        if (shift > 70) fail("thrift varint")
        more = (x & 0x80) != 0
      }
      v
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def bytes(): Array[Byte] = {
      val n = varint()
      if (n < 0 || n > (1 << 26) || n > b.length - p) fail("thrift bytes")
      val r = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
      p += n.toInt
      r
    }
    def str(): String = new String(bytes(), UTF_8)
    def double(): Double = {
      // compact protocol doubles are LITTLE-endian 64-bit
      var v = 0L
      var k = 7
      while (k >= 0) { v = (v << 8) | (b(p + k) & 0xFFL); k -= 1 }
      p += 8
      java.lang.Double.longBitsToDouble(v)
    }

    private var lastId = 0
    private val idStack = scala.collection.mutable.ArrayBuffer.empty[Int]
    def enterStruct(): Unit = { idStack += lastId; lastId = 0 }
    def exitStruct(): Unit = {
      lastId = idStack.remove(idStack.length - 1)
    }
    /** (fieldId, compactType); type 0 = STOP. Bools carry their value
      * in the type slot (1 = true, 2 = false).
      */
    def readFieldHeader(): (Int, Int) = {
      val h = u8()
      if (h == 0) return (0, 0)
      val tpe = h & 0x0F
      val delta = (h >> 4) & 0x0F
      val id =
        if (delta != 0) lastId + delta
        else zigzag().toInt // long form
      lastId = id
      (id, tpe)
    }
    /** (size, elemType) of a list/set header. */
    def listHeader(): (Int, Int) = {
      val h = u8()
      val tpe = h & 0x0F
      var n = (h >> 4) & 0x0F
      if (n == 15) {
        val v = varint()
        if (v < 0 || v > (1 << 22)) fail("thrift list")
        n = v.toInt
      }
      (n, tpe)
    }
    /** Skip one value of compact type `tpe`. */
    def skip(tpe: Int): Unit = tpe match {
      case 1 | 2 => () // bool true/false: value in the header
      case 3     => u8()
      case 4 | 5 | 6 => zigzag()
      case 7     => p += 8
      case 8     => bytes()
      case 9 | 10 =>
        val (n, et) = listHeader()
        var i = 0
        while (i < n) { skipListElem(et); i += 1 }
      case 11 =>
        val n = varint()
        if (n < 0 || n > (1 << 22)) fail("thrift map")
        if (n > 0) {
          val kv = u8()
          var i = 0
          while (i < n) { skipListElem(kv >> 4); skipListElem(kv & 0xF); i += 1 }
        }
      case 12 =>
        enterStruct()
        var go = true
        while (go) {
          val (_, t) = readFieldHeader()
          if (t == 0) go = false else skip(t)
        }
        exitStruct()
      case other => fail(s"thrift type $other")
    }
    /** List elements carry bools as whole bytes, unlike field slots. */
    private def skipListElem(tpe: Int): Unit = tpe match {
      case 1 | 2 => u8()
      case t     => skip(t)
    }
  }

  // ---- footer model ------------------------------------------------------

  private final case class SchemaEl(name: String, tpe: Int, typeLen: Int,
      repetition: Int, numChildren: Int, converted: Int, scale: Int,
      logicalDate: Boolean)
  private final case class ColMeta(tpe: Int, codec: Int, numValues: Long,
      dataPageOffset: Long, dictPageOffset: Long, totalCompressed: Long,
      path: Vector[String], encodings: Set[Int])
  private final case class RowGroupM(cols: Vector[ColMeta], numRows: Long)
  private final case class FileMeta(schema: Vector[SchemaEl],
      rowGroups: Vector[RowGroupM], numRows: Long)

  private def parseSchemaEl(t: TIn): SchemaEl = {
    var name = ""; var tpe = -1; var typeLen = 0; var rep = 0
    var nCh = 0; var conv = -1; var scale = 0; var isDate = false
    t.enterStruct()
    var go = true
    while (go) {
      val (id, ft) = t.readFieldHeader()
      if (ft == 0) go = false
      else (id, ft) match {
        case (1, _) => tpe = t.zigzag().toInt
        case (2, _) => typeLen = t.zigzag().toInt
        case (3, _) => rep = t.zigzag().toInt
        case (4, _) => name = t.str()
        case (5, _) => nCh = t.zigzag().toInt
        case (6, _) => conv = t.zigzag().toInt
        case (7, _) => scale = t.zigzag().toInt
        case (10, 12) => // LogicalType union: detect DATE (field 6)
          t.enterStruct()
          var g2 = true
          while (g2) {
            val (lid, lt) = t.readFieldHeader()
            if (lt == 0) g2 = false
            else { if (lid == 6) isDate = true; t.skip(lt) }
          }
          t.exitStruct()
        case (_, f) => t.skip(f)
      }
    }
    t.exitStruct()
    SchemaEl(name, tpe, typeLen, rep, nCh, conv, scale, isDate)
  }

  private def parseColMeta(t: TIn): ColMeta = {
    var tpe = -1; var codec = -1; var nv = 0L
    var dpo = -1L; var dico = -1L; var tcs = 0L
    var path = Vector.empty[String]
    var encs = Set.empty[Int]
    t.enterStruct()
    var go = true
    while (go) {
      val (id, ft) = t.readFieldHeader()
      if (ft == 0) go = false
      else (id, ft) match {
        case (1, _) => tpe = t.zigzag().toInt
        case (2, 9) =>
          val (n, _) = t.listHeader()
          var i = 0
          while (i < n) { encs += t.zigzag().toInt; i += 1 }
        case (3, 9) =>
          val (n, _) = t.listHeader()
          var i = 0
          while (i < n) { path :+= t.str(); i += 1 }
        case (4, _)  => codec = t.zigzag().toInt
        case (5, _)  => nv = t.zigzag()
        case (7, _)  => tcs = t.zigzag()
        case (9, _)  => dpo = t.zigzag()
        case (11, _) => dico = t.zigzag()
        case (_, f)  => t.skip(f)
      }
    }
    t.exitStruct()
    ColMeta(tpe, codec, nv, dpo, dico, tcs, path, encs)
  }

  private def parseFileMeta(t: TIn): FileMeta = {
    var schema = Vector.empty[SchemaEl]
    var groups = Vector.empty[RowGroupM]
    var numRows = 0L
    t.enterStruct()
    var go = true
    while (go) {
      val (id, ft) = t.readFieldHeader()
      if (ft == 0) go = false
      else (id, ft) match {
        case (2, 9) =>
          val (n, _) = t.listHeader()
          if (n > 4096) fail("schema bomb")
          var i = 0
          while (i < n) { schema :+= parseSchemaEl(t); i += 1 }
        case (3, _) => numRows = t.zigzag()
        case (4, 9) =>
          val (n, _) = t.listHeader()
          if (n > (1 << 20)) fail("rowgroup bomb")
          var i = 0
          while (i < n) {
            // RowGroup struct: 1 columns, 3 num_rows
            var cols = Vector.empty[ColMeta]
            var rgRows = 0L
            t.enterStruct()
            var g2 = true
            while (g2) {
              val (rid, rt) = t.readFieldHeader()
              if (rt == 0) g2 = false
              else (rid, rt) match {
                case (1, 9) =>
                  val (nc, _) = t.listHeader()
                  if (nc > 4096) fail("column bomb")
                  var j = 0
                  while (j < nc) {
                    // ColumnChunk: 1 file_path, 3 meta_data
                    var cm: ColMeta = null
                    t.enterStruct()
                    var g3 = true
                    while (g3) {
                      val (cid, ct) = t.readFieldHeader()
                      if (ct == 0) g3 = false
                      else if (cid == 3 && ct == 12) cm = parseColMeta(t)
                      else t.skip(ct)
                    }
                    t.exitStruct()
                    if (cm == null) fail("column meta missing")
                    cols :+= cm
                    j += 1
                  }
                case (3, _) => rgRows = t.zigzag()
                case (_, f) => t.skip(f)
              }
            }
            t.exitStruct()
            groups :+= RowGroupM(cols, rgRows)
            i += 1
          }
        case (_, f) => t.skip(f)
      }
    }
    t.exitStruct()
    FileMeta(schema, groups, numRows)
  }

  // ---- page headers --------------------------------------------------------

  private final case class PageH(tpe: Int, uncompressed: Int, compressed: Int,
      numValues: Int, encoding: Int, dlByteLen: Int, rlByteLen: Int,
      v2Compressed: Boolean, numNulls: Int)

  private def parsePageHeader(t: TIn): PageH = {
    var tpe = -1; var un = 0; var comp = 0
    var nv = 0; var enc = -1; var dlb = 0; var rlb = 0
    var v2c = true; var nn = 0
    t.enterStruct()
    var go = true
    while (go) {
      val (id, ft) = t.readFieldHeader()
      if (ft == 0) go = false
      else (id, ft) match {
        case (1, _) => tpe = t.zigzag().toInt
        case (2, _) => un = t.zigzag().toInt
        case (3, _) => comp = t.zigzag().toInt
        case (5, 12) | (7, 12) | (8, 12) =>
          val v2 = id == 8
          t.enterStruct()
          var g2 = true
          while (g2) {
            val (hid, ht) = t.readFieldHeader()
            if (ht == 0) g2 = false
            else (hid, ht) match {
              case (1, _) => nv = t.zigzag().toInt
              case (2, _) =>
                if (v2) nn = t.zigzag().toInt else enc = t.zigzag().toInt
              case (4, _) if v2 => enc = t.zigzag().toInt
              case (5, _) if v2 => dlb = t.zigzag().toInt
              case (6, _) if v2 => rlb = t.zigzag().toInt
              case (7, 1) if v2 => v2c = true
              case (7, 2) if v2 => v2c = false
              case (_, f) => t.skip(f)
            }
          }
          t.exitStruct()
        case (_, f) => t.skip(f)
      }
    }
    t.exitStruct()
    if (un < 0 || un > (1 << 26) || comp < 0 || comp > (1 << 26)) fail("page size")
    if (nv < 0 || nv > (1 << 20)) fail("page values")
    PageH(tpe, un, comp, nv, enc, dlb, rlb, v2c, nn)
  }

  // ---- codecs ---------------------------------------------------------------

  private def inflateGzip(in: Array[Byte], cap: Int): Array[Byte] = {
    val s = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(in))
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(cap, 1 << 20))
      val buf = new Array[Byte](8192)
      var n = s.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > cap) fail("gzip bomb")
        n = s.read(buf)
      }
      out.toByteArray
    } catch { case _: java.io.IOException => fail("gzip") }
    finally s.close()
  }

  private def decompress(codec: Int, in: Array[Byte], outLen: Int): Array[Byte] = {
    if (outLen < 0 || outLen > (1 << 26)) fail("page bomb")
    val out = codec match {
      case 0 => in // UNCOMPRESSED
      case 1 => // SNAPPY (raw block)
        val r = Snappy.decode(in)
        if (r == null) fail("snappy") else r
      case 2 => inflateGzip(in, outLen + 64)
      case 6 => // ZSTD
        val r = Zstd.decode(in, outLen.toLong + 64)
        if (r == null) fail("zstd") else r
      case 7 => // LZ4_RAW (single raw block)
        val r = Lz4.decodeRawBlock(in, outLen)
        if (r == null) fail("lz4raw") else r
      case 3 | 4 | 5 => fail("codec profile") // LZO/Brotli/framed-LZ4: gap
      case _ => fail("codec")
    }
    if (out.length != outLen) fail("page length")
    out
  }

  // ---- RLE / bit-packed hybrid ----------------------------------------------

  /** Decode `n` values of `bitWidth` bits from the hybrid encoding at
    * `b[p...)`; returns the values (ints).
    */
  private def rleHybrid(b: Array[Byte], p0: Int, end: Int, bitWidth: Int,
      n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var got = 0
    var p = p0
    val byteWidth = (bitWidth + 7) / 8
    while (got < n) {
      if (p >= end) fail("rle eof")
      // varint header
      var h = 0L
      var shift = 0
      var more = true
      while (more) {
        if (p >= end) fail("rle eof")
        val x = b(p) & 0xFF; p += 1
        h |= (x & 0x7FL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      if ((h & 1) == 0) { // RLE run
        val run = (h >>> 1).toInt
        if (run < 0 || got + run > n) fail("rle run")
        var v = 0
        var k = 0
        while (k < byteWidth) {
          if (p >= end) fail("rle eof")
          v |= (b(p) & 0xFF) << (8 * k); p += 1; k += 1
        }
        java.util.Arrays.fill(out, got, got + run, v)
        got += run
      } else { // bit-packed groups
        val groups = (h >>> 1).toInt
        val count = groups * 8
        if (count < 0 || count > (n - got) + 7) fail("rle groups")
        var acc = 0L
        var bits = 0
        var i = 0
        while (i < count) {
          while (bits < bitWidth) {
            if (p >= end) fail("rle eof")
            acc |= (b(p) & 0xFFL) << bits
            p += 1
            bits += 8
          }
          val v = (acc & ((1L << bitWidth) - 1)).toInt
          acc >>>= bitWidth
          bits -= bitWidth
          if (got < n) { out(got) = v; got += 1 }
          i += 1
        }
      }
    }
    out
  }

  private def bitWidthOf(maxVal: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.max(maxVal, 1))

  // ---- DELTA encodings (Encodings.md) -------------------------------------

  /** DELTA_BINARY_PACKED: block/miniblock header, zigzag first value,
    * per-block zigzag min-delta + per-miniblock bit widths, miniblocks
    * bit-packed LSB-first. Only the miniblocks that contain used
    * values are materialized (the writer's flush rule), so the end
    * position is well-defined for the byte-array composites built on
    * top. Returns (values, position after the encoding).
    */
  private def deltaBinaryPacked(b: Array[Byte], p0: Int, end: Int): (Array[Long], Int) = {
    var p = p0
    def uleb(): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        if (p >= end) fail("dbp eof")
        val x = b(p) & 0xFF; p += 1
        v |= (x & 0x7FL) << shift
        shift += 7
        if (shift > 70) fail("dbp varint")
        more = (x & 0x80) != 0
      }
      v
    }
    def zz(): Long = { val v = uleb(); (v >>> 1) ^ -(v & 1) }
    val blockSize = uleb()
    val miniPer = uleb()
    val total = uleb()
    if (blockSize <= 0 || blockSize > (1 << 20) || miniPer <= 0 ||
        miniPer > blockSize || blockSize % miniPer != 0 ||
        total < 0 || total > (1 << 22)) fail("dbp header")
    val perMini = (blockSize / miniPer).toInt
    if (perMini % 8 != 0) fail("dbp mini")
    val first = zz()
    val out = new Array[Long](total.toInt)
    if (total == 0) return (out, p)
    out(0) = first
    var idx = 1
    var cur = first
    while (idx < total) {
      val minDelta = zz()
      if (p + miniPer > end) fail("dbp widths")
      val widths = java.util.Arrays.copyOfRange(b, p, p + miniPer.toInt)
      p += miniPer.toInt
      var m = 0
      while (m < miniPer && idx < total) {
        val w = widths(m) & 0xFF
        if (w > 64) fail("dbp width")
        val miniBytes = perMini * w / 8
        if (p + miniBytes > end) fail("dbp data")
        var acc = 0L
        var bits = 0
        var q = p
        var k = 0
        while (k < perMini) {
          var delta = 0L
          if (w > 0) {
            // LSB-first packing; a 64-bit width needs two pulls
            var need = w
            var got = 0
            delta = 0L
            while (need > 0) {
              if (bits == 0) {
                if (q >= p + miniBytes) fail("dbp run")
                acc = b(q) & 0xFFL; q += 1; bits = 8
              }
              val take = math.min(need, bits)
              delta |= (acc & ((1L << take) - 1)) << got
              acc >>>= take
              bits -= take
              need -= take
              got += take
            }
          }
          if (idx < total) {
            cur += minDelta + delta
            out(idx) = cur
            idx += 1
          }
          k += 1
        }
        p += miniBytes
        m += 1
      }
    }
    (out, p)
  }

  /** DELTA_LENGTH_BYTE_ARRAY: DBP lengths then concatenated bytes. */
  private def deltaLengthByteArray(b: Array[Byte], p0: Int, end: Int,
      n: Int): Array[Any] = {
    val (lens, p1) = deltaBinaryPacked(b, p0, end)
    if (lens.length != n) fail("dlba count")
    var p = p1
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val len = lens(i)
      if (len < 0 || len > (1 << 26) || p + len > end) fail("dlba bytes")
      out(i) = java.util.Arrays.copyOfRange(b, p, p + len.toInt)
      p += len.toInt
      i += 1
    }
    out
  }

  /** DELTA_BYTE_ARRAY: DBP prefix lengths + DELTA_LENGTH suffixes. */
  private def deltaByteArray(b: Array[Byte], p0: Int, end: Int,
      n: Int): Array[Any] = {
    val (prefixes, p1) = deltaBinaryPacked(b, p0, end)
    if (prefixes.length != n) fail("dba count")
    val suffixes = deltaLengthByteArray(b, p1, end, n)
    val out = new Array[Any](n)
    var prev = Array.emptyByteArray
    var i = 0
    while (i < n) {
      val pl = prefixes(i)
      if (pl < 0 || pl > prev.length) fail("dba prefix")
      val suf = suffixes(i).asInstanceOf[Array[Byte]]
      val v = new Array[Byte](pl.toInt + suf.length)
      System.arraycopy(prev, 0, v, 0, pl.toInt)
      System.arraycopy(suf, 0, v, pl.toInt, suf.length)
      out(i) = v
      prev = v
      i += 1
    }
    out
  }

  // ---- PLAIN values -----------------------------------------------------------

  /** Read `n` PLAIN values of physical type `tpe` from `b[p...)`. */
  private def plainValues(tpe: Int, typeLen: Int, b: Array[Byte], p0: Int,
      end: Int, n: Int): Array[Any] = {
    var p = p0
    def need(k: Int): Unit = if (p + k > end) fail("plain eof")
    val out = new Array[Any](n)
    var i = 0
    tpe match {
      case 0 => // BOOLEAN: bit-packed LSB-first
        need((n + 7) / 8)
        while (i < n) {
          out(i) = ((b(p + (i >> 3)) >> (i & 7)) & 1) == 1
          i += 1
        }
        p += (n + 7) / 8
      case 1 => // INT32
        while (i < n) {
          need(4)
          out(i) = ((b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
            ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)).toInt.toLong
          p += 4; i += 1
        }
      case 2 => // INT64
        while (i < n) {
          need(8)
          var v = 0L
          var k = 7
          while (k >= 0) { v = (v << 8) | (b(p + k) & 0xFFL); k -= 1 }
          out(i) = v; p += 8; i += 1
        }
      case 3 => // INT96 (legacy timestamps): raw 12 bytes
        while (i < n) {
          need(12)
          out(i) = java.util.Arrays.copyOfRange(b, p, p + 12)
          p += 12; i += 1
        }
      case 4 => // FLOAT
        while (i < n) {
          need(4)
          val v = (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) |
            ((b(p + 2) & 0xFF) << 16) | ((b(p + 3) & 0xFF) << 24)
          out(i) = java.lang.Float.intBitsToFloat(v).toDouble
          p += 4; i += 1
        }
      case 5 => // DOUBLE
        while (i < n) {
          need(8)
          var v = 0L
          var k = 7
          while (k >= 0) { v = (v << 8) | (b(p + k) & 0xFFL); k -= 1 }
          out(i) = java.lang.Double.longBitsToDouble(v)
          p += 8; i += 1
        }
      case 6 => // BYTE_ARRAY: u32 LE length + bytes
        while (i < n) {
          need(4)
          val len = (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) |
            ((b(p + 2) & 0xFF) << 16) | ((b(p + 3) & 0xFF) << 24)
          p += 4
          if (len < 0 || p + len > end) fail("bytearray")
          out(i) = java.util.Arrays.copyOfRange(b, p, p + len)
          p += len; i += 1
        }
      case 7 => // FIXED_LEN_BYTE_ARRAY
        if (typeLen <= 0 || typeLen > (1 << 20)) fail("flba width")
        while (i < n) {
          need(typeLen)
          out(i) = java.util.Arrays.copyOfRange(b, p, p + typeLen)
          p += typeLen; i += 1
        }
      case _ => fail("physical type")
    }
    out
  }

  // ---- the read -----------------------------------------------------------

  def isParquet(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1' &&
      b(b.length - 4) == 'P' && b(b.length - 3) == 'A' &&
      b(b.length - 2) == 'R' && b(b.length - 1) == '1'

  /** Read a whole parquet file held in memory; null on damage or a
    * named profile gap (distinguish via [[decodeClass]]).
    */
  def read(b: Array[Byte]): PqTable = try {
    readOrThrow(b)
  } catch { case _: RuntimeException => null }

  private[graft] def readOrThrow(b: Array[Byte]): PqTable = {
    if (!isParquet(b)) fail("not parquet")
    val fLen = (b(b.length - 8) & 0xFF) | ((b(b.length - 7) & 0xFF) << 8) |
      ((b(b.length - 6) & 0xFF) << 16) | ((b(b.length - 5) & 0xFF) << 24)
    if (fLen < 0 || fLen > b.length - 12) fail("footer length")
    val meta = parseFileMeta(new TIn(b, b.length - 8 - fLen))
    if (meta.schema.isEmpty) fail("no schema")
    if (meta.numRows < 0 || meta.numRows > (1 << 22)) fail("row bomb")
    val tree = buildTree(meta.schema)
    if (tree.children.forall(c => c.children.isEmpty && c.el.repetition != 2))
      readFlat(b, meta)
    else readNested(b, meta, tree)
  }

  /** The flat fast path: a root message of non-repeated primitives —
    * no record assembly, columns decode independently.
    */
  private def readFlat(b: Array[Byte], meta: FileMeta): PqTable = {
    val cols = meta.schema.tail
    val names = cols.map(_.name).toArray
    val types = cols.map(typeString).toArray
    val nRows = meta.numRows.toInt
    val columns: Array[Array[Any]] = Array.fill(cols.length)(null)
    var ci = 0
    while (ci < cols.length) {
      val parts = meta.rowGroups.map { rg =>
        val cm = rg.cols.lift(ci).getOrElse(fail("chunk missing"))
        readChunk(b, cm, cols(ci), rg.numRows.toInt)
      }
      val all = new Array[Any](nRows)
      var at = 0
      parts.foreach { part =>
        if (at + part.length > nRows) fail("row count")
        System.arraycopy(part, 0, all, at, part.length)
        at += part.length
      }
      if (at != nRows) fail("row count")
      columns(ci) = all
      ci += 1
    }
    val rows = Array.tabulate(nRows)(r =>
      Array.tabulate[Any](cols.length)(c => columns(c)(r)))
    PqTable(names, types, rows)
  }

  // ---- nested schemas: Dremel record assembly -----------------------------

  /** One assembled group (struct) value. Lists assemble as
    * `Vector[Any]`; a MAP assembles as `Vector[PqGroup]` of its
    * key/value pairs.
    */
  final case class PqGroup(fields: Vector[(String, Any)]) {
    def get(name: String): Any =
      fields.find(_._1 == name).map(_._2).orNull
  }

  /** Schema tree node. `maxDef`/`maxRep` are the definition and
    * repetition levels AT this node; `leafLo until leafHi` are the
    * preorder leaf-column indices under it (preorder matches the
    * row-group chunk order). `pass` marks the two collapse shapes of
    * LogicalTypes.md list/map structure: a LIST/MAP-annotated wrapper
    * group (its instance IS its repeated child's vector) and the
    * 3-level spacer group (each instance IS its single child's value).
    */
  private final case class Node(el: SchemaEl, children: Vector[Node],
      maxDef: Int, maxRep: Int, leafLo: Int, leafHi: Int, pass: Boolean)

  /** Preorder walk of the flattened footer schema into a tree.
    * optional and repeated both add a definition level; repeated adds
    * a repetition level; the root adds neither.
    */
  private def buildTree(schema: Vector[SchemaEl]): Node = {
    var pos = 0
    var leaf = 0
    def build(isRoot: Boolean, pd: Int, pr: Int, parentListWrap: Boolean,
        depth: Int): Node = {
      if (depth > 64) fail("depth bomb")
      if (pos >= schema.length) fail("schema walk")
      val el = schema(pos); pos += 1
      val d = if (isRoot) 0 else pd + (if (el.repetition != 0) 1 else 0)
      val r = if (isRoot) 0 else pr + (if (el.repetition == 2) 1 else 0)
      val lo = leaf
      if (el.numChildren <= 0) {
        if (el.tpe < 0) fail("schema walk") // a group claiming no children
        leaf += 1
        Node(el, Vector.empty, d, r, lo, leaf, pass = false)
      } else {
        if (el.numChildren > 4096) fail("schema bomb")
        val wrap = (el.converted == 1 || el.converted == 3) &&
          el.numChildren == 1
        val ch = Vector.fill(el.numChildren)(
          build(isRoot = false, d, r, el.converted == 3 && el.numChildren == 1,
            depth + 1))
        // Wrapper collapse: LIST/MAP group over one repeated child.
        val isWrap = wrap && ch.head.el.repetition == 2
        // Spacer collapse: the modern 3-level "repeated group list
        // { element }" under a LIST wrapper. The legacy 2-level names
        // ("array", "*_tuple") mean the repeated group IS the element.
        val isSpacer = !isRoot && el.repetition == 2 && parentListWrap &&
          el.numChildren == 1 && el.name != "array" &&
          !el.name.endsWith("_tuple")
        Node(el, ch, d, r, lo, leaf, pass = isWrap || isSpacer)
      }
    }
    val root = build(isRoot = true, 0, 0, parentListWrap = false, 0)
    if (pos != schema.length) fail("schema walk")
    root
  }

  /** Rendered type of a field as seen by a consumer (repeated fields
    * and collapsed LIST wrappers both read as `list<...>`).
    */
  private def fieldType(n: Node): String = {
    val inst =
      if (n.children.isEmpty) typeString(n.el)
      else if (n.pass) fieldType(n.children.head)
      else "struct<" + n.children
        .map(c => c.el.name + ":" + fieldType(c)).mkString(",") + ">"
    if (n.el.repetition == 2) s"list<$inst>" else inst
  }

  /** One leaf column's striped (rep, def, value) streams plus the
    * assembly cursor over them.
    */
  private final class LeafCursor(val defs: Array[Int], val reps: Array[Int],
      val vals: Array[Any], val maxDef: Int) {
    var p = 0
    private var vp = 0
    def has: Boolean = p < defs.length
    def d0: Int = { if (!has) fail("cursor eof"); defs(p) }
    def r0: Int = { if (!has) fail("cursor eof"); reps(p) }
    /** Pop one level entry; its value when fully defined, else null. */
    def pop(): Any = {
      if (!has) fail("cursor eof")
      val v = if (defs(p) == maxDef) {
        if (vp >= vals.length) fail("cursor values")
        val x = vals(vp); vp += 1; x
      } else null
      p += 1
      v
    }
  }

  /** Value of field `n` within a present parent instance: repeated →
    * the element vector, optional → null or the instance, required →
    * the instance.
    */
  private def readField(n: Node, cur: Array[LeafCursor]): Any = {
    val c0 = cur(n.leafLo)
    if (n.el.repetition == 2) {
      if (c0.d0 < n.maxDef) { popAll(n, cur); Vector.empty }
      else {
        val b = Vector.newBuilder[Any]
        var go = true
        while (go) {
          b += readInstance(n, cur)
          go = c0.has && c0.r0 == n.maxRep
        }
        b.result()
      }
    } else if (n.el.repetition == 1) {
      if (c0.d0 < n.maxDef) { popAll(n, cur); null }
      else readInstance(n, cur)
    } else readInstance(n, cur)
  }

  private def readInstance(n: Node, cur: Array[LeafCursor]): Any =
    if (n.children.isEmpty) convert(n.el, cur(n.leafLo).pop())
    else if (n.pass) readField(n.children.head, cur)
    else PqGroup(n.children.map(ch => ch.el.name -> readField(ch, cur)))

  /** A null/empty subtree consumes exactly one entry per leaf. */
  private def popAll(n: Node, cur: Array[LeafCursor]): Unit = {
    var i = n.leafLo
    while (i < n.leafHi) { cur(i).pop(); i += 1 }
  }

  private def readNested(b: Array[Byte], meta: FileMeta, root: Node): PqTable = {
    val leaves = {
      val buf = Vector.newBuilder[Node]
      def walk(n: Node): Unit =
        if (n.children.isEmpty) buf += n else n.children.foreach(walk)
      walk(root)
      buf.result()
    }
    val nRows = meta.numRows.toInt
    val names = root.children.map(_.el.name).toArray
    val types = root.children.map(fieldType).toArray
    val rows = new Array[Array[Any]](nRows)
    var at = 0
    meta.rowGroups.foreach { rg =>
      if (rg.cols.length != leaves.length) fail("chunk count")
      val cur = Array.tabulate(leaves.length)(i =>
        readChunkStriped(b, rg.cols(i), leaves(i)))
      var r = 0L
      while (r < rg.numRows) {
        if (at >= nRows) fail("row count")
        rows(at) = root.children.map(ch => readField(ch, cur)).toArray
        at += 1
        r += 1
      }
      if (cur.exists(_.has)) fail("chunk leftovers")
    }
    if (at != nRows) fail("row count")
    PqTable(names, types, rows)
  }

  /** Decode one column chunk into its raw (rep, def, value) streams —
    * `ColumnMetaData.num_values` counts LEVEL entries, so pages drain
    * against it, not the row count. v1 pages carry 4-byte-length-
    * prefixed RLE repetition then definition levels ahead of the
    * values; v2 pages carry both slices uncompressed ahead of the
    * (possibly compressed) values.
    */
  private def readChunkStriped(b: Array[Byte], cm: ColMeta,
      leaf: Node): LeafCursor = {
    if (cm.tpe != leaf.el.tpe) fail("chunk type")
    val maxDef = leaf.maxDef
    val maxRep = leaf.maxRep
    if (cm.numValues < 0 || cm.numValues > (1 << 24)) fail("value bomb")
    val total = cm.numValues.toInt
    val defs = new Array[Int](total)
    val reps = new Array[Int](total)
    val vals = new scala.collection.mutable.ArrayBuffer[Any](total)
    var p = if (cm.dictPageOffset >= 0 && cm.dictPageOffset < cm.dataPageOffset)
      cm.dictPageOffset else cm.dataPageOffset
    if (p < 0 || p >= b.length) fail("chunk offset")
    var dict: Array[Any] = null
    var got = 0
    var guard = 0
    def presentIn(from: Int, n: Int): Int =
      if (maxDef == 0) n
      else {
        var c = 0
        var i = from
        while (i < from + n) { if (defs(i) == maxDef) c += 1; i += 1 }
        c
      }
    while (got < total && guard < (1 << 20)) {
      guard += 1
      val t = new TIn(b, p.toInt)
      val ph = parsePageHeader(t)
      val dataStart = t.p
      if (dataStart + ph.compressed > b.length) fail("page bounds")
      p = dataStart + ph.compressed
      ph.tpe match {
        case 2 => // dictionary page
          if (ph.encoding != 0 && ph.encoding != 2) fail("dict encoding")
          val raw = decompress(cm.codec,
            java.util.Arrays.copyOfRange(b, dataStart, dataStart + ph.compressed),
            ph.uncompressed)
          dict = plainValues(leaf.el.tpe, leaf.el.typeLen, raw, 0, raw.length,
            ph.numValues)
        case 0 => // data page v1
          if (ph.numValues < 0 || got + ph.numValues > total) fail("page values")
          val raw = decompress(cm.codec,
            java.util.Arrays.copyOfRange(b, dataStart, dataStart + ph.compressed),
            ph.uncompressed)
          var q = 0
          def levelSlice(into: Array[Int], width: Int): Unit = {
            if (q + 4 > raw.length) fail("levels")
            val ll = (raw(q) & 0xFF) | ((raw(q + 1) & 0xFF) << 8) |
              ((raw(q + 2) & 0xFF) << 16) | ((raw(q + 3) & 0xFF) << 24)
            q += 4
            if (ll < 0 || q + ll > raw.length) fail("levels")
            val d = rleHybrid(raw, q, q + ll, width, ph.numValues)
            System.arraycopy(d, 0, into, got, ph.numValues)
            q += ll
          }
          if (maxRep > 0) levelSlice(reps, bitWidthOf(maxRep))
          if (maxDef > 0) levelSlice(defs, bitWidthOf(maxDef))
          val present = presentIn(got, ph.numValues)
          vals ++= decodeRawValues(leaf.el, ph.encoding, raw, q, raw.length,
            present, dict)
          got += ph.numValues
        case 3 => // data page v2
          if (ph.numValues < 0 || got + ph.numValues > total) fail("page values")
          var q = dataStart
          if (ph.rlByteLen < 0 || ph.dlByteLen < 0 ||
              q + ph.rlByteLen + ph.dlByteLen > b.length) fail("levels")
          if (maxRep > 0) {
            val d = rleHybrid(b, q, q + ph.rlByteLen, bitWidthOf(maxRep),
              ph.numValues)
            System.arraycopy(d, 0, reps, got, ph.numValues)
          }
          q += ph.rlByteLen
          if (maxDef > 0) {
            val d = rleHybrid(b, q, q + ph.dlByteLen, bitWidthOf(maxDef),
              ph.numValues)
            System.arraycopy(d, 0, defs, got, ph.numValues)
          }
          q += ph.dlByteLen
          val valuesCompressed = ph.compressed - ph.dlByteLen - ph.rlByteLen
          if (valuesCompressed < 0) fail("page sizes")
          val raw =
            if (ph.v2Compressed)
              decompress(cm.codec,
                java.util.Arrays.copyOfRange(b, q, q + valuesCompressed),
                ph.uncompressed - ph.dlByteLen - ph.rlByteLen)
            else java.util.Arrays.copyOfRange(b, q, q + valuesCompressed)
          val present = presentIn(got, ph.numValues)
          vals ++= decodeRawValues(leaf.el, ph.encoding, raw, 0, raw.length,
            present, dict)
          got += ph.numValues
        case 1 => () // index page: skip
        case _ => fail("page type")
      }
    }
    if (got != total) fail("chunk levels")
    new LeafCursor(defs, reps, vals.toArray, maxDef)
  }

  private def typeString(s: SchemaEl): String = s.tpe match {
    case 0 => "bool"
    case 1 =>
      if (s.logicalDate || s.converted == 6) "date32"
      else if (s.converted == 5) "dec32(" + s.scale + ")"
      else "i32"
    case 2 => if (s.converted == 5) "dec64(" + s.scale + ")" else "i64"
    case 3 => "i96"
    case 4 => "f32"
    case 5 => "f64"
    case 6 =>
      // ConvertedType UTF8=0, ENUM=4, JSON=19, BSON=20, DECIMAL=5
      if (s.converted == 0 || s.converted == 4 || s.converted == 19) "str"
      else if (s.converted == 5) "decbin(" + s.scale + ")"
      else "bin"
    case 7 => if (s.converted == 5) "decbin(" + s.scale + ")" else s"flba(${s.typeLen})"
    case _ => fail("physical type")
  }

  /** Convert a raw physical value per the column's converted type. */
  private def convert(s: SchemaEl, v: Any): Any =
    if (v == null) null
    else s.tpe match {
      case 6 | 7 =>
        if (s.converted == 0 || s.converted == 4 || s.converted == 19)
          new String(v.asInstanceOf[Array[Byte]], UTF_8)
        else if (s.converted == 5)
          new java.math.BigDecimal(
            new java.math.BigInteger(v.asInstanceOf[Array[Byte]]), s.scale)
        else v
      case 1 if s.converted == 5 =>
        java.math.BigDecimal.valueOf(v.asInstanceOf[Long], s.scale)
      case 2 if s.converted == 5 =>
        java.math.BigDecimal.valueOf(v.asInstanceOf[Long], s.scale)
      case _ => v
    }

  /** Decode one column chunk to `nRows` values (nulls included). */
  private def readChunk(b: Array[Byte], cm: ColMeta, se: SchemaEl,
      nRows: Int): Array[Any] = {
    if (cm.tpe != se.tpe) fail("chunk type")
    val maxDef = if (se.repetition == 1) 1 else 0
    var p = if (cm.dictPageOffset >= 0 && cm.dictPageOffset < cm.dataPageOffset)
      cm.dictPageOffset else cm.dataPageOffset
    if (p < 0 || p >= b.length) fail("chunk offset")
    var dict: Array[Any] = null
    val out = new Array[Any](nRows)
    var got = 0
    var guard = 0
    while (got < nRows && guard < (1 << 20)) {
      guard += 1
      val t = new TIn(b, p.toInt)
      val ph = parsePageHeader(t)
      val dataStart = t.p
      if (dataStart + ph.compressed > b.length) fail("page bounds")
      p = dataStart + ph.compressed
      ph.tpe match {
        case 2 => // dictionary page: PLAIN values
          if (ph.encoding != 0 && ph.encoding != 2) fail("dict encoding")
          val raw = decompress(cm.codec,
            java.util.Arrays.copyOfRange(b, dataStart, dataStart + ph.compressed),
            ph.uncompressed)
          dict = plainValues(se.tpe, se.typeLen, raw, 0, raw.length, ph.numValues)
        case 0 => // data page v1
          val raw = decompress(cm.codec,
            java.util.Arrays.copyOfRange(b, dataStart, dataStart + ph.compressed),
            ph.uncompressed)
          var q = 0
          val defs: Array[Int] =
            if (maxDef == 0) null
            else {
              // 4-byte LE length prefix, then the RLE hybrid
              if (q + 4 > raw.length) fail("levels")
              val ll = (raw(q) & 0xFF) | ((raw(q + 1) & 0xFF) << 8) |
                ((raw(q + 2) & 0xFF) << 16) | ((raw(q + 3) & 0xFF) << 24)
              q += 4
              if (ll < 0 || q + ll > raw.length) fail("levels")
              val d = rleHybrid(raw, q, q + ll, bitWidthOf(maxDef), ph.numValues)
              q += ll
              d
            }
          decodeValues(se, ph.encoding, raw, q, raw.length, ph.numValues,
            defs, dict, out, got)
          got += ph.numValues
        case 3 => // data page v2: levels sit UNCOMPRESSED ahead of values
          if (ph.rlByteLen != 0) fail("repeated profile")
          var q = dataStart
          val defs: Array[Int] =
            if (maxDef == 0) null
            else {
              if (ph.dlByteLen < 0 || q + ph.dlByteLen > b.length) fail("levels")
              val d = rleHybrid(b, q, q + ph.dlByteLen, bitWidthOf(maxDef), ph.numValues)
              d
            }
          q += ph.dlByteLen
          val valuesCompressed = ph.compressed - ph.dlByteLen - ph.rlByteLen
          if (valuesCompressed < 0) fail("page sizes")
          val raw =
            if (ph.v2Compressed)
              decompress(cm.codec,
                java.util.Arrays.copyOfRange(b, q, q + valuesCompressed),
                ph.uncompressed - ph.dlByteLen - ph.rlByteLen)
            else java.util.Arrays.copyOfRange(b, q, q + valuesCompressed)
          decodeValues(se, ph.encoding, raw, 0, raw.length, ph.numValues,
            defs, dict, out, got)
          got += ph.numValues
        case 1 => () // index page: skip
        case _ => fail("page type")
      }
    }
    if (got != nRows) fail("chunk rows")
    out
  }

  /** Decode one data page's values into `out[at...)`, def-level aware. */
  private def decodeValues(se: SchemaEl, encoding: Int, raw: Array[Byte],
      q0: Int, end: Int, numValues: Int, defs: Array[Int],
      dict: Array[Any], out: Array[Any], at: Int): Unit = {
    val present = if (defs == null) numValues else defs.count(_ == 1)
    val vals = decodeRawValues(se, encoding, raw, q0, end, present, dict)
    if (defs == null) {
      var i = 0
      while (i < numValues) { out(at + i) = convert(se, vals(i)); i += 1 }
    } else {
      var i = 0
      var vi = 0
      while (i < numValues) {
        if (defs(i) == 1) { out(at + i) = convert(se, vals(vi)); vi += 1 }
        else out(at + i) = null
        i += 1
      }
    }
  }

  /** Decode `present` raw (unconverted) values in the page's value
    * encoding.
    */
  private def decodeRawValues(se: SchemaEl, encoding: Int, raw: Array[Byte],
      q0: Int, end: Int, present: Int, dict: Array[Any]): Array[Any] = {
    encoding match {
      case 0 => // PLAIN
        plainValues(se.tpe, se.typeLen, raw, q0, end, present)
      case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY ids
        if (dict == null) fail("dict missing")
        if (present == 0) Array.empty[Any]
        else {
          if (q0 >= end) fail("dict ids")
          val bw = raw(q0) & 0xFF
          if (bw > 32) fail("dict width")
          val ids = rleHybrid(raw, q0 + 1, end, bw, present)
          ids.map { id =>
            if (id < 0 || id >= dict.length) fail("dict id")
            dict(id)
          }
        }
      case 3 if se.tpe == 0 => // RLE-encoded booleans (4-byte LE prefix)
        if (present == 0) Array.empty[Any]
        else {
          if (q0 + 4 > end) fail("rle bool")
          val ll = (raw(q0) & 0xFF) | ((raw(q0 + 1) & 0xFF) << 8) |
            ((raw(q0 + 2) & 0xFF) << 16) | ((raw(q0 + 3) & 0xFF) << 24)
          if (ll < 0 || q0 + 4 + ll > end) fail("rle bool")
          rleHybrid(raw, q0 + 4, q0 + 4 + ll, 1, present)
            .map(v => (v == 1): Any)
        }
      case 5 => // DELTA_BINARY_PACKED (v2 ints)
        if (se.tpe != 1 && se.tpe != 2) fail("dbp type")
        val (vals, _) = deltaBinaryPacked(raw, q0, end)
        if (vals.length != present) fail("dbp count")
        if (se.tpe == 1) vals.map(v => (v.toInt.toLong): Any)
        else vals.map(v => (v: Any))
      case 6 => // DELTA_LENGTH_BYTE_ARRAY
        if (se.tpe != 6) fail("dlba type")
        deltaLengthByteArray(raw, q0, end, present)
      case 7 => // DELTA_BYTE_ARRAY (v2 strings/binary)
        if (se.tpe != 6 && se.tpe != 7) fail("dba type")
        deltaByteArray(raw, q0, end, present)
      case 9 => // BYTE_STREAM_SPLIT: stream j holds byte j of each value
        val k = se.tpe match {
          case 1 => 4
          case 2 => 8
          case 4 => 4
          case 5 => 8
          case 7 => se.typeLen
          case _ => fail("bss type")
        }
        if (k <= 0 || q0 + present.toLong * k > end) fail("bss eof")
        val buf = new Array[Byte](present * k)
        var j = 0
        while (j < k) {
          var i = 0
          while (i < present) {
            buf(i * k + j) = raw(q0 + j * present + i)
            i += 1
          }
          j += 1
        }
        plainValues(se.tpe, se.typeLen, buf, 0, buf.length, present)
      case e => fail(s"encoding $e")
    }
  }

  /** Forensic class for the decode taxonomy. */
  def decodeClass(b: Array[Byte]): String =
    if (!isParquet(b)) "not_parquet"
    else try { readOrThrow(b); "ok" }
    catch {
      case e: Err if e.getMessage.endsWith("profile") => "unsupported_profile"
      case _: RuntimeException => "corrupt"
    }
}
