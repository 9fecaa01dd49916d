package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

/** From-scratch Arrow IPC reader — the columnar interchange format of
  * the ML data ecosystem (Feather V2 files, Arrow streams, flight
  * dumps). Implements the documented wire layout (arrow.apache.org
  * Columnar.rst + the flatbuffers wire format): a minimal flatbuffers
  * walker (root offsets, vtables, scalar/table/vector/string/struct
  * fields, unions), encapsulated-message framing (continuation marker,
  * 8-byte padded metadata and body, both the pre-0.15 bare-length and
  * current continuation-marker forms — including SNIFFING legacy
  * streams, which start with a bare positive metadata length), the
  * FILE framing (ARROW1 magic, footer flatbuffer with its Block index)
  * and the STREAM framing (Schema message then DictionaryBatch /
  * RecordBatch messages to EOS), Schema/Field/Type tables, and
  * RecordBatch node + buffer assembly with LSB-first validity bitmaps
  * consumed in preorder across nested children.
  *
  * Column coverage — the shapes training-data tables actually use:
  * signed/unsigned Int 8/16/32/64, Float16/32/64 (halves widened
  * exactly), Bool, Utf8, Binary, LargeUtf8, LargeBinary,
  * FixedSizeBinary, Null, Decimal 64/128/256, Date (day/ms), Time
  * (32/64-bit, all units), Timestamp (all units, with or without
  * timezone), Duration, Interval (all three units), List, LargeList,
  * FixedSizeList, Struct, Map, sparse and dense Union (explicit
  * type-id tables; no validity buffer, per the layout spec),
  * RunEndEncoded (i16/i32/i64 run ends, any value type), the VIEW
  * family — Utf8View/BinaryView (16-byte views with inline-or-
  * variadic data via the batch's variadicBufferCounts — the
  * arrow-14+/polars string shape) and ListView/LargeListView
  * (offset+size pairs) — each nullable, arbitrarily nested — and
  * DICTIONARY-ENCODED fields (any index width/signedness, delta and
  * replacement dictionary batches), the dominant HF-dataset /
  * Feather string shape. RecordBatches with or without
  * BodyCompression (LZ4-frame and zstd buffer compression decode
  * through the [[Lz4]]/[[Zstd]] library adapters).
  * Named profile gaps, distinct from damage: big-endian schemas
  * (and, within the value model, u64 keeps its raw bits).
  *
  * Value model: integers widen to Long (u64 kept as the raw bits —
  * the type string says so), floats (halves included) to Double,
  * decimals to java.math.BigDecimal, date/time/timestamp/duration to
  * the raw Long in the unit named by the type string, intervals to a
  * Long (year-month) or an IndexedSeq of their fields, lists and
  * list-views to IndexedSeq[Any], structs to IndexedSeq[Any] in
  * declared child order, maps to an IndexedSeq of 2-element key/value
  * IndexedSeqs, unions to the selected child's value, run-end-encoded
  * columns to their expanded logical values.
  *
  * Pinned against the INDEPENDENT arrow-vector implementation on the
  * Spark classpath: ArrowFileWriter and ArrowStreamWriter bytes (both
  * framings, multiple batches, nulls, every subset type, dictionary
  * providers) must decode value-exactly here (the write side is the
  * interop pin; there is no from-scratch encoder).
  * Degrade-don't-throw; bomb caps: 1M rows/batch, 4096 columns,
  * 1<<26-byte buffers, 1M dictionary entries.
  */
object ArrowIpc {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  final case class ArrowTable(fieldNames: Array[String],
      fieldTypes: Array[String], rows: Array[Array[Any]])

  // ---- little-endian primitives -----------------------------------------

  private def u8(b: Array[Byte], i: Int): Int = {
    if (i < 0 || i >= b.length) fail("oob")
    b(i) & 0xFF
  }
  private def i16(b: Array[Byte], i: Int): Int =
    (u8(b, i) | (u8(b, i + 1) << 8)).toShort.toInt
  private def u16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def i32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  private def i64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | (b(i + k) & 0xFFL); k -= 1 }
    v
  }

  // ---- minimal flatbuffers walker -----------------------------------------

  /** A table position inside buffer `b`. Field lookup goes through the
    * vtable; 0 = field absent (default).
    */
  private final class Tab(val b: Array[Byte], val pos: Int) {
    private val vt = pos - i32(b, pos) // soffset: table -> vtable
    private val vtSize = u16(b, vt)
    /** Byte position of field `id`'s slot content, or 0 when absent. */
    def field(id: Int): Int = {
      val slot = 4 + id * 2
      if (slot + 2 > vtSize) return 0
      val off = u16(b, vt + slot)
      if (off == 0) 0 else pos + off
    }
    def byteF(id: Int, dflt: Int = 0): Int = {
      val f = field(id); if (f == 0) dflt else u8(b, f)
    }
    def shortF(id: Int, dflt: Int = 0): Int = {
      val f = field(id); if (f == 0) dflt else i16(b, f)
    }
    def intF(id: Int, dflt: Int = 0): Int = {
      val f = field(id); if (f == 0) dflt else i32(b, f)
    }
    def longF(id: Int, dflt: Long = 0L): Long = {
      val f = field(id); if (f == 0) dflt else i64(b, f)
    }
    def boolF(id: Int, dflt: Boolean = false): Boolean = {
      val f = field(id); if (f == 0) dflt else u8(b, f) != 0
    }
    def tableF(id: Int): Tab = {
      val f = field(id)
      if (f == 0) null else new Tab(b, f + i32(b, f))
    }
    def stringF(id: Int): String = {
      val f = field(id)
      if (f == 0) return null
      val s = f + i32(b, f)
      val n = i32(b, s)
      if (n < 0 || n > (1 << 26)) fail("fb string")
      new String(b, s + 4, n, UTF_8)
    }
    /** Vector start (position of element 0) and length. */
    def vectorF(id: Int): (Int, Int) = {
      val f = field(id)
      if (f == 0) return (0, 0)
      val v = f + i32(b, f)
      val n = i32(b, v)
      if (n < 0 || n > (1 << 22)) fail("fb vector")
      (v + 4, n)
    }
    def tableAt(vecStart: Int, idx: Int): Tab = {
      val p = vecStart + idx * 4
      new Tab(b, p + i32(b, p))
    }
  }

  private def root(b: Array[Byte], off: Int, len: Int): Tab = {
    if (len < 4) fail("fb root")
    new Tab(b, off + i32(b, off))
  }

  // ---- schema ----------------------------------------------------------

  /** One schema field as a recursive tree. `tpe` is the decoder kind;
    * `p1`/`p2` carry the type's parameters (decimal precision/scale,
    * time/timestamp/duration unit, fixed sizes, timezone presence).
    * `dictId` >= 0 marks a dictionary-encoded field whose record-batch
    * layout is the `idxTpe` index vector and whose VALUES (this node's
    * own type and children) arrive via DictionaryBatch messages.
    */
  private final case class Col(name: String, tpe: String, nullable: Boolean,
      children: Array[Col], p1: Int, p2: Int, dictId: Long, idxTpe: String,
      typeIds: Array[Int] = null) // union child type-id table

  private def intTypeName(t: Tab): String = {
    val bw = if (t == null) 0 else t.intF(0)
    val signed = t != null && t.boolF(1)
    if (!Set(8, 16, 32, 64)(bw)) fail("int width")
    (if (signed) "i" else "u") + bw
  }

  private val UnitNames = Array("s", "ms", "us", "ns")
  private def timeUnit(t: Tab, id: Int, dflt: Int): Int = {
    val u = if (t == null) dflt else t.shortF(id, dflt)
    if (u < 0 || u > 3) fail("time unit")
    u
  }

  private def parseField(f: Tab): Col = {
    val name = Option(f.stringF(0)).getOrElse("")
    val nullable = f.boolF(1)
    val tt = f.byteF(2) // Type union tag (Schema.fbs enum order)
    val t = f.tableF(3)
    val (kidsV, nKids) = f.vectorF(5)
    if (nKids > 4096) fail("field count")
    def kids(expect: Int): Array[Col] = {
      if (expect >= 0 && nKids != expect) fail("child count")
      Array.tabulate(nKids)(i => parseField(f.tableAt(kidsV, i)))
    }
    var p1 = 0
    var p2 = 0
    var typeIds: Array[Int] = null
    val (tpe, children) = tt match {
      case 1 => ("null", kids(0)) // Null: no buffers, all-null column
      case 2 => (intTypeName(t), kids(0))
      case 3 => // FloatingPoint
        ((if (t == null) 2 else t.shortF(0)) match {
          case 0 => "f16" // IEEE 754 half, widened to Double
          case 1 => "f32"
          case 2 => "f64"
          case _ => fail("float precision")
        }, kids(0))
      case 11 => // Interval
        p1 = if (t == null) 0 else t.shortF(0)
        if (p1 < 0 || p1 > 2) fail("interval unit")
        ("iv", kids(0))
      case 14 => // Union: mode + the child type-id table
        if (t == null) fail("union missing")
        p1 = t.shortF(0) // 0 = Sparse, 1 = Dense
        if (p1 < 0 || p1 > 1) fail("union mode")
        val ch = kids(-1)
        if (ch.isEmpty) fail("union children")
        val (idsV, nIds) = t.vectorF(1)
        typeIds =
          if (nIds == 0) Array.tabulate(ch.length)(identity)
          else {
            if (nIds != ch.length) fail("union ids")
            Array.tabulate(nIds)(i => i32(t.b, idsV + i * 4))
          }
        ("union", ch)
      case 22 => // RunEndEncoded: children = run_ends, values
        val ch = kids(2)
        if (!Set("i16", "i32", "i64")(ch(0).tpe)) fail("run ends type")
        ("ree", ch)
      case 23 => ("binview", kids(0))
      case 24 => ("utf8view", kids(0))
      case 25 => ("listview", kids(1))
      case 26 => ("largelistview", kids(1))
      case 4 => ("bin", kids(0))  // Binary
      case 5 => ("utf8", kids(0)) // Utf8
      case 6 => ("bool", kids(0))
      case 7 => // Decimal: bitWidth defaults to 128 in Schema.fbs
        if (t == null) fail("decimal missing")
        p1 = t.intF(0); p2 = t.intF(1)
        if (p1 < 0 || p1 > 76) fail("decimal precision")
        (t.intF(2, 128) match {
          case 64  => "dec64"
          case 128 => "dec128"
          case 256 => "dec256"
          case _   => fail("decimal width")
        }, kids(0))
      case 8 => // Date
        ((if (t == null) 0 else t.shortF(0)) match {
          case 0 => "date32" // days
          case 1 => "date64" // millis
          case _ => fail("date unit")
        }, kids(0))
      case 9 => // Time: bitWidth defaults to 32
        p1 = timeUnit(t, 0, 1)
        ((if (t == null) 32 else t.intF(1, 32)) match {
          case 32 => "time32"
          case 64 => "time64"
          case _  => fail("time width")
        }, kids(0))
      case 10 => // Timestamp
        p1 = timeUnit(t, 0, 0)
        p2 = if (t != null && t.stringF(1) != null) 1 else 0
        ("ts", kids(0))
      case 12 => ("list", kids(1))
      case 13 => ("struct", kids(-1))
      case 15 => // FixedSizeBinary
        if (t == null) fail("fsb missing")
        p1 = t.intF(0)
        if (p1 < 0 || p1 > (1 << 20)) fail("fsb width")
        ("fsb", kids(0))
      case 16 => // FixedSizeList
        if (t == null) fail("fsl missing")
        p1 = t.intF(0)
        if (p1 < 0 || p1 > (1 << 20)) fail("fsl size")
        ("fsl", kids(1))
      case 17 => ("map", kids(1)) // child: the entries struct
      case 18 => // Duration
        p1 = timeUnit(t, 0, 1)
        ("dur", kids(0))
      case 19 => ("largebin", kids(0))
      case 20 => ("largeutf8", kids(0))
      case 21 => ("largelist", kids(1))
      case _ => fail("type profile") // unknown/future union tags
    }
    if (tpe == "map") {
      val e = children(0)
      if (e.tpe != "struct" || e.children.length != 2)
        fail(s"map entries ${e.tpe}/${e.children.length}")
    }
    val de = f.tableF(4)
    var dictId = -1L
    var idxTpe = "i32"
    if (de != null) {
      dictId = de.longF(0)
      if (dictId < 0) fail("dict id")
      val it = de.tableF(1)
      if (it != null) idxTpe = intTypeName(it)
      if (de.shortF(3) != 0) fail("dict kind profile") // only DenseArray
    }
    Col(name, tpe, nullable, children, p1, p2, dictId, idxTpe, typeIds)
  }

  private def parseSchema(s: Tab): Array[Col] = {
    if (s.shortF(0) != 0) fail("big-endian profile")
    val (vec, n) = s.vectorF(1)
    if (n < 0 || n > 4096) fail("field count")
    Array.tabulate(n)(i => parseField(s.tableAt(vec, i)))
  }

  /** Human/type-string form of a field tree (ArrowTable.fieldTypes). */
  private def typeString(c: Col): String = {
    val base = c.tpe match {
      case "list" | "largelist" | "listview" | "largelistview" =>
        s"${c.tpe}<${typeString(c.children(0))}>"
      case "fsl" => s"fsl(${c.p1})<${typeString(c.children(0))}>"
      case "fsb" => s"fsb(${c.p1})"
      case "struct" =>
        c.children.map(k => k.name + ":" + typeString(k))
          .mkString("struct<", ",", ">")
      case "map" =>
        val e = c.children(0)
        s"map<${typeString(e.children(0))},${typeString(e.children(1))}>"
      case "dec64" | "dec128" | "dec256" => s"${c.tpe}(${c.p1},${c.p2})"
      case "ts" => "ts_" + UnitNames(c.p1) + (if (c.p2 == 1) "_tz" else "")
      case "time32" | "time64" => c.tpe + "_" + UnitNames(c.p1)
      case "dur" => "dur_" + UnitNames(c.p1)
      case "iv" => "iv_" + Seq("ym", "dt", "mdn")(c.p1)
      case "union" =>
        c.children.map(typeString).mkString(
          if (c.p1 == 1) "dense_union<" else "union<", ",", ">")
      case "ree" => s"ree<${typeString(c.children(1))}>"
      case t => t
    }
    if (c.dictId >= 0) s"dict<$base>" else base
  }

  /** Every dictionary id reachable in the schema, mapped to its VALUE
    * column (the field's own type tree with the encoding stripped) —
    * what a DictionaryBatch for that id contains. Nested fields can be
    * dictionary-encoded too, so the walk recurses.
    */
  private def dictValueCols(cols: Array[Col]): Map[Long, Col] = {
    val m = scala.collection.mutable.Map.empty[Long, Col]
    def walk(c: Col): Unit = {
      if (c.dictId >= 0) m(c.dictId) = c.copy(dictId = -1L)
      c.children.foreach(walk)
    }
    cols.foreach(walk)
    m.toMap
  }

  // ---- record batch ----------------------------------------------------

  private def bitSet(validity: Array[Byte], row: Int): Boolean =
    (validity(row >> 3) & (1 << (row & 7))) != 0

  /** Decode a RecordBatch message body against `cols`: one preorder
    * walk consuming FieldNodes and Buffers exactly as the writer laid
    * them out (parent, then children, depth-first). Returns the batch
    * row count and one value array per TOP-LEVEL column. Every node
    * and buffer must be consumed — a count mismatch is damage.
    */
  private def decodeColumns(meta: Tab, body: Array[Byte], cols: Array[Col],
      dicts: scala.collection.Map[Long, Array[Any]]): (Int, Array[Array[Any]]) = {
    val nRows = meta.longF(0)
    if (nRows < 0 || nRows > (1 << 20)) fail("row bomb")
    // BodyCompression (codec 0 = LZ4 frame, 1 = zstd; method BUFFER):
    // each body buffer is [int64 LE uncompressed length][compressed
    // bytes], -1 marking a raw passthrough buffer — decoded through
    // the Lz4/Zstd library adapters.
    val codec: Int = meta.tableF(3) match {
      case null => -1
      case bc =>
        if (bc.byteF(1) != 0) fail("compression method profile")
        bc.byteF(0) match {
          case c @ (0 | 1) => c
          case _           => fail("compression profile")
        }
    }
    val (nodesV, nNodes) = meta.vectorF(1)   // FieldNode structs: 16 B
    val (bufsV, nBufs) = meta.vectorF(2)     // Buffer structs: 16 B
    // one entry per Utf8View/BinaryView vector, in preorder: how many
    // variadic data buffers that vector owns (RecordBatch field 4)
    val (variadicV, nVariadic) = meta.vectorF(4)
    var variadicIdx = 0
    def nextVariadicCount(): Int = {
      if (variadicIdx >= nVariadic) fail("variadic count")
      val v = i64(meta.b, variadicV + variadicIdx * 8)
      variadicIdx += 1
      if (v < 0 || v > 4096) fail("variadic bomb")
      v.toInt
    }
    var nodeIdx = 0
    def nextNode(): (Int, Long) = {
      if (nodeIdx >= nNodes) fail("node count")
      val p = nodesV + nodeIdx * 16
      nodeIdx += 1
      val len = i64(meta.b, p)
      if (len < 0 || len > (1 << 20)) fail("node bomb")
      (len.toInt, i64(meta.b, p + 8))
    }
    var bufIdx = 0
    def nextBuf(): (Long, Long) = {
      if (bufIdx >= nBufs) fail("buffer count")
      val p = bufsV + bufIdx * 16
      bufIdx += 1
      (i64(meta.b, p), i64(meta.b, p + 8))
    }
    def slice(off: Long, len: Long): Array[Byte] = {
      if (off < 0 || len < 0 || len > (1 << 26) || off + len > body.length)
        fail("buffer bounds")
      val raw = java.util.Arrays.copyOfRange(body, off.toInt, (off + len).toInt)
      if (codec < 0 || raw.length == 0) return raw
      if (raw.length < 8) fail("compressed buffer short")
      val unLen = i64(raw, 0)
      val payload = java.util.Arrays.copyOfRange(raw, 8, raw.length)
      if (unLen == -1L) return payload // stored raw (already-small buffer)
      if (unLen < 0 || unLen > (1 << 26)) fail("uncompressed bounds")
      val out = codec match {
        case 0 => Lz4.decode(payload, unLen + 1)
        case _ => Zstd.decode(payload)
      }
      if (out == null || out.length != unLen) fail("buffer codec")
      out
    }
    def nextSlice(): Array[Byte] = { val (o, l) = nextBuf(); slice(o, l) }

    /** Little-endian two's-complement fixed-width decimal words. */
    def decimal(data: Array[Byte], r: Int, width: Int, scale: Int): Any = {
      val le = java.util.Arrays.copyOfRange(data, r * width, (r + 1) * width)
      val be = new Array[Byte](width)
      var k = 0
      while (k < width) { be(k) = le(width - 1 - k); k += 1 }
      new java.math.BigDecimal(new java.math.BigInteger(be), scale)
    }

    /** IEEE 754 binary16 widened exactly to Double. */
    def half(bits: Int): Double = {
      val sign = if ((bits & 0x8000) != 0) -1.0 else 1.0
      val exp = (bits >> 10) & 0x1F
      val man = bits & 0x3FF
      sign * (exp match {
        case 0    => man * 5.9604644775390625e-8 // subnormal: man * 2^-24
        case 0x1F => if (man == 0) Double.PositiveInfinity else Double.NaN
        case _    => (1.0 + man / 1024.0) * math.pow(2.0, exp - 15)
      })
    }

    /** Fixed-width primitive reader for kind `tpe` at row r. */
    def prim(tpe: String, data: Array[Byte], r: Int): Any = tpe match {
      case "i8"     => u8(data, r).toByte.toLong
      case "u8"     => u8(data, r).toLong
      case "i16"    => i16(data, r * 2).toLong
      case "u16"    => u16(data, r * 2).toLong
      case "i32" | "date32" | "time32" => i32(data, r * 4).toLong
      case "u32"    => i32(data, r * 4) & 0xFFFFFFFFL
      case "i64" | "date64" | "time64" | "ts" | "dur" => i64(data, r * 8)
      case "u64"    => i64(data, r * 8) // raw bits; type string says u64
      case "f16"    => half(u16(data, r * 2))
      case "f32"    => java.lang.Float.intBitsToFloat(i32(data, r * 4)).toDouble
      case "f64"    => java.lang.Double.longBitsToDouble(i64(data, r * 8))
      case _        => fail("width")
    }
    def primWidth(tpe: String): Int = tpe match {
      case "i8" | "u8"                           => 1
      case "i16" | "u16" | "f16"                 => 2
      case "i32" | "u32" | "f32" | "date32" | "time32" => 4
      case _                                     => 8
    }

    /** One vector in preorder; returns its values (length = its node's
      * own length — children may be longer than their parent).
      */
    def decodeVec(c: Col): Array[Any] = {
      val (n, _) = nextNode()
      if (c.dictId < 0) c.tpe match {
        case "null" =>
          return Array.fill[Any](n)(null) // Null layout: no buffers at all
        case "union" =>
          // unions carry NO validity buffer (§ union layout): a types
          // buffer, plus offsets when dense; nullability lives in the
          // selected child
          val types = nextSlice()
          if (types.length < n) fail("union types short")
          val dense = c.p1 == 1
          val offs = if (dense) nextSlice() else null
          if (dense && offs.length < n.toLong * 4) fail("union offsets short")
          val kids = c.children.map(decodeVec)
          if (!dense) kids.foreach(k => if (k.length < n) fail("union child short"))
          val childOf = new java.util.HashMap[Int, Int]()
          c.typeIds.zipWithIndex.foreach { case (tid, k) => childOf.put(tid, k) }
          return Array.tabulate[Any](n) { r =>
            val k = childOf.getOrDefault(types(r).toInt, -1)
            if (k < 0) fail("union type id")
            val row = if (dense) i32(offs, r * 4) else r
            if (row < 0 || row >= kids(k).length) fail("union offset")
            kids(k)(row)
          }
        case "ree" =>
          // run-end-encoded: no buffers of its own — two child vectors
          // (run ends, values) with their own PHYSICAL lengths; expand
          // to the logical length
          val ends = decodeVec(c.children(0))
          val values = decodeVec(c.children(1))
          if (values.length < ends.length) fail("ree values short")
          val out = new Array[Any](n)
          var r = 0
          var k = 0
          while (r < n) {
            while (k < ends.length && (ends(k) match {
              case e: Long => e <= r
              case _       => fail("ree end type")
            })) k += 1
            if (k >= ends.length) fail("ree runs short")
            out(r) = values(k)
            r += 1
          }
          return out
        case _ => ()
      }
      val validity = nextSlice()
      def valid(r: Int): Boolean =
        validity.length == 0 ||
          (validity.length > (r >> 3) && bitSet(validity, r))
      if (c.dictId >= 0) {
        // the record-batch layout of a dict-encoded field is its INDEX
        // vector; values come from the delivered dictionary
        val data = nextSlice()
        val w = primWidth(c.idxTpe)
        if (data.length < n.toLong * w) fail("data short")
        val dict = dicts.getOrElse(c.dictId, fail("dict missing"))
        return Array.tabulate[Any](n) { r =>
          if (!valid(r)) null
          else {
            val k = prim(c.idxTpe, data, r) match {
              case v: Long => v
              case _       => fail("dict index type")
            }
            if (k < 0 || k >= dict.length) fail("dict index")
            dict(k.toInt)
          }
        }
      }
      c.tpe match {
        case "utf8" | "bin" | "largeutf8" | "largebin" =>
          val offs = nextSlice()
          val data = nextSlice()
          val ow = if (c.tpe.startsWith("large")) 8 else 4
          // post-slice: slice() may have DECOMPRESSED the buffer
          if (offs.length < (n + 1).toLong * ow && n > 0) fail("offsets short")
          def off(r: Int): Long =
            if (ow == 4) i32(offs, r * 4).toLong else i64(offs, r * 8)
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else {
              val a = off(r); val b2 = off(r + 1)
              if (a < 0 || b2 < a || b2 > data.length) fail("offset bounds")
              if (c.tpe.endsWith("utf8"))
                new String(data, a.toInt, (b2 - a).toInt, UTF_8)
              else java.util.Arrays.copyOfRange(data, a.toInt, b2.toInt)
            }
          }
        case "bool" =>
          val data = nextSlice()
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else data.length > (r >> 3) && bitSet(data, r)
          }
        case "fsb" =>
          val data = nextSlice()
          if (data.length < n.toLong * c.p1) fail("data short")
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else java.util.Arrays.copyOfRange(data, r * c.p1, (r + 1) * c.p1)
          }
        case "dec64" | "dec128" | "dec256" =>
          val data = nextSlice()
          val w = c.tpe match { case "dec64" => 8; case "dec128" => 16; case _ => 32 }
          if (data.length < n.toLong * w) fail("data short")
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null else decimal(data, r, w, c.p2)
          }
        case "struct" =>
          // validity only, then each child vector in order; children
          // carry their own nodes and must cover at least n rows
          val kids = c.children.map(decodeVec)
          kids.foreach(k => if (k.length < n) fail("struct child short"))
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else scala.collection.immutable.ArraySeq.unsafeWrapArray(
              Array.tabulate[Any](kids.length)(k => kids(k)(r)))
          }
        case "list" | "largelist" | "map" =>
          val offs = nextSlice()
          val ow = if (c.tpe == "largelist") 8 else 4
          if (offs.length < (n + 1).toLong * ow && n > 0) fail("offsets short")
          def off(r: Int): Long =
            if (ow == 4) i32(offs, r * 4).toLong else i64(offs, r * 8)
          val child = decodeVec(c.children(0))
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else {
              val a = off(r); val b2 = off(r + 1)
              if (a < 0 || b2 < a || b2 > child.length) fail("offset bounds")
              scala.collection.immutable.ArraySeq.unsafeWrapArray(
                java.util.Arrays.copyOfRange(
                  child.asInstanceOf[Array[AnyRef]], a.toInt, b2.toInt)
                  .asInstanceOf[Array[Any]])
            }
          }
        case "fsl" =>
          val child = decodeVec(c.children(0))
          if (child.length < n.toLong * c.p1) fail("fsl child short")
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else scala.collection.immutable.ArraySeq.unsafeWrapArray(
              java.util.Arrays.copyOfRange(
                child.asInstanceOf[Array[AnyRef]], r * c.p1, (r + 1) * c.p1)
                .asInstanceOf[Array[Any]])
          }
        case "utf8view" | "binview" =>
          // view layout: 16-byte views (length, then inline data OR
          // prefix + variadic-buffer index + offset), plus N variadic
          // data buffers announced by the batch's variadicBufferCounts
          val views = nextSlice()
          if (views.length < n.toLong * 16) fail("views short")
          val dataBufs = Array.fill(nextVariadicCount())(nextSlice())
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else {
              val len = i32(views, r * 16)
              if (len < 0 || len > (1 << 26)) fail("view length")
              val bytes =
                if (len <= 12)
                  java.util.Arrays.copyOfRange(views, r * 16 + 4, r * 16 + 4 + len)
                else {
                  val bi = i32(views, r * 16 + 8)
                  val off = i32(views, r * 16 + 12)
                  if (bi < 0 || bi >= dataBufs.length) fail("view buffer")
                  val db = dataBufs(bi)
                  if (off < 0 || off.toLong + len > db.length) fail("view bounds")
                  java.util.Arrays.copyOfRange(db, off, off + len)
                }
              if (c.tpe == "utf8view") new String(bytes, UTF_8) else bytes
            }
          }
        case "listview" | "largelistview" =>
          // offsets AND sizes buffers; child ranges may overlap or sit
          // out of order — each row slices [off, off+size)
          val ow = if (c.tpe == "largelistview") 8 else 4
          val offs = nextSlice()
          val sizes = nextSlice()
          if ((offs.length < n.toLong * ow || sizes.length < n.toLong * ow) && n > 0)
            fail("listview buffers short")
          def at(buf: Array[Byte], r: Int): Long =
            if (ow == 4) i32(buf, r * 4).toLong else i64(buf, r * 8)
          val child = decodeVec(c.children(0))
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else {
              val a = at(offs, r)
              val sz = at(sizes, r)
              if (a < 0 || sz < 0 || a + sz > child.length) fail("listview bounds")
              scala.collection.immutable.ArraySeq.unsafeWrapArray(
                java.util.Arrays.copyOfRange(
                  child.asInstanceOf[Array[AnyRef]], a.toInt, (a + sz).toInt)
                  .asInstanceOf[Array[Any]])
            }
          }
        case "iv" =>
          val data = nextSlice()
          val w = c.p1 match { case 0 => 4; case 1 => 8; case _ => 16 }
          if (data.length < n.toLong * w) fail("data short")
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null
            else c.p1 match {
              case 0 => i32(data, r * 4).toLong // months
              case 1 => // days + milliseconds
                Seq(i32(data, r * 8).toLong, i32(data, r * 8 + 4).toLong)
              case _ => // months + days + nanoseconds
                Seq(i32(data, r * 16).toLong, i32(data, r * 16 + 4).toLong,
                  i64(data, r * 16 + 8))
            }
          }
        case other =>
          val data = nextSlice()
          val width = primWidth(other)
          if (data.length < n.toLong * width) fail("data short")
          Array.tabulate[Any](n) { r =>
            if (!valid(r)) null else prim(other, data, r)
          }
      }
    }

    val n = nRows.toInt
    val colVals = cols.map { c =>
      val v = decodeVec(c)
      if (v.length != n) fail("column length")
      v
    }
    if (nodeIdx != nNodes) fail("node count")
    if (bufIdx != nBufs) fail("buffer count")
    (n, colVals)
  }

  /** Decode one RecordBatch message against `cols`; appends rows. */
  private def decodeBatch(meta: Tab, body: Array[Byte], cols: Array[Col],
      dicts: scala.collection.Map[Long, Array[Any]],
      rows: scala.collection.mutable.ArrayBuffer[Array[Any]]): Unit = {
    val (n, colVals) = decodeColumns(meta, body, cols, dicts)
    var r = 0
    while (r < n) {
      rows += Array.tabulate[Any](cols.length)(ci => colVals(ci)(r))
      r += 1
    }
  }

  // ---- message framing ---------------------------------------------------

  /** Read one encapsulated message at `p`: (Message table, body slice,
    * next position); null message on EOS. Handles both the current
    * continuation-marker framing and the pre-0.15 bare-length framing.
    */
  private def message(b: Array[Byte], p0: Int): (Tab, Array[Byte], Int) = {
    var p = p0
    if (p + 4 > b.length) fail("eof")
    var metaLen = i32(b, p)
    p += 4
    if (metaLen == -1) { // continuation marker, current framing
      if (p + 4 > b.length) fail("eof")
      metaLen = i32(b, p)
      p += 4
    }
    if (metaLen == 0) return (null, null, p) // EOS
    if (metaLen < 0 || metaLen > (1 << 24) || p + metaLen > b.length)
      fail("meta bounds")
    val msg = root(b, p, metaLen)
    p += metaLen
    val bodyLen = msg.longF(3)
    if (bodyLen < 0 || bodyLen > (1 << 26) || p + bodyLen > b.length)
      fail("body bounds")
    val body = java.util.Arrays.copyOfRange(b, p, (p + bodyLen).toInt)
    p += bodyLen.toInt
    // bodies are 8-byte padded on the wire; bodyLength already includes
    // the writer's padding in every arrow-vector version we pin against
    (msg, body, p)
  }

  def isArrowFile(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && b(0) == 'A' && b(1) == 'R' &&
      b(2) == 'R' && b(3) == 'O' && b(4) == 'W' && b(5) == '1' &&
      b(6) == 0 && b(7) == 0

  /** Pre-0.15 streams start with a BARE positive metadata length (no
    * continuation marker), so a weak length check alone would claim
    * arbitrary blobs — a legacy stream is recognized only when the
    * first message actually parses as a Schema.
    */
  private def isLegacyStream(b: Array[Byte]): Boolean = {
    val ml = i32(b, 0)
    if (ml <= 0 || ml > (1 << 24) || 4L + ml > b.length) return false
    try {
      val msg = root(b, 4, ml)
      if (msg.byteF(1) != 1) return false // header type must be Schema
      val h = msg.tableF(2)
      h != null && { parseSchema(h); true }
    } catch { case _: RuntimeException => false }
  }

  def isArrowStream(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && !isArrowFile(b) &&
      ((i32(b, 0) == -1 && i32(b, 4) > 0) || isLegacyStream(b))

  /** As [[read]] but surfacing the failure reason (spec diagnostics). */
  private[graft] def readOrThrow(b: Array[Byte]): ArrowTable =
    if (isArrowFile(b)) readMessages(b, 8, fileEnd(b))
    else if (isArrowStream(b)) readMessages(b, 0, b.length)
    else fail("not arrow")

  /** Read an Arrow IPC FILE or STREAM; null on damage/profile gap. */
  def read(b: Array[Byte]): ArrowTable = try {
    readOrThrow(b)
  } catch {
    case _: Err => null
    case _: RuntimeException => null
  }

  /** The byte just past the last encapsulated message in FILE framing
    * (start of the footer flatbuffer), located from the trailer.
    */
  private def fileEnd(b: Array[Byte]): Int = {
    if (b.length < 8 + 10) fail("file short")
    val tail = b.length - 6
    if (new String(b, tail, 6, UTF_8) != "ARROW1") fail("trailer magic")
    val footerLen = i32(b, tail - 4)
    if (footerLen < 0 || footerLen > tail - 4 - 8) fail("footer len")
    tail - 4 - footerLen
  }

  private def readMessages(b: Array[Byte], start: Int, end: Int): ArrowTable = {
    var p = start
    var cols: Array[Col] = null
    var dictCols: Map[Long, Col] = Map.empty
    val dicts = scala.collection.mutable.Map.empty[Long, Array[Any]]
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    var guard = 0
    while (p < end && guard < (1 << 20)) {
      guard += 1
      val (msg, body, next) = message(b, p)
      p = next
      if (msg == null) p = end // EOS
      else {
        val headerType = msg.byteF(1)
        val header = msg.tableF(2)
        headerType match {
          case 1 => // Schema
            if (header == null) fail("schema missing")
            cols = parseSchema(header)
            dictCols = dictValueCols(cols)
          case 2 => // DictionaryBatch: id + a 1-column RecordBatch of values
            if (cols == null) fail("dict before schema")
            if (header == null) fail("dict missing")
            val id = header.longF(0)
            val data = header.tableF(1)
            if (data == null) fail("dict data missing")
            val vc = dictCols.getOrElse(id, fail("dict id unknown"))
            val (_, vals) = decodeColumns(data, body, Array(vc), dicts)
            val fresh = vals(0)
            val merged =
              if (header.boolF(2)) // isDelta: append to what's delivered
                dicts.getOrElse(id, Array.empty[Any]) ++ fresh
              else fresh // replacement (or first delivery)
            if (merged.length > (1 << 20)) fail("dict bomb")
            dicts(id) = merged
          case 3 => // RecordBatch
            if (cols == null) fail("batch before schema")
            if (header == null) fail("batch missing")
            decodeBatch(header, body, cols, dicts, rows)
          case _ => () // Tensor/SparseTensor messages: skip
        }
      }
    }
    if (cols == null) fail("no schema")
    ArrowTable(cols.map(_.name), cols.map(typeString), rows.toArray)
  }

  /** Forensic class for the decode taxonomy. */
  def decodeClass(b: Array[Byte]): String =
    if (!isArrowFile(b) && !isArrowStream(b)) "not_arrow"
    else try {
      readMessages(b, if (isArrowFile(b)) 8 else 0,
        if (isArrowFile(b)) fileEnd(b) else b.length)
      "ok"
    } catch {
      case e: Err if e.getMessage.endsWith("profile") => "unsupported_profile"
      case _: RuntimeException => "corrupt"
    }
}
