package graft.operators

/** From-scratch Avro OBJECT CONTAINER FILE reader — the row format
  * Hadoop-era training corpora and Kafka dumps ship in. Reads the
  * documented layout (avro.apache.org spec): magic `Obj\1`, the
  * file-metadata map (avro.schema JSON + avro.codec), the 16-byte
  * sync marker, then blocks of (record count, byte size, codec-
  * compressed data, sync) with the sync VERIFIED per block.
  *
  * Schema: a root record of primitives (boolean, int, long, float,
  * double, string, bytes), nullable unions, and — since r11 — the
  * FULL nested shape set: records at any depth, arrays and maps
  * (block-encoded with negative-count byte-size prefixes), enums,
  * fixed, arbitrary unions, and named-type references (with logical
  * types passing through as their base). Codecs — every one the
  * reference implementation registers: null, deflate (raw, via the
  * JDK), snappy (the from-scratch [[Snappy]] plus the 4-byte BE
  * CRC32 suffix Avro appends), zstandard (via [[Zstd]]), bzip2 (via
  * [[Bzip2]]), xz (via [[Xz]]). Other schema shapes and unregistered
  * codec names stay named profile gaps, not damage.
  *
  * Values decode per the binary encoding: zigzag varints for
  * int/long, LE IEEE for float/double, length-prefixed bytes/string,
  * union index then value. Pinned BOTH directions against the real
  * Avro implementation on the classpath (DataFileWriter streams read
  * here; [[synthAvro]] streams read back through DataFileReader).
  * Degrade-don't-throw: null on damage.
  */
object Avro {

  final case class AvroFile(fieldNames: Array[String],
      fieldTypes: Array[String], rows: Array[Array[Any]])

  /** One decoded nested record value. */
  final case class ARec(fields: Vector[(String, Any)]) {
    def get(name: String): Any =
      fields.find(_._1 == name).map(_._2).orNull
  }

  // ---- schema ----------------------------------------------------------

  private val Primitives = Set("null", "boolean", "int", "long", "float",
    "double", "string", "bytes")

  private sealed trait AType
  private final case class APrim(name: String) extends AType
  private final case class ARecordT(fields: Vector[(String, AType)]) extends AType
  private final case class AArrayT(elem: AType) extends AType
  private final case class AMapT(value: AType) extends AType
  private final case class AEnumT(symbols: Vector[String]) extends AType
  private final case class AFixedT(size: Int) extends AType
  private final case class AUnionT(branches: Vector[AType]) extends AType

  private final class SchemaErr extends RuntimeException(
    "schema", null, false, false)

  /** Recursive schema parse (records, arrays, maps, enums, fixed,
    * arbitrary unions, named-type references; logical types pass
    * through as their base). Registry maps fullnames to defined
    * named types.
    */
  private def parseType(v: Any,
      reg: scala.collection.mutable.LinkedHashMap[String, AType],
      depth: Int): AType = {
    if (depth > 32) throw new SchemaErr
    v match {
      case s: String =>
        if (Primitives(s)) APrim(s)
        else reg.getOrElse(s, throw new SchemaErr)
      case a: scala.collection.mutable.ArrayBuffer[_] =>
        if (a.isEmpty) throw new SchemaErr
        AUnionT(a.map(parseType(_, reg, depth + 1)).toVector)
      case m0: scala.collection.mutable.LinkedHashMap[_, _] =>
        val m = m0.asInstanceOf[
          scala.collection.mutable.LinkedHashMap[String, Any]]
        m.getOrElse("type", null) match {
          case "record" | "error" =>
            val fields = m.getOrElse("fields", null) match {
              case fa: scala.collection.mutable.ArrayBuffer[_] => fa
              case _ => throw new SchemaErr
            }
            val fs = scala.collection.mutable.ArrayBuffer.empty[(String, AType)]
            // names register AFTER the body parses: self-recursive
            // references (legal in avro, but unterminating to decode
            // eagerly) fail the parse instead of looping
            fields.foreach {
              case f0: scala.collection.mutable.LinkedHashMap[_, _] =>
                val f = f0.asInstanceOf[
                  scala.collection.mutable.LinkedHashMap[String, Any]]
                val n = f.getOrElse("name", null) match {
                  case s: String => s
                  case _ => throw new SchemaErr
                }
                fs += ((n, parseType(f.getOrElse("type", null), reg,
                  depth + 1)))
              case _ => throw new SchemaErr
            }
            val t = ARecordT(fs.toVector)
            register(m, reg, t)
            t
          case "enum" =>
            val syms = m.getOrElse("symbols", null) match {
              case sa: scala.collection.mutable.ArrayBuffer[_] =>
                sa.collect { case s: String => s }.toVector
              case _ => throw new SchemaErr
            }
            if (syms.isEmpty) throw new SchemaErr
            val t = AEnumT(syms)
            register(m, reg, t)
            t
          case "fixed" =>
            val size = m.getOrElse("size", null) match {
              case d: Double if d >= 0 && d <= (1 << 24) => d.toInt
              case _ => throw new SchemaErr
            }
            val t = AFixedT(size)
            register(m, reg, t)
            t
          case "array" =>
            AArrayT(parseType(m.getOrElse("items", null), reg, depth + 1))
          case "map" =>
            AMapT(parseType(m.getOrElse("values", null), reg, depth + 1))
          case s: String if Primitives(s) => APrim(s) // logical types
          case s: String => reg.getOrElse(s, throw new SchemaErr)
          case _ => throw new SchemaErr
        }
      case _ => throw new SchemaErr
    }
  }

  /** Register a named type under both its short and full names —
    * references in real schemas (iceberg manifests included) use
    * either form.
    */
  private def register(m: scala.collection.mutable.LinkedHashMap[String, Any],
      reg: scala.collection.mutable.LinkedHashMap[String, AType],
      t: AType): Unit =
    m.getOrElse("name", null) match {
      case n: String =>
        reg(n) = t
        m.getOrElse("namespace", null) match {
          case ns: String if !n.contains('.') => reg(ns + "." + n) = t
          case _ => ()
        }
      case _ => ()
    }

  /** Rendered field type: flat primitives keep their historical
    * strings ("long", "string?"), nested shapes render recursively.
    */
  private def typeString(t: AType): String = t match {
    case APrim(n) => n
    case AUnionT(Vector(APrim("null"), x)) => typeString(x) + "?"
    case AUnionT(Vector(x, APrim("null"))) => typeString(x) + "?"
    case AUnionT(bs) => "union<" + bs.map(typeString).mkString(",") + ">"
    case ARecordT(fs) =>
      "record<" + fs.map { case (n, ft) => n + ":" + typeString(ft) }
        .mkString(",") + ">"
    case AArrayT(e) => "array<" + typeString(e) + ">"
    case AMapT(v) => "map<" + typeString(v) + ">"
    case AEnumT(_) => "enum"
    case AFixedT(n) => s"fixed($n)"
  }

  /** Root record parse; null when the schema is outside the subset
    * (non-record root, empty root, malformed).
    */
  private def parseSchema(json: String): (Array[String], Array[AType]) = try {
    val root = MiniJson.parse(json)
    val reg = scala.collection.mutable.LinkedHashMap.empty[String, AType]
    parseType(root, reg, 0) match {
      case ARecordT(fields) if fields.nonEmpty =>
        (fields.map(_._1).toArray, fields.map(_._2).toArray)
      case _ => null // zero-byte or non-record roots: out of subset
    }
  } catch { case _: RuntimeException => null }

  // ---- binary decoding -------------------------------------------------

  private final class Bin(val b: Array[Byte]) {
    var p = 0
    def varlong(): Long = { // zigzag
      var v = 0L
      var shift = 0
      while (true) {
        if (p >= b.length || shift > 63)
          throw new IllegalArgumentException("varint")
        val c = b(p) & 0xFF
        p += 1
        v |= (c & 0x7FL) << shift
        shift += 7
        if ((c & 0x80) == 0) return (v >>> 1) ^ -(v & 1)
      }
      0L
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || p + n > b.length)
        throw new IllegalArgumentException("bytes")
      val r = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      r
    }
    /** Validate a 64-bit length against the remaining buffer BEFORE the
      * Int narrowing: a damaged length like 2^32+5 would otherwise
      * truncate to 5 and mis-read a corrupt block instead of failing.
      */
    def len(n: Long): Int = {
      if (n < 0 || n > b.length - p)
        throw new IllegalArgumentException("len")
      n.toInt
    }
    def varlen(): Int = len(varlong())
  }

  private def readValue(in: Bin, tpe: AType, depth: Int): Any = {
    if (depth > 48) throw new IllegalArgumentException("depth")
    tpe match {
      case APrim(p) => p match {
        case "null" => null
        case "boolean" =>
          val v = in.bytes(1)(0)
          if (v != 0 && v != 1) throw new IllegalArgumentException("bool")
          v == 1
        case "int" | "long" => in.varlong()
        case "float" =>
          val r = in.bytes(4)
          java.lang.Float.intBitsToFloat((r(0) & 0xFF) | ((r(1) & 0xFF) << 8) |
            ((r(2) & 0xFF) << 16) | ((r(3) & 0xFF) << 24)).toDouble
        case "double" =>
          val r = in.bytes(8)
          var bits = 0L
          for (i <- 0 until 8) bits |= (r(i) & 0xFFL) << (8 * i)
          java.lang.Double.longBitsToDouble(bits)
        case "string" =>
          new String(in.bytes(in.varlen()),
            java.nio.charset.StandardCharsets.UTF_8)
        case _ => in.bytes(in.varlen()) // bytes
      }
      case ARecordT(fields) =>
        ARec(fields.map { case (n, ft) =>
          n -> readValue(in, ft, depth + 1)
        })
      case AArrayT(elem) =>
        val out = Vector.newBuilder[Any]
        var total = 0L
        var n = in.varlong()
        while (n != 0) {
          val cnt = if (n < 0) { in.varlong(); -n } else n
          total += cnt
          if (total > (1L << 24)) throw new IllegalArgumentException("array bomb")
          var i = 0L
          while (i < cnt) { out += readValue(in, elem, depth + 1); i += 1 }
          n = in.varlong()
        }
        out.result()
      case AMapT(value) =>
        val out = Vector.newBuilder[(String, Any)]
        var total = 0L
        var n = in.varlong()
        while (n != 0) {
          val cnt = if (n < 0) { in.varlong(); -n } else n
          total += cnt
          if (total > (1L << 24)) throw new IllegalArgumentException("map bomb")
          var i = 0L
          while (i < cnt) {
            val k = new String(in.bytes(in.varlen()),
              java.nio.charset.StandardCharsets.UTF_8)
            out += (k -> readValue(in, value, depth + 1))
            i += 1
          }
          n = in.varlong()
        }
        out.result()
      case AEnumT(symbols) =>
        val idx = in.varlong()
        if (idx < 0 || idx >= symbols.length)
          throw new IllegalArgumentException("enum")
        symbols(idx.toInt)
      case AFixedT(size) => in.bytes(size)
      case AUnionT(branches) =>
        val idx = in.varlong()
        if (idx < 0 || idx >= branches.length)
          throw new IllegalArgumentException("union")
        readValue(in, branches(idx.toInt), depth + 1)
    }
  }

  // ---- the container walk ---------------------------------------------

  def isAvro(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && b(0) == 'O' && b(1) == 'b' &&
      b(2) == 'j' && b(3) == 1

  /** The ONE metadata-map walk read() and unsupportedProfile()
    * share: blocks of (count, entries), 0 terminates, a negative
    * count carrying a byte size after it. Leaves `in` positioned at
    * the sync marker. Throws like the Bin primitives on damage.
    */
  private def readMeta(in: Bin):
      scala.collection.mutable.LinkedHashMap[String, Array[Byte]] = {
    val meta = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    var n = in.varlong()
    while (n != 0) {
      val cnt = if (n < 0) { in.varlong(); -n } else n
      var i = 0L
      while (i < cnt) {
        val k = new String(in.bytes(in.varlen()),
          java.nio.charset.StandardCharsets.UTF_8)
        meta(k) = in.bytes(in.varlen())
        i += 1
      }
      n = in.varlong()
    }
    meta
  }

  /** Read the whole container; null on damage or an out-of-subset
    * profile (distinguish via [[unsupportedProfile]]).
    */
  def read(b: Array[Byte]): AvroFile = try {
    if (!isAvro(b)) return null
    val in = new Bin(b)
    in.p = 4
    val meta = readMeta(in)
    val sync = in.bytes(16)
    val schemaJson = meta.get("avro.schema") match {
      case Some(s) => new String(s, java.nio.charset.StandardCharsets.UTF_8)
      case None => return null
    }
    val codec = meta.get("avro.codec")
      .map(new String(_, java.nio.charset.StandardCharsets.US_ASCII))
      .getOrElse("null")
    val schema = parseSchema(schemaJson)
    if (schema == null) return null
    val (names, fieldTypes) = schema
    val types = fieldTypes.map(typeString)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    while (in.p < b.length) {
      val count = in.varlong()
      val size = in.varlong()
      if (count < 0 || size < 0 || size > b.length - in.p) return null
      if (count > (1L << 26)) return null // hostile row-count bomb
      val packed = in.bytes(size.toInt)
      val plain: Array[Byte] = codec match {
        case "null" => packed
        case "deflate" =>
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(packed)
            val buf = new java.io.ByteArrayOutputStream(packed.length * 2)
            val tmp = new Array[Byte](8192)
            while (!inf.finished()) {
              val m = inf.inflate(tmp)
              if (m == 0 && !inf.finished()) return null
              buf.write(tmp, 0, m)
              if (buf.size() > (1 << 30)) return null // expansion bomb
            }
            buf.toByteArray
          } finally inf.end()
        case "snappy" =>
          // avro appends a 4-byte BE CRC32 of the UNCOMPRESSED data
          if (packed.length < 4) return null
          val body = Snappy.decode(
            java.util.Arrays.copyOfRange(packed, 0, packed.length - 4))
          if (body == null) return null
          val crc = new java.util.zip.CRC32()
          crc.update(body)
          val want =
            ((packed(packed.length - 4) & 0xFFL) << 24) |
              ((packed(packed.length - 3) & 0xFFL) << 16) |
              ((packed(packed.length - 2) & 0xFFL) << 8) |
              (packed(packed.length - 1) & 0xFFL)
          if (crc.getValue != want) return null
          body
        case "zstandard" =>
          val body = Zstd.decode(packed)
          if (body == null) return null
          body
        case "bzip2" =>
          val body = Bzip2.decode(packed, 1L << 30)
          if (body == null) return null
          body
        case "xz" =>
          val body = Xz.decode(packed, 1L << 30)
          if (body == null) return null
          body
        case _ => return null // unknown codec: named gap
      }
      val bin = new Bin(plain)
      var i = 0L
      while (i < count) {
        val row = new Array[Any](fieldTypes.length)
        for (f <- fieldTypes.indices) row(f) = readValue(bin, fieldTypes(f), 0)
        rows += row
        i += 1
      }
      if (bin.p != plain.length) return null // trailing garbage
      if (!java.util.Arrays.equals(in.bytes(16), sync)) return null
    }
    AvroFile(names, types, rows.toArray)
  } catch {
    case _: IllegalArgumentException => null
    case _: IndexOutOfBoundsException => null
    case _: java.util.zip.DataFormatException => null
  }

  /** Structurally-sound container outside the subset: unsupported
    * codec or schema shape.
    */
  def unsupportedProfile(b: Array[Byte]): Boolean = try {
    if (!isAvro(b)) return false
    val in = new Bin(b)
    in.p = 4
    val meta = readMeta(in)
    val codecBad = meta.get("avro.codec").exists(c =>
      !Set("null", "deflate", "snappy", "zstandard", "bzip2", "xz").contains(
        new String(c, java.nio.charset.StandardCharsets.US_ASCII)))
    val schemaBad = meta.get("avro.schema").exists(s =>
      parseSchema(new String(s,
        java.nio.charset.StandardCharsets.UTF_8)) == null)
    codecBad || schemaBad
  } catch {
    case _: IllegalArgumentException => false
    case _: IndexOutOfBoundsException => false
  }

  // ---- write side ------------------------------------------------------

  private def zigzag(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = (v0 << 1) ^ (v0 >> 63)
    do {
      val g = (v & 0x7F).toInt
      v >>>= 7
      out.write(if (v != 0) g | 0x80 else g)
    } while (v != 0)
  }

  /** A real container file from rows matching `types` ("long",
    * "string?", …), one block per `blockRows` rows, under `codec`
    * (null/deflate/snappy/zstandard — the write sides are this
    * engine's own encoders plus the JDK Deflater).
    */
  def synthAvro(names: Seq[String], types: Seq[String],
      rows: Seq[Seq[Any]], codec: String = "null",
      blockRows: Int = 1000): Array[Byte] = {
    val fieldsJson = names.zip(types).map { case (n, t) =>
      val tj =
        if (t.endsWith("?")) s"""["null","${t.dropRight(1)}"]"""
        else s""""$t""""
      s"""{"name":"$n","type":$tj}"""
    }.mkString(",")
    val schema =
      s"""{"type":"record","name":"graft_rec","fields":[$fieldsJson]}"""
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('b'); out.write('j'); out.write(1)
    def wBytes(v: Array[Byte]): Unit = {
      zigzag(out, v.length.toLong)
      out.write(v, 0, v.length)
    }
    zigzag(out, 2L) // metadata: two entries
    wBytes("avro.schema".getBytes("UTF-8"))
    wBytes(schema.getBytes("UTF-8"))
    wBytes("avro.codec".getBytes("UTF-8"))
    wBytes(codec.getBytes("US-ASCII"))
    zigzag(out, 0L)
    val sync = Array.tabulate(16)(i => (i * 37 + 11).toByte)
    out.write(sync, 0, 16)
    rows.grouped(blockRows).foreach { block =>
      val body = new java.io.ByteArrayOutputStream()
      block.foreach { row =>
        for (f <- types.indices) {
          val t = types(f)
          val v = row(f)
          def prim(t0: String, v0: Any): Unit = t0 match {
            case "boolean" =>
              body.write(if (v0.asInstanceOf[Boolean]) 1 else 0)
            case "int" | "long" => zigzag(body, v0.asInstanceOf[Long])
            case "double" =>
              val bits = java.lang.Double.doubleToLongBits(
                v0.asInstanceOf[Double])
              for (i <- 0 until 8) body.write(((bits >> (8 * i)) & 0xFF).toInt)
            case "float" =>
              val bits = java.lang.Float.floatToIntBits(
                v0.asInstanceOf[Double].toFloat)
              for (i <- 0 until 4) body.write((bits >> (8 * i)) & 0xFF)
            case "string" =>
              val u = v0.asInstanceOf[String].getBytes("UTF-8")
              zigzag(body, u.length.toLong)
              body.write(u, 0, u.length)
            case "bytes" =>
              val u = v0.asInstanceOf[Array[Byte]]
              zigzag(body, u.length.toLong)
              body.write(u, 0, u.length)
            case x => throw new IllegalArgumentException(x)
          }
          if (t.endsWith("?")) {
            if (v == null) zigzag(body, 0L)
            else { zigzag(body, 1L); prim(t.dropRight(1), v) }
          } else prim(t, v)
        }
      }
      val plain = body.toByteArray
      val packed = codec match {
        case "null" => plain
        case "deflate" =>
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            d.setInput(plain)
            d.finish()
            val buf = new java.io.ByteArrayOutputStream(plain.length / 2 + 16)
            val tmp = new Array[Byte](8192)
            while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
            buf.toByteArray
          } finally d.end()
        case "snappy" =>
          val crc = new java.util.zip.CRC32()
          crc.update(plain)
          val v = crc.getValue
          Snappy.encode(plain) ++ Array[Byte](
            ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
            ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
        case "zstandard" => Zstd.synthRawFrame(plain, checksum = true)
        case "bzip2" => Bzip2.synthBzip2(plain)
        case "xz" =>
          // no synthesizer for xz (the [[Xz]] adapter is decode-only,
          // like the warc path) — write through xz-java on the
          // classpath
          val bos = new java.io.ByteArrayOutputStream()
          val opts = new org.tukaani.xz.LZMA2Options(1)
          opts.setDictSize(1 << 16)
          val z = new org.tukaani.xz.XZOutputStream(bos, opts)
          z.write(plain); z.close()
          bos.toByteArray
        case c => throw new IllegalArgumentException(c)
      }
      zigzag(out, block.length.toLong)
      zigzag(out, packed.length.toLong)
      out.write(packed, 0, packed.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }
}
