package graft.operators

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.avro.{NameValidator, Schema}
import org.apache.avro.generic.{GenericDatumReader, GenericEnumSymbol, GenericFixed, IndexedRecord}
import org.apache.avro.io.{Decoder, DecoderFactory}
import org.apache.avro.util.Utf8

/** Avro OBJECT CONTAINER FILE reader — the row format Hadoop-era
  * training corpora and Kafka dumps ship in.
  *
  * The container walk (magic `Obj\1`, the metadata map, the 16-byte
  * sync marker, blocks of record count + byte size + data + sync, each
  * sync checked) stays here, so every block is bounded by the blob and
  * decompresses through this engine's capped codecs: null, deflate
  * (JDK, read through [[Capped]]), snappy ([[Snappy]] plus the 4-byte
  * BE CRC32 Avro appends), zstandard ([[Zstd]]), bzip2 ([[Bzip2]]), xz
  * ([[Xz]]). The schema parses and the records decode through avro
  * 1.12's `Schema.Parser` and `GenericDatumReader`, with string, bytes,
  * array and map sizes checked before the library allocates.
  *
  * The root must be a non-empty record; field types render as
  * "long", "string?" (a nullable union), "record<x:int>",
  * "array<long>", "map<long>", "enum", "fixed(4)", "union<...>".
  * Values: int/long to Long, float/double to Double, string to
  * String, bytes/fixed to Array[Byte], records to [[ARec]], arrays to
  * Vector, maps to a Vector of (key, value) in the library's (hash)
  * order, enums to their symbol; logical types pass through as their
  * base. Other schema shapes and unregistered codec names are named
  * profile gaps, not damage. Degrade-don't-throw: null on damage.
  */
object Avro {

  final case class AvroFile(fieldNames: Array[String],
      fieldTypes: Array[String], rows: Array[Array[Any]])

  /** One decoded nested record value. */
  final case class ARec(fields: Vector[(String, Any)]) {
    def get(name: String): Any =
      fields.find(_._1 == name).map(_._2).orNull
  }

  private val Codecs = Set("null", "deflate", "snappy", "zstandard", "bzip2", "xz")
  private val Cap = 1L << 26 // decompressed bytes per block
  private val MaxItems = 1L << 24 // zero-byte (null) array or map entries per block

  /** A schema outside the subset or an unregistered codec. */
  private final class Profile extends RuntimeException("profile", null, false, false)

  def isAvro(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && b(0) == 'O' && b(1) == 'b' &&
      b(2) == 'j' && b(3) == 1

  /** The container framing: zigzag varints and length-checked slices. */
  private final class Frame(b: Array[Byte], var p: Int) {
    def varlong(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (p >= b.length || shift > 63) throw new IllegalArgumentException("varint")
        val c = b(p) & 0xFF
        p += 1
        v |= (c & 0x7FL) << shift
        shift += 7
        if ((c & 0x80) == 0) return (v >>> 1) ^ -(v & 1)
      }
      0L
    }
    def bytes(n: Long): Array[Byte] = {
      if (n < 0 || n > b.length - p) throw new IllegalArgumentException("bytes")
      val r = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
      p += n.toInt
      r
    }
    /** The metadata map; leaves the frame at the sync marker. */
    def meta(): Map[String, Array[Byte]] = {
      val m = Map.newBuilder[String, Array[Byte]]
      var n = varlong()
      while (n != 0) {
        val cnt = if (n < 0) { varlong(); -n } else n
        var i = 0L
        while (i < cnt) {
          m += new String(bytes(varlong()), UTF_8) -> bytes(varlong())
          i += 1
        }
        n = varlong()
      }
      m.result()
    }
  }

  /** Rendered field type; throws [[Profile]] past a nesting depth a
    * recursive schema would exceed.
    */
  private def typeString(t: Schema, depth: Int = 0): String = {
    if (depth > 32) throw new Profile
    def ts(x: Schema) = typeString(x, depth + 1)
    t.getType match {
      case Schema.Type.UNION =>
        t.getTypes.asScala.toSeq match {
          case Seq(a, x) if a.getType == Schema.Type.NULL => ts(x) + "?"
          case Seq(x, a) if a.getType == Schema.Type.NULL => ts(x) + "?"
          case bs => bs.map(ts).mkString("union<", ",", ">")
        }
      case Schema.Type.RECORD =>
        t.getFields.asScala.map(f => f.name + ":" + ts(f.schema))
          .mkString("record<", ",", ">")
      case Schema.Type.ARRAY => "array<" + ts(t.getElementType) + ">"
      case Schema.Type.MAP => "map<" + ts(t.getValueType) + ">"
      case Schema.Type.ENUM => "enum"
      case Schema.Type.FIXED => s"fixed(${t.getFixedSize})"
      case p => p.getName
    }
  }

  /** A container schema as this reader uses it: the root's field names
    * and rendered types, its datum reader, and the (name, position)
    * pairs of each record schema [[value]] meets. [[Profile]] when the
    * schema is outside the subset.
    */
  private final class Compiled(json: String) {
    private val schema =
      try new Schema.Parser(NameValidator.NO_VALIDATION)
        .setValidateDefaults(false).parse(json)
      catch { case NonFatal(_) => throw new Profile }
    if (schema.getType != Schema.Type.RECORD || schema.getFields.isEmpty)
      throw new Profile
    val names: Array[String] = schema.getFields.asScala.map(_.name).toArray
    val types: Array[String] = schema.getFields.asScala.map(f => typeString(f.schema)).toArray
    val reader = new GenericDatumReader[AnyRef](schema)
    val records = new java.util.IdentityHashMap[Schema, Vector[(String, Int)]]()
  }

  /** Compiled schemas by their JSON, per thread (the datum reader is
    * not shared across threads): parsing a schema and building its
    * reader costs more than decoding a small container, and a corpus
    * repeats a few schemas.
    */
  private val compiled = ThreadLocal.withInitial[java.util.Map[String, Compiled]](() =>
    new java.util.LinkedHashMap[String, Compiled](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Compiled]): Boolean =
        size > 64
    })

  /** The container's compiled schema and codec; [[Profile]] when
    * outside the subset, other exceptions on damage.
    */
  private def header(f: Frame): (Compiled, String) = {
    val meta = f.meta()
    val codec = meta.get("avro.codec").map(new String(_, US_ASCII)).getOrElse("null")
    val json = new String(meta.getOrElse("avro.schema",
      throw new IllegalArgumentException("no schema")), UTF_8)
    val cache = compiled.get
    var c = cache.get(json)
    if (c == null) { c = new Compiled(json); cache.put(json, c) }
    (c, codec)
  }

  /** The block's binary decoder with every size a value declares checked
    * before the library allocates it: a string or bytes value against
    * the block length, the array and map entries of the whole block
    * against the block length plus [[MaxItems]] (entries of any type
    * but null take at least one byte).
    */
  private final class Guarded(d: Decoder, limit: Int) extends Decoder {
    private var items = 0L
    private def len(n: Long): Int = {
      if (n < 0 || n > limit) throw new IllegalArgumentException("length")
      n.toInt
    }
    private def count(n: Long): Long = {
      items += math.abs(n)
      if (items > limit + MaxItems) throw new IllegalArgumentException("item bomb")
      n
    }
    private def slice(): Array[Byte] = {
      val r = new Array[Byte](len(d.readLong()))
      d.readFixed(r)
      r
    }
    def readNull(): Unit = d.readNull()
    def readBoolean(): Boolean = d.readBoolean()
    def readInt(): Int = d.readInt()
    def readLong(): Long = d.readLong()
    def readFloat(): Float = d.readFloat()
    def readDouble(): Double = d.readDouble()
    def readString(old: Utf8): Utf8 = new Utf8(slice())
    def readString(): String = new String(slice(), UTF_8)
    def skipString(): Unit = d.skipFixed(len(d.readLong()))
    def readBytes(old: java.nio.ByteBuffer): java.nio.ByteBuffer =
      java.nio.ByteBuffer.wrap(slice())
    def skipBytes(): Unit = d.skipFixed(len(d.readLong()))
    def readFixed(bytes: Array[Byte], start: Int, length: Int): Unit =
      d.readFixed(bytes, start, length)
    def skipFixed(length: Int): Unit = d.skipFixed(length)
    def readEnum(): Int = d.readEnum()
    def readArrayStart(): Long = count(d.readArrayStart())
    def arrayNext(): Long = count(d.arrayNext())
    def skipArray(): Long = count(d.skipArray())
    def readMapStart(): Long = count(d.readMapStart())
    def mapNext(): Long = count(d.mapNext())
    def skipMap(): Long = count(d.skipMap())
    def readIndex(): Int = d.readIndex()
  }

  /** A decoded datum in this reader's value model; `fields` caches each
    * record schema's (name, position) pairs. Scalars are matched first:
    * they are most values, and class tests are cheaper than interface
    * tests.
    */
  private def value(v: Any,
      fields: java.util.IdentityHashMap[Schema, Vector[(String, Int)]]): Any = v match {
    case null => null
    case x: java.lang.Long => x
    case u: Utf8 => u.toString
    case x: java.lang.Double => x
    case i: java.lang.Integer => i.longValue
    case x: java.lang.Boolean => x
    case x: java.lang.Float => x.doubleValue
    case bb: java.nio.ByteBuffer =>
      java.util.Arrays.copyOfRange(bb.array, bb.arrayOffset + bb.position,
        bb.arrayOffset + bb.limit)
    case r: IndexedRecord =>
      var fs = fields.get(r.getSchema)
      if (fs == null) {
        fs = r.getSchema.getFields.asScala.map(f => (f.name, f.pos)).toVector
        fields.put(r.getSchema, fs)
      }
      ARec(fs.map { case (n, i) => (n, value(r.get(i), fields)) })
    case l: java.util.List[_] =>
      val b = Vector.newBuilder[Any]
      l.forEach(x => b += value(x, fields))
      b.result()
    case m: java.util.Map[_, _] =>
      val b = Vector.newBuilder[(String, Any)]
      m.forEach((k, x) => b += ((k.toString, value(x, fields))))
      b.result()
    case e: GenericEnumSymbol[_] => e.toString
    case x: GenericFixed => x.bytes
    case x => x
  }

  /** One block's data, decompressed under [[Cap]]; null on damage. */
  private def plain(codec: String, packed: Array[Byte]): Array[Byte] = codec match {
    case "null" => packed
    case "deflate" =>
      val inf = new java.util.zip.Inflater(true)
      try Capped.readAll(new java.util.zip.InflaterInputStream(
        new java.io.ByteArrayInputStream(packed), inf, 1 << 16), Cap, packed.length * 4L)
      finally inf.end()
    case "snappy" =>
      // avro appends a 4-byte BE CRC32 of the UNCOMPRESSED data
      if (packed.length < 4) return null
      val body = Snappy.decode(
        java.util.Arrays.copyOfRange(packed, 0, packed.length - 4), Cap)
      if (body == null) return null
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      val want = java.nio.ByteBuffer.wrap(packed, packed.length - 4, 4).getInt & 0xFFFFFFFFL
      if (crc.getValue != want) null else body
    case "zstandard" => Zstd.decode(packed, Cap)
    case "bzip2" => Bzip2.decode(packed, Cap)
    case "xz" => Xz.decode(packed, Cap)
    case _ => throw new Profile // unregistered codec: named gap
  }

  /** Read the whole container; null on damage or an out-of-subset
    * profile (distinguish via [[unsupportedProfile]]).
    */
  def read(b: Array[Byte]): AvroFile = try {
    if (!isAvro(b)) return null
    val f = new Frame(b, 4)
    val (c, codec) = header(f)
    val sync = f.bytes(16)
    val rows = Array.newBuilder[Array[Any]]
    var decoder: org.apache.avro.io.BinaryDecoder = null
    while (f.p < b.length) {
      val count = f.varlong()
      val size = f.varlong()
      if (count < 0 || count > (1L << 26)) return null // row-count bomb
      val data = plain(codec, f.bytes(size))
      if (data == null) return null
      decoder = DecoderFactory.get.binaryDecoder(data, decoder)
      val in = new Guarded(decoder, data.length)
      var i = 0L
      while (i < count) {
        val r = c.reader.read(null, in).asInstanceOf[IndexedRecord]
        rows += Array.tabulate[Any](c.names.length)(k => value(r.get(k), c.records))
        i += 1
      }
      if (!decoder.isEnd) return null // trailing garbage
      if (!java.util.Arrays.equals(f.bytes(16), sync)) return null
    }
    AvroFile(c.names.clone(), c.types.clone(), rows.result())
  } catch { case NonFatal(_) => null }

  /** Structurally-sound container outside the subset: unsupported
    * codec or schema shape.
    */
  def unsupportedProfile(b: Array[Byte]): Boolean = try {
    isAvro(b) && !Codecs(header(new Frame(b, 4))._2)
  } catch {
    case _: Profile => true
    case NonFatal(_) => false
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
