package graft.operators

import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.ColumnDescriptor
import org.apache.parquet.column.page.{DictionaryPage, PageReadStore, PageReader}
import org.apache.parquet.compression.CompressionCodecFactory
import org.apache.parquet.compression.CompressionCodecFactory.BytesInputDecompressor
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, DelegatingSeekableInputStream, InputFile}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Apache Parquet reader for parquet FILES AS BLOBS: members of
  * tar/zip/7z shards, bytes in a binary column, objects pulled from an
  * object store — everywhere Spark's native scan cannot reach because
  * the file never touches a filesystem path.
  *
  * An adapter over parquet-hadoop 1.16: `ParquetFileReader` over an
  * in-memory `InputFile` with `PlainParquetConfiguration` (no Hadoop
  * `Configuration`), and parquet-column's record assembly (Dremel's)
  * into this reader's value model. The library decodes every encoding
  * parquet-mr writes. Pages decompress through this engine's capped
  * codecs: UNCOMPRESSED, SNAPPY ([[Snappy]]), GZIP (JDK), ZSTD
  * ([[Zstd]]), LZ4_RAW ([[Lz4]]); the legacy hadoop-framed LZ4, BROTLI
  * and LZO are named profile gaps, distinct from damage.
  *
  * Bomb caps, checked before the library allocates: 1<<22 rows, 4096
  * columns, column chunks inside the blob, 1<<26-byte pages, 1M
  * values per page or dictionary.
  *
  * Shapes: List/Struct/Map at any nesting per LogicalTypes.md — a
  * LIST/MAP group over one repeated child reads as that child's vector,
  * the modern 3-level "repeated group list { element }" spacer reads
  * as its element (the legacy 2-level "array"/"*_tuple" names mean the
  * repeated group IS the element), maps read as vectors of key/value
  * [[PqGroup]]s, bare repeated fields as vectors. Value model mirrors
  * [[ArrowIpc]]: ints widen to Long, floats to Double, UTF8/ENUM/JSON
  * byte arrays to String, DECIMAL to java.math.BigDecimal, DATE to
  * epoch-day Longs, INT96 to its raw 12 bytes, everything else to its
  * physical value. Degrade-don't-throw.
  */
object Parquet {

  final case class PqTable(fieldNames: Array[String],
      fieldTypes: Array[String], rows: Array[Array[Any]])

  /** One assembled group (struct) value. Lists assemble as
    * `Vector[Any]`; a MAP assembles as `Vector[PqGroup]` of its
    * key/value pairs.
    */
  final case class PqGroup(fields: Vector[(String, Any)]) {
    def get(name: String): Any =
      fields.find(_._1 == name).map(_._2).orNull
  }

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  private val MaxRows = 1L << 22
  private val MaxColumns = 4096
  private val MaxPage = 1 << 26
  private val MaxValues = 1 << 20

  def isParquet(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1' &&
      b(b.length - 4) == 'P' && b(b.length - 3) == 'A' &&
      b(b.length - 2) == 'R' && b(b.length - 1) == '1'

  // ---- the library's inputs ------------------------------------------------

  private final class Bytes(b: Array[Byte]) extends java.io.ByteArrayInputStream(b) {
    def at: Long = pos
    def seekTo(p: Long): Unit = {
      if (p < 0 || p > count) throw new java.io.EOFException("seek")
      pos = p.toInt
    }
  }

  private final class MemFile(b: Array[Byte]) extends InputFile {
    def getLength: Long = b.length
    def newStream() = {
      val in = new Bytes(b)
      new DelegatingSeekableInputStream(in) {
        def getPos: Long = in.at
        def seek(p: Long): Unit = in.seekTo(p)
      }
    }
  }

  /** Page decompression through the capped codecs; a page larger than
    * [[MaxPage]] fails before anything is allocated.
    */
  private object Codecs extends CompressionCodecFactory {
    def getCompressor(c: CompressionCodecName) =
      throw new UnsupportedOperationException("read only")
    def release(): Unit = ()
    def getDecompressor(c: CompressionCodecName): BytesInputDecompressor =
      new BytesInputDecompressor {
        def decompress(in: BytesInput, size: Int): BytesInput = {
          if (size < 0 || size > MaxPage) fail("page bomb")
          if (c == CompressionCodecName.UNCOMPRESSED) return in
          val raw = in.toByteArray
          val out = c match {
            case CompressionCodecName.SNAPPY => Snappy.decode(raw, size)
            case CompressionCodecName.GZIP =>
              Capped.readAll(new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(raw)), size, size)
            case CompressionCodecName.ZSTD => Zstd.decode(raw, size)
            case CompressionCodecName.LZ4_RAW => Lz4.decodeRawBlock(raw, size)
            case _ => fail("codec profile") // LZO/BROTLI/framed LZ4
          }
          if (out == null || out.length != size) fail("page")
          BytesInput.from(out)
        }
        def decompress(in: ByteBuffer, compressedSize: Int, out: ByteBuffer,
            size: Int): Unit = {
          val raw = new Array[Byte](compressedSize)
          in.get(raw)
          out.put(decompress(BytesInput.from(raw), size).toByteBuffer)
        }
        def release(): Unit = ()
      }
  }

  private val Options = new ParquetReadOptions.Builder(new PlainParquetConfiguration())
    .withCodecFactory(Codecs).build()

  /** A row group's pages with value counts capped before the library
    * sizes its dictionaries and level decoders by them.
    */
  private final class CappedPages(p: PageReadStore) extends PageReadStore {
    def getRowCount: Long = p.getRowCount
    def getPageReader(d: ColumnDescriptor): PageReader = {
      val r = p.getPageReader(d)
      new PageReader {
        def getTotalValueCount: Long = r.getTotalValueCount
        def readDictionaryPage(): DictionaryPage = {
          val dp = r.readDictionaryPage()
          if (dp != null && dp.getDictionarySize > MaxValues) fail("dictionary bomb")
          dp
        }
        def readPage() = {
          val pg = r.readPage()
          if (pg != null && pg.getValueCount > MaxValues) fail("value bomb")
          pg
        }
      }
    }
  }

  // ---- schema shapes ---------------------------------------------------------

  private def isList(t: Type) = t.getLogicalTypeAnnotation.isInstanceOf[ListLogicalTypeAnnotation]

  /** A LIST/MAP group over one repeated child: its instance IS that
    * child's vector.
    */
  private def isWrapper(t: Type): Boolean = !t.isPrimitive && {
    val g = t.asGroupType
    (isList(t) || g.getLogicalTypeAnnotation.isInstanceOf[MapLogicalTypeAnnotation]) &&
      g.getFieldCount == 1 && g.getType(0).isRepetition(Type.Repetition.REPEATED)
  }

  /** The 3-level list spacer under a one-child LIST group: its instance
    * IS its single child's value.
    */
  private def isSpacer(t: Type, parent: GroupType): Boolean =
    !t.isPrimitive && t.isRepetition(Type.Repetition.REPEATED) && isList(parent) &&
      parent.getFieldCount == 1 && t.asGroupType.getFieldCount == 1 &&
      t.getName != "array" && !t.getName.endsWith("_tuple")

  private def leafType(p: PrimitiveType): String = {
    val la = p.getLogicalTypeAnnotation
    def scale = la.asInstanceOf[DecimalLogicalTypeAnnotation].getScale
    val dec = la.isInstanceOf[DecimalLogicalTypeAnnotation]
    p.getPrimitiveTypeName match {
      case BOOLEAN => "bool"
      case INT32 =>
        if (la.isInstanceOf[DateLogicalTypeAnnotation]) "date32"
        else if (dec) s"dec32($scale)" else "i32"
      case INT64 => if (dec) s"dec64($scale)" else "i64"
      case INT96 => "i96"
      case FLOAT => "f32"
      case DOUBLE => "f64"
      case BINARY =>
        if (isText(la)) "str" else if (dec) s"decbin($scale)" else "bin"
      case FIXED_LEN_BYTE_ARRAY =>
        if (dec) s"decbin($scale)" else s"flba(${p.getTypeLength})"
    }
  }

  private def isText(la: LogicalTypeAnnotation) =
    la.isInstanceOf[StringLogicalTypeAnnotation] ||
      la.isInstanceOf[EnumLogicalTypeAnnotation] ||
      la.isInstanceOf[JsonLogicalTypeAnnotation]

  /** Rendered type of a field as a consumer sees it (repeated fields
    * and collapsed LIST wrappers both read as `list<...>`).
    */
  private def fieldType(t: Type, parent: GroupType): String = {
    val inst =
      if (t.isPrimitive) leafType(t.asPrimitiveType)
      else {
        val g = t.asGroupType
        if (isWrapper(t) || isSpacer(t, parent)) fieldType(g.getType(0), g)
        else g.getFields.asScala.map(c => c.getName + ":" + fieldType(c, g))
          .mkString("struct<", ",", ">")
      }
    if (t.isRepetition(Type.Repetition.REPEATED)) s"list<$inst>" else inst
  }

  // ---- record assembly -------------------------------------------------------

  /** Receives the values of a group instance's fields. */
  private trait Parent { def add(field: Int, v: Any): Unit }

  private def converter(t: Type, parent: GroupType, into: Parent, field: Int): Converter =
    if (t.isPrimitive) new Leaf(t.asPrimitiveType, into, field)
    else new Group(t.asGroupType, isWrapper(t) || isSpacer(t, parent), into, field)

  /** One group position. Repeated fields collect into vectors, absent
    * optional fields stay null; a pass-through group (LIST/MAP wrapper,
    * list spacer) hands up its single field's value instead of a
    * [[PqGroup]].
    */
  private class Group(g: GroupType, pass: Boolean, up: Parent, field: Int)
      extends GroupConverter with Parent {
    private val n = g.getFieldCount
    private val names = g.getFields.asScala.map(_.getName).toArray
    private val repeated = Array.tabulate(n)(i => g.getType(i).isRepetition(Type.Repetition.REPEATED))
    private val kids = Array.tabulate(n)(i => converter(g.getType(i), g, this, i))
    protected val vals = new Array[Any](n)
    def getConverter(i: Int): Converter = kids(i)
    def add(i: Int, v: Any): Unit =
      if (!repeated(i)) vals(i) = v
      else {
        if (vals(i) == null) vals(i) = Vector.newBuilder[Any]
        vals(i).asInstanceOf[scala.collection.mutable.Builder[Any, Vector[Any]]] += v
      }
    def start(): Unit = java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
    protected def finish(): Unit = {
      var i = 0
      while (i < n) {
        if (repeated(i)) vals(i) =
          if (vals(i) == null) Vector.empty
          else vals(i).asInstanceOf[scala.collection.mutable.Builder[Any, Vector[Any]]].result()
        i += 1
      }
    }
    def end(): Unit = {
      finish()
      up.add(field, if (pass) vals(0) else PqGroup(Vector.tabulate(n)(i => (names(i), vals(i)))))
    }
  }

  private final class Leaf(p: PrimitiveType, up: Parent, field: Int)
      extends PrimitiveConverter {
    private val la = p.getLogicalTypeAnnotation
    private val scale = la match {
      case d: DecimalLogicalTypeAnnotation => d.getScale
      case _ => -1
    }
    private val text = isText(la)
    override def addBoolean(v: Boolean): Unit = up.add(field, v)
    override def addInt(v: Int): Unit = addLong(v.toLong)
    override def addLong(v: Long): Unit =
      up.add(field, if (scale >= 0) java.math.BigDecimal.valueOf(v, scale) else v)
    override def addFloat(v: Float): Unit = up.add(field, v.toDouble)
    override def addDouble(v: Double): Unit = up.add(field, v)
    override def addBinary(v: Binary): Unit = up.add(field,
      if (text) v.toStringUsingUTF8
      else if (scale >= 0) new java.math.BigDecimal(new java.math.BigInteger(v.getBytes), scale)
      else v.getBytes)
  }

  /** The message: its fields' values are the record. */
  private final class Root(schema: MessageType) extends Group(schema, pass = false,
      (_, _) => (), 0) {
    override def end(): Unit = finish()
    def record: Array[Any] = vals.clone()
  }

  private final class Rows(schema: MessageType) extends RecordMaterializer[Array[Any]] {
    private val root = new Root(schema)
    def getRootConverter: GroupConverter = root
    def getCurrentRecord: Array[Any] = root.record
  }

  // ---- the read ----------------------------------------------------------------

  /** Read a whole parquet file held in memory; null on damage or a
    * named profile gap (distinguish via [[decodeClass]]).
    */
  def read(b: Array[Byte]): PqTable = try readOrThrow(b) catch {
    case NonFatal(_) | _: StackOverflowError => null
  }

  private def readOrThrow(b: Array[Byte]): PqTable = {
    if (!isParquet(b)) fail("not parquet")
    val reader = ParquetFileReader.open(new MemFile(b), Options)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      if (schema.getFieldCount == 0) fail("no schema")
      if (schema.getColumns.size > MaxColumns) fail("schema bomb")
      val blocks = footer.getBlocks.asScala
      if (blocks.exists(_.getRowCount < 0) || blocks.map(_.getRowCount).sum > MaxRows)
        fail("row bomb")
      for (rg <- blocks; c <- rg.getColumns.asScala)
        if (c.getStartingPos < 0 || c.getTotalSize < 0 ||
            c.getStartingPos + c.getTotalSize > b.length) fail("chunk bounds")
      val fields = schema.getFields.asScala
      val types = fields.map(fieldType(_, schema)).toArray
      val io = new ColumnIOFactory().getColumnIO(schema)
      val rows = Array.newBuilder[Array[Any]]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val rr = io.getRecordReader(new CappedPages(pages), new Rows(schema))
        var r = 0L
        while (r < pages.getRowCount) { rows += rr.read(); r += 1 }
        pages = reader.readNextRowGroup()
      }
      PqTable(fields.map(_.getName).toArray, types, rows.result())
    } finally reader.close()
  }

  /** Forensic class for the decode taxonomy. */
  def decodeClass(b: Array[Byte]): String =
    if (!isParquet(b)) "not_parquet"
    else try { readOrThrow(b); "ok" }
    catch {
      case e: Throwable if NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
        if (Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(x => x.isInstanceOf[Err] && x.getMessage.endsWith("profile")))
          "unsupported_profile"
        else "corrupt"
    }
}
