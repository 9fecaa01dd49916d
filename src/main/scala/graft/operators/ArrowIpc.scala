package graft.operators

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.{AllocationManager, ArrowBuf, BufferAllocator, ReferenceManager, RootAllocator}
import org.apache.arrow.memory.util.MemoryUtil
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex._
import org.apache.arrow.vector.dictionary.Dictionary
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowReader, ArrowStreamReader}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, IntervalUnit, TimeUnit, UnionMode}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.arrow.vector.validate.{ValidateVectorBufferVisitor, ValidateVectorDataVisitor}

/** Arrow IPC reader — the columnar interchange format of the ML data
  * ecosystem (Feather V2 files, Arrow streams, flight dumps).
  *
  * An adapter over arrow-vector 18.3: `ArrowFileReader` (ARROW1
  * framing) or `ArrowStreamReader` (continuation-marker and pre-0.15
  * bare-length framings) over a `ByteArrayReadableSeekableByteChannel`,
  * with LZ4-frame and zstd body compression through
  * `CommonsCompressionFactory`. Every batch and dictionary is checked
  * with the library's buffer and data validators before a value is
  * read. Bomb caps: a 256 MiB allocator per blob (bodies, buffers
  * and decompressed buffers all draw from it), 1M rows per batch, 4096
  * columns, 1M dictionary entries. What the library fails to release
  * on damaged input is freed once unreachable.
  *
  * Type strings: i8..i64/u8..u64, f16/f32/f64, bool, utf8, bin,
  * largeutf8, largebin, utf8view, binview, fsb(n), null,
  * decNN(p,s), date32/date64, time32_ms.., ts_us[_tz], dur_ms..,
  * iv_ym/iv_dt/iv_mdn, list<..>, largelist<..>, listview<..>,
  * largelistview<..>, fsl(n)<..>, struct<name:type,..>, map<k,v>,
  * union<..>/dense_union<..>, ree<..>, dict<value type>.
  *
  * Value model: integers widen to Long (u64 kept as the raw bits —
  * the type string says so), floats (halves included) to Double,
  * decimals to java.math.BigDecimal, date/time/timestamp/duration to
  * the raw Long in the unit named by the type string, intervals to a
  * Long (year-month) or an IndexedSeq of their fields, lists and
  * list-views to IndexedSeq[Any], structs to IndexedSeq[Any] in
  * declared child order, maps to an IndexedSeq of 2-element key/value
  * IndexedSeqs, unions to the selected child's value, run-end-encoded
  * columns to their expanded logical values, dictionary-encoded
  * columns to their dictionary values. Types arrow-vector cannot load
  * (32- and 64-bit decimals) are named profile gaps, distinct from
  * damage. Degrade-don't-throw.
  */
object ArrowIpc {

  private final class Err(msg: String)
    extends RuntimeException(msg, null, false, false)
  private def fail(msg: String): Nothing = throw new Err(msg)

  final case class ArrowTable(fieldNames: Array[String],
      fieldTypes: Array[String], rows: Array[Array[Any]])

  private val MaxBytes = 1L << 28
  private val MaxRows = 1 << 20
  private val MaxColumns = 4096
  private val MaxDictionary = 1 << 20

  private def le32(b: Array[Byte], i: Int): Int =
    ByteBuffer.wrap(b, i, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt

  def isArrowFile(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && b(0) == 'A' && b(1) == 'R' &&
      b(2) == 'R' && b(3) == 'O' && b(4) == 'W' && b(5) == '1' &&
      b(6) == 0 && b(7) == 0

  /** Pre-0.15 streams start with a BARE positive metadata length (no
    * continuation marker), so a weak length check alone would claim
    * arbitrary blobs — a legacy stream is recognized only when the
    * first message parses as a Schema.
    */
  private def isLegacyStream(b: Array[Byte]): Boolean = {
    val ml = le32(b, 0)
    ml > 0 && ml <= (1 << 24) && 4L + ml <= b.length && (try {
      val msg = org.apache.arrow.flatbuf.Message.getRootAsMessage(
        ByteBuffer.wrap(b, 4, ml).slice().order(java.nio.ByteOrder.LITTLE_ENDIAN))
      msg.headerType == org.apache.arrow.flatbuf.MessageHeader.Schema && {
        MessageSerializer.deserializeSchema(msg); true
      }
    } catch { case NonFatal(_) => false })
  }

  def isArrowStream(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && !isArrowFile(b) &&
      ((le32(b, 0) == -1 && le32(b, 4) > 0) || isLegacyStream(b))

  /** Off-heap blocks freed when the library releases them, or by a
    * cleaner once unreachable: on damaged input the library leaks the
    * buffers it had allocated, and those must not outlive the blob.
    */
  private object Collected extends AllocationManager.Factory {
    private val Reaper = java.lang.ref.Cleaner.create()
    private final class Block(size: Long) extends Runnable {
      val address: Long = MemoryUtil.allocateMemory(size)
      private val freed = new java.util.concurrent.atomic.AtomicBoolean()
      def run(): Unit = if (freed.compareAndSet(false, true)) MemoryUtil.freeMemory(address)
    }
    private val Empty = new ArrowBuf(ReferenceManager.NO_OP, null, 0, MemoryUtil.allocateMemory(0))
    def empty: ArrowBuf = Empty
    def create(owner: BufferAllocator, size: Long): AllocationManager =
      new AllocationManager(owner) {
        private val block = new Block(size)
        Reaper.register(this, block)
        def getSize: Long = size
        protected def memoryAddress: Long = block.address
        protected def release0(): Unit = block.run()
      }
  }

  /** `new RootAllocator(RootAllocator.configBuilder()
    * .allocationManagerFactory(Collected).maxAllocation(MaxBytes).build())`:
    * the builder is public API on a package-private class, which Java
    * resolves and Scala does not, hence the reflection.
    */
  private val newAllocator: () => RootAllocator = {
    def call(on: AnyRef, cls: Class[_], name: String, args: (Class[_], AnyRef)*): AnyRef = {
      val m = cls.getMethod(name, args.map(_._1): _*)
      m.setAccessible(true)
      m.invoke(on, args.map(_._2): _*)
    }
    val b = call(null, classOf[RootAllocator], "configBuilder")
    call(b, b.getClass, "allocationManagerFactory", classOf[AllocationManager.Factory] -> Collected)
    call(b, b.getClass, "maxAllocation", java.lang.Long.TYPE -> Long.box(MaxBytes))
    val config = call(b, b.getClass, "build")
    val make = classOf[RootAllocator].getConstructors
      .find(c => c.getParameterCount == 1 && c.getParameterTypes()(0).isInstance(config)).get
    () => make.newInstance(config).asInstanceOf[RootAllocator]
  }

  // ---- types ---------------------------------------------------------------

  private def unit(u: TimeUnit): String = u match {
    case TimeUnit.SECOND => "s"
    case TimeUnit.MILLISECOND => "ms"
    case TimeUnit.MICROSECOND => "us"
    case TimeUnit.NANOSECOND => "ns"
  }

  /** Type string of a field; `dicts` supplies the value fields of
    * dictionary-encoded ones.
    */
  private def typeString(f: Field, dicts: Long => Field): String = {
    val enc = f.getDictionary
    if (enc != null) return s"dict<${typeString(dicts(enc.getId), dicts)}>"
    def kid(i: Int) = typeString(f.getChildren.get(i), dicts)
    def kids = f.getChildren.asScala.map(typeString(_, dicts))
    f.getType match {
      case t: ArrowType.Int => (if (t.getIsSigned) "i" else "u") + t.getBitWidth
      case t: ArrowType.FloatingPoint => t.getPrecision match {
        case FloatingPointPrecision.HALF => "f16"
        case FloatingPointPrecision.SINGLE => "f32"
        case FloatingPointPrecision.DOUBLE => "f64"
      }
      case _: ArrowType.Bool => "bool"
      case _: ArrowType.Utf8 => "utf8"
      case _: ArrowType.Binary => "bin"
      case _: ArrowType.LargeUtf8 => "largeutf8"
      case _: ArrowType.LargeBinary => "largebin"
      case _: ArrowType.Utf8View => "utf8view"
      case _: ArrowType.BinaryView => "binview"
      case t: ArrowType.FixedSizeBinary => s"fsb(${t.getByteWidth})"
      case _: ArrowType.Null => "null"
      case t: ArrowType.Decimal => s"dec${t.getBitWidth}(${t.getPrecision},${t.getScale})"
      case t: ArrowType.Date => if (t.getUnit == DateUnit.DAY) "date32" else "date64"
      case t: ArrowType.Time => s"time${t.getBitWidth}_${unit(t.getUnit)}"
      case t: ArrowType.Timestamp =>
        "ts_" + unit(t.getUnit) + (if (t.getTimezone != null) "_tz" else "")
      case t: ArrowType.Duration => "dur_" + unit(t.getUnit)
      case t: ArrowType.Interval => t.getUnit match {
        case IntervalUnit.YEAR_MONTH => "iv_ym"
        case IntervalUnit.DAY_TIME => "iv_dt"
        case IntervalUnit.MONTH_DAY_NANO => "iv_mdn"
      }
      case _: ArrowType.List => s"list<${kid(0)}>"
      case _: ArrowType.LargeList => s"largelist<${kid(0)}>"
      case _: ArrowType.ListView => s"listview<${kid(0)}>"
      case _: ArrowType.LargeListView => s"largelistview<${kid(0)}>"
      case t: ArrowType.FixedSizeList => s"fsl(${t.getListSize})<${kid(0)}>"
      case _: ArrowType.Struct =>
        f.getChildren.asScala.map(c => c.getName + ":" + typeString(c, dicts))
          .mkString("struct<", ",", ">")
      case _: ArrowType.Map =>
        val e = f.getChildren.get(0)
        s"map<${typeString(e.getChildren.get(0), dicts)},${typeString(e.getChildren.get(1), dicts)}>"
      case t: ArrowType.Union =>
        kids.mkString(if (t.getMode == UnionMode.Dense) "dense_union<" else "union<", ",", ">")
      case _: ArrowType.RunEndEncoded => s"ree<${kid(1)}>"
      case t => fail(s"type profile ${t.getTypeID}")
    }
  }

  // ---- values -------------------------------------------------------------

  /** A reader of row `r` of `v` in this reader's value model, built once
    * per batch; `dicts` resolves dictionary-encoded vectors (`decode`
    * false reads a dictionary-encoded vector's own indices).
    */
  private def cells(v: ValueVector, dicts: Long => Dictionary,
      decode: Boolean = true): Int => Any = {
    def nullable(get: Int => Any): Int => Any = r => if (v.isNull(r)) null else get(r)
    def range(child: ValueVector, lo: Int => Long, hi: Int => Long): Int => Any = {
      val c = cells(child, dicts)
      nullable { r =>
        val a = lo(r); val b = hi(r)
        ArraySeq.unsafeWrapArray(Array.tabulate[Any]((b - a).toInt)(k => c((a + k).toInt)))
      }
    }
    val enc = v.getField.getDictionary
    if (enc != null && decode) {
      val dict = Option(dicts(enc.getId)).getOrElse(fail("dict id unknown")).getVector
      val values = cells(dict, dicts)
      val index = cells(v, dicts, decode = false)
      return nullable { r =>
        val k = index(r).asInstanceOf[Long]
        if (k < 0 || k >= dict.getValueCount) fail("dict index")
        values(k.toInt)
      }
    }
    v match {
      case _: NullVector => _ => null
      case x: TinyIntVector => nullable(r => x.get(r).toLong)
      case x: SmallIntVector => nullable(r => x.get(r).toLong)
      case x: IntVector => nullable(r => x.get(r).toLong)
      case x: BigIntVector => nullable(r => x.get(r))
      case x: UInt1Vector => nullable(r => (x.get(r) & 0xFF).toLong)
      case x: UInt2Vector => nullable(r => x.get(r).toLong)
      case x: UInt4Vector => nullable(r => x.get(r) & 0xFFFFFFFFL)
      case x: UInt8Vector => nullable(r => x.get(r))
      case x: Float2Vector => nullable(r => x.getValueAsFloat(r).toDouble)
      case x: Float4Vector => nullable(r => x.get(r).toDouble)
      case x: Float8Vector => nullable(r => x.get(r))
      case x: BitVector => nullable(r => x.get(r) == 1)
      case x: VarCharVector => nullable(r => new String(x.get(r), UTF_8))
      case x: LargeVarCharVector => nullable(r => new String(x.get(r), UTF_8))
      case x: ViewVarCharVector => nullable(r => new String(view(x, r, x.get), UTF_8))
      case x: VarBinaryVector => nullable(r => x.get(r))
      case x: LargeVarBinaryVector => nullable(r => x.get(r))
      case x: ViewVarBinaryVector => nullable(r => view(x, r, x.get))
      case x: FixedSizeBinaryVector => nullable(r => x.get(r))
      case x: DecimalVector => nullable(r => x.getObject(r))
      case x: Decimal256Vector => nullable(r => x.getObject(r))
      case x: DateDayVector => nullable(r => x.get(r).toLong)
      case x: DateMilliVector => nullable(r => x.get(r))
      case x: TimeSecVector => nullable(r => x.get(r).toLong)
      case x: TimeMilliVector => nullable(r => x.get(r).toLong)
      case x: TimeMicroVector => nullable(r => x.get(r))
      case x: TimeNanoVector => nullable(r => x.get(r))
      case x: TimeStampVector => nullable(r => x.get(r))
      case x: DurationVector => nullable(r => DurationVector.get(x.getDataBuffer, r))
      case x: IntervalYearVector => nullable(r => x.get(r).toLong)
      case x: IntervalDayVector =>
        val buf = x.getDataBuffer
        nullable(r => Seq(buf.getInt(r * 8L).toLong, buf.getInt(r * 8L + 4).toLong))
      case x: IntervalMonthDayNanoVector =>
        val buf = x.getDataBuffer
        nullable(r => Seq(buf.getInt(r * 16L).toLong, buf.getInt(r * 16L + 4).toLong,
          buf.getLong(r * 16L + 8)))
      case x: StructVector =>
        val kids = x.getChildrenFromFields.asScala.map(cells(_, dicts)).toArray
        nullable(r => ArraySeq.unsafeWrapArray(Array.tabulate[Any](kids.length)(k => kids(k)(r))))
      case x: FixedSizeListVector =>
        val n = x.getListSize
        range(x.getDataVector, r => r.toLong * n, r => (r + 1L) * n)
      case x: ListVector => // maps included
        range(x.getDataVector, r => x.getElementStartIndex(r), r => x.getElementEndIndex(r))
      case x: LargeListVector =>
        range(x.getDataVector, r => x.getElementStartIndex(r), r => x.getElementEndIndex(r))
      case x: ListViewVector =>
        val (offs, sizes) = (x.getOffsetBuffer, x.getSizeBuffer)
        range(x.getDataVector, r => offs.getInt(r * 4L),
          r => offs.getInt(r * 4L).toLong + sizes.getInt(r * 4L))
      case x: LargeListViewVector =>
        val (offs, sizes) = (x.getOffsetBuffer, x.getSizeBuffer)
        range(x.getDataVector, r => offs.getLong(r * 8L),
          r => offs.getLong(r * 8L) + sizes.getLong(r * 8L))
      case x: UnionVector => // no validity of its own: the child's value
        val kids = scala.collection.mutable.Map.empty[Int, Int => Any]
        r => kids.getOrElseUpdate(x.getTypeValue(r),
          cells(x.getVectorByType(x.getTypeValue(r)), dicts))(r)
      case x: DenseUnionVector =>
        val kids = scala.collection.mutable.Map.empty[Byte, Int => Any]
        r => {
          val t = x.getTypeId(r)
          kids.getOrElseUpdate(t, cells(x.getVectorByType(t), dicts))(x.getOffset(r))
        }
      case x: RunEndEncodedVector =>
        val values = cells(x.getValuesVector, dicts)
        r => values(x.getPhysicalIndex(r))
      case _ => fail(s"type profile ${v.getMinorType}")
    }
  }

  /** A view value, its declared length checked before the library
    * allocates it (the library's validator does not cover views).
    */
  private def view(x: BaseVariableWidthViewVector, r: Int,
      get: Int => Array[Byte]): Array[Byte] = {
    val n = x.getValueLength(r)
    if (n < 0 || n > MaxBytes) fail("view length")
    get(r)
  }

  /** The library's buffer and data validation (buffers as long as the
    * value count needs, offsets inside their buffers) of every column
    * whose types it covers; the rest (views) rely on the buffers' own
    * bounds checks.
    */
  private def validate(v: ValueVector): Unit =
    try {
      v.accept(new ValidateVectorBufferVisitor, null)
      v.accept(new ValidateVectorDataVisitor, null)
    } catch { case _: UnsupportedOperationException => () }

  // ---- the read -------------------------------------------------------------

  /** As [[read]] but surfacing the failure reason (spec diagnostics). */
  private[graft] def readOrThrow(b: Array[Byte]): ArrowTable = {
    val file = isArrowFile(b)
    if (!file && !isArrowStream(b)) fail("not arrow")
    // closed only after a clean read: a failed one may have leaked
    // buffers, which the allocator would report; [[Collected]] frees them
    val alloc = newAllocator()
    val table = {
      val ch = new ByteArrayReadableSeekableByteChannel(b)
      val reader: ArrowReader =
        if (file) new ArrowFileReader(ch, alloc, CommonsCompressionFactory.INSTANCE)
        else new ArrowStreamReader(ch, alloc, CommonsCompressionFactory.INSTANCE)
      try {
        val root = reader.getVectorSchemaRoot
        val fields = root.getSchema.getFields.asScala.toArray
        if (fields.length > MaxColumns) fail("column bomb")
        val dicts = reader.getDictionaryVectors
        val types = fields.map(typeString(_, id =>
          Option(dicts.get(id)).getOrElse(fail("dict id unknown")).getVector.getField))
        val rows = Array.newBuilder[Array[Any]]
        while (reader.loadNextBatch()) {
          val n = root.getRowCount
          if (n < 0 || n > MaxRows) fail("row bomb")
          dicts.values.asScala.foreach { d =>
            if (d.getVector.getValueCount > MaxDictionary) fail("dict bomb")
            validate(d.getVector)
          }
          root.getFieldVectors.forEach(validate(_))
          val cols = root.getFieldVectors.asScala.map(cells(_, dicts.get(_))).toArray
          var r = 0
          while (r < n) {
            rows += Array.tabulate[Any](cols.length)(c => cols(c)(r))
            r += 1
          }
        }
        ArrowTable(fields.map(_.getName), types, rows.result())
      } finally reader.close()
    }
    alloc.close()
    table
  }

  /** Read an Arrow IPC FILE or STREAM; null on damage/profile gap. */
  def read(b: Array[Byte]): ArrowTable =
    try readOrThrow(b) catch { case NonFatal(_) => null }

  /** Forensic class for the decode taxonomy. */
  def decodeClass(b: Array[Byte]): String =
    if (!isArrowFile(b) && !isArrowStream(b)) "not_arrow"
    else try { readOrThrow(b); "ok" }
    catch {
      case e: Err if e.getMessage.startsWith("type profile") => "unsupported_profile"
      case _: UnsupportedOperationException => "unsupported_profile" // e.g. Decimal64
      case NonFatal(_) => "corrupt"
    }
}
