package graft.expressions

import java.security.MessageDigest
import java.time.ZoneId

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Working buffer of [[TypedRowHash]]: one row's cells, each written as its
  * lowercased universal encoding back to back into one reused byte buffer,
  * then the value-sorted MD5 of the slices. Not thread-safe — generated code
  * holds one per generated-class instance (one task), the interpreted path
  * one per thread.
  *
  * A NULL or empty cell writes no slice: it adds no bytes to the digest
  * wherever it sorts (reference: NULL → "").
  */
final class RowHashEncoder(zone: ZoneId) {
  private var buf = new Array[Byte](256)
  private var pos = 0
  private var starts = new Array[Int](16)
  private var ends = new Array[Int](16)
  private var order = new Array[Int](16)
  private var n = 0
  private val md = MessageDigest.getInstance("MD5")
  // Dates and timestamps print through Spark's own formatter, the one
  // `date_format` (and so `UniversalType.universalCell`) uses.
  private lazy val dateFormatter = TimestampFormatter(
    "yyyy-MM-dd", zone, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false)
  private lazy val timeFormatter = TimestampFormatter(
    "yyyy-MM-dd'T'HH:mm:ss", zone, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false)

  def reset(): Unit = { pos = 0; n = 0 }

  /** Open the next cell with room for `bytes` more. */
  private def open(bytes: Int): Unit = {
    if (pos + bytes > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + bytes))
    if (n == starts.length) {
      starts = java.util.Arrays.copyOf(starts, n * 2)
      ends = java.util.Arrays.copyOf(ends, n * 2)
      order = java.util.Arrays.copyOf(order, n * 2)
    }
    starts(n) = pos
  }

  private def close(): Unit = { ends(n) = pos; n += 1 }

  private def put(b: Int): Unit = { buf(pos) = b.toByte; pos += 1 }

  /** Decimal digits, as `CAST(v AS STRING)` prints an integral. */
  def putLong(v: Long): Unit = {
    open(20)
    if (v < 0) put('-')
    // digits of the non-positive value, so Long.MinValue needs no case
    var x = if (v < 0) v else -v
    val from = pos
    while ({ put('0' - (x % 10).toInt); x /= 10; x != 0 }) ()
    var i = from
    var j = pos - 1
    while (i < j) {
      val t = buf(i); buf(i) = buf(j); buf(j) = t
      i += 1; j -= 1
    }
    close()
  }

  /** `Float.toString`, which is what `CAST(v AS STRING)` prints. */
  def putFloat(v: Float): Unit = putAscii(java.lang.Float.toString(v))

  /** `Double.toString`, which is what `CAST(v AS STRING)` prints. */
  def putDouble(v: Double): Unit = putAscii(java.lang.Double.toString(v))

  private def putAscii(s: String): Unit = { open(s.length); putChars(s); close() }

  /** An ASCII string's lowercased chars, into the open cell. */
  private def putChars(s: String): Unit = {
    var i = 0
    while (i < s.length) { put(Character.toLowerCase(s.charAt(i))); i += 1 }
  }

  /** A string cell, lowercased: ASCII in place, anything else through
    * `UTF8String.toLowerCase`.
    */
  def putString(s: UTF8String): Unit = {
    val len = s.numBytes
    if (len > 0) {
      open(len)
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      val end = pos + len
      var i = pos
      while (i < end && buf(i) >= 0) {
        if (buf(i) >= 'A' && buf(i) <= 'Z') buf(i) = (buf(i) + 32).toByte
        i += 1
      }
      if (i == end) pos = end
      else {
        val lower = s.toLowerCase
        open(lower.numBytes)
        lower.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += lower.numBytes
      }
      close()
    }
  }

  /** A date as `yyyy-MM-dd`. */
  def putDate(days: Int): Unit =
    putAscii(dateFormatter.format(DateTimeUtils.daysToMicros(days, zone)))

  /** A timestamp as RFC3339 in the session time zone, lowercased: local
    * `yyyy-MM-ddTHH:mm:ss`, then the millis with trailing zeros trimmed
    * (none when zero), then a literal `z` — `UniversalType.formatRfc3339`.
    */
  def putTimestamp(micros: Long): Unit = {
    val base = timeFormatter.format(micros)
    val millis = (Math.floorMod(micros, 1000000L) / 1000).toInt
    open(base.length + 5)
    putChars(base)
    if (millis != 0) {
      put('.'); put('0' + millis / 100)
      if (millis % 100 != 0) put('0' + millis / 10 % 10)
      if (millis % 10 != 0) put('0' + millis % 10)
    }
    put('z')
    close()
  }

  /** Sort the cells by unsigned bytes — `UTF8String.compareTo`'s order —
    * and MD5 them in that order. Binary insertion sort: a
    * row has few cells, and the moves are one `arraycopy` each.
    */
  def digest(): Array[Byte] = {
    var i = 0
    while (i < n) {
      var lo = 0
      var hi = i
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val o = order(mid)
        if (java.util.Arrays.compareUnsigned(
            buf, starts(o), ends(o), buf, starts(i), ends(i)) <= 0) lo = mid + 1
        else hi = mid
      }
      System.arraycopy(order, lo, order, lo + 1, i - lo)
      order(lo) = i
      i += 1
    }
    i = 0
    while (i < n) {
      val c = order(i)
      md.update(buf, starts(c), ends(c) - starts(c))
      i += 1
    }
    md.digest()
  }
}

/** The reference row hash (`etl.go:61-68`) as one codegen'd expression over
  * typed cells: each cell's universal encoding, lowercased, sorted by value
  * (not by column), concatenated and MD5'd, as the 16 raw bytes of the
  * digest. Callers that need the 32-char hex of `contract.proto` wrap it in
  * `lower(hex(…))`.
  *
  * Cells are encoded straight into one buffer, without a string per cell:
  * integrals as decimal digits, float/double as `Float`/`Double.toString`
  * (Spark's cast to string), dates as `yyyy-MM-dd`, timestamps as
  * RFC3339-with-optional-millis in the session time zone, strings as they
  * are. Any other type is rejected: encode it first with
  * `UniversalType.universalCell`, as `graft.functions.RowHash` does. The
  * output equals `md5(array_join(array_sort(transform(array(universalCell…),
  * lower)), ''))` bit for bit (TypedRowHashSpec), and unlike that
  * composition — whose lambda is interpreted — it stays inside
  * whole-stage codegen.
  */
case class TypedRowHash(
    children: Seq[Expression],
    timeZoneId: Option[String] = None)
  extends Expression with TimeZoneAwareExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_row_hash"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => TypedRowHash.put(c.dataType).isEmpty) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"graft_row_hash cannot encode a ${c.dataType.simpleString} cell; " +
          "encode it with UniversalType.universalCell first")
    }

  @transient private lazy val cells = children.toArray
  @transient private lazy val puts = cells.map(c => TypedRowHash.put(c.dataType).get._2)
  @transient private lazy val encoders =
    ThreadLocal.withInitial[RowHashEncoder](() => new RowHashEncoder(zoneId))

  override def eval(input: InternalRow): Any = {
    val enc = encoders.get()
    enc.reset()
    var i = 0
    while (i < cells.length) {
      val v = cells(i).eval(input)
      if (v != null) puts(i)(enc, v)
      i += 1
    }
    enc.digest()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val encClass = classOf[RowHashEncoder].getName
    val zone = ctx.addReferenceObj("zone", zoneId, classOf[ZoneId].getName)
    val enc = ctx.addMutableState(encClass, "rowHashEncoder",
      v => s"$v = new $encClass($zone);")
    val fill = children.map { c =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |if (!${e.isNull}) $enc.${TypedRowHash.put(c.dataType).get._1}(${e.value});
       """.stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(fill, funcName = "rowHashCells")
    ev.copy(
      code = code"""
        |$enc.reset();
        |$body
        |byte[] ${ev.value} = $enc.digest();
      """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object TypedRowHash {

  /** The encoder call for a cell type — its name in generated code and its
    * interpreted form — or None for a type encoded upstream.
    */
  private[graft] def put(dt: DataType): Option[(String, (RowHashEncoder, Any) => Unit)] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(("putLong", (e, v) => e.putLong(v.asInstanceOf[Number].longValue)))
      case FloatType => Some(("putFloat", (e, v) => e.putFloat(v.asInstanceOf[Float])))
      case DoubleType => Some(("putDouble", (e, v) => e.putDouble(v.asInstanceOf[Double])))
      case DateType => Some(("putDate", (e, v) => e.putDate(v.asInstanceOf[Int])))
      case TimestampType => Some(("putTimestamp", (e, v) => e.putTimestamp(v.asInstanceOf[Long])))
      case _: StringType => Some(("putString", (e, v) => e.putString(v.asInstanceOf[UTF8String])))
      case _ => None
    }
}
