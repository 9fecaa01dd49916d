package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helper for [[RowHashMd5]] — one static call per row from the
  * generated code. Kept outside the expression so codegen emits a plain
  * method invocation instead of an interpreted expression tree. The
  * digest instance is thread-local, as in [[Md5Hash60Util]]: `getInstance`
  * per row costs an allocation and a provider lookup.
  */
object RowHashUtil {
  private val mdPool = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val alphabet = "0123456789abcdef".getBytes

  def md5Sorted(cells: Array[UTF8String]): UTF8String = {
    // UTF8String.compareTo is binary (UTF-8 byte order) — identical to
    // Go sort.Strings on UTF-8 strings, Spark array_sort, DuckDB
    // list_sort. NULL cells arrive as EMPTY_UTF8 (reference: NULL → "").
    java.util.Arrays.sort(cells.asInstanceOf[Array[AnyRef]])
    val md = mdPool.get()
    md.reset()
    var i = 0
    while (i < cells.length) { md.update(cells(i).getBytes); i += 1 }
    val digest = md.digest()
    val hex = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      hex(j * 2) = alphabet((digest(j) >> 4) & 0xf)
      hex(j * 2 + 1) = alphabet(digest(j) & 0xf)
      j += 1
    }
    UTF8String.fromBytes(hex)
  }
}

/** The reference row hash (`/root/reference/etl.go:61-68`) as ONE codegen'd
  * expression: lowercase every cell, sort the cell VALUES binary-wise,
  * concatenate, MD5-hex.
  *
  * Replaces the `md5(array_join(array_sort(transform(...))))` built-in
  * composition: higher-order functions evaluate their lambdas interpreted
  * and push the whole projection out of whole-stage codegen — on the
  * transfer hot path that is the difference between the hash being free
  * inside the scan loop and a per-row interpreter round-trip. Semantics
  * and output are bit-identical to the composition (golden digests in
  * RowHashSpec, oracle hash-match in q5/q6/q7).
  */
case class RowHashMd5(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_row_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == StringType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_row_hash expects string cells")

  override def eval(input: InternalRow): Any = {
    val cells = new Array[UTF8String](children.length)
    var i = 0
    while (i < cells.length) {
      val v = children(i).eval(input)
      cells(i) =
        if (v == null) UTF8String.EMPTY_UTF8
        else v.asInstanceOf[UTF8String].toLowerCase
      i += 1
    }
    RowHashUtil.md5Sorted(cells)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.freshName("cells")
    val evals = children.map(_.genCode(ctx))
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"""
         |${e.code}
         |$arr[$i] = ${e.isNull} ? UTF8String.EMPTY_UTF8 : ${e.value}.toLowerCase();
       """.stripMargin
    }.mkString("\n")
    ev.copy(
      code = code"""
        |UTF8String[] $arr = new UTF8String[${children.length}];
        |$fill
        |UTF8String ${ev.value} = graft.expressions.RowHashUtil.md5Sorted($arr);
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object RowHashMd5 {
  /** Build from string-typed cell columns. */
  def of(cells: Seq[Column]): Column =
    ColumnBridge.column(RowHashMd5(cells.map(ColumnBridge.expression)))
}
