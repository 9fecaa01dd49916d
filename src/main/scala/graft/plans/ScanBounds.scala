package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** A constant of a scan filter, held by reference rather than inlined.
  *
  * `Literal` writes a timestamp, date, int or long into the generated Java
  * as a constant, so two plans that differ only in a bound compile two
  * classes. This leaf generates the same text whatever its value: the
  * value travels in the generated class's `references` array (as Spark
  * already passes string literals) and is unboxed once, into a field, when
  * the class is initialised. It evaluates, prints and canonicalises as the
  * `Literal` it replaces.
  */
case class HeldLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override lazy val canonicalized: Expression = literal

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("heldLiteral", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "heldLiteral",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Spark's `FileSourceStrategy`, with the constants that the scan's
  * `FilterExec` compares against held as [[HeldLiteral]]s. A scheduled
  * transfer scans a new cursor window on every tick; with the bounds held,
  * each tick generates the same code, and Spark's codegen cache returns
  * the class an earlier window already compiled (and the JIT already
  * warmed).
  *
  * The rewrite runs after physical planning, so the logical plan, constant
  * folding and the scan's `PushedFilters`/`DataFilters` still see the
  * original literals: parquet still skips row groups outside the window.
  * Only literal operands of a comparison are held: those are the bounds a
  * scheduled scan moves. A literal argument elsewhere (a `round` scale, a
  * `substring` position) is part of the query's shape and stays inlined.
  */
object ScanBoundsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case f: FilterExec => f.copy(condition = hold(f.condition))
    })

  private def hold(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map {
      case Literal(v, t) if v != null && held(t) => HeldLiteral(v, t)
      case e => e
    })
  }

  private def held(t: DataType): Boolean = t match {
    case TimestampType | TimestampNTZType | DateType | IntegerType | LongType => true
    case _ => false
  }
}
