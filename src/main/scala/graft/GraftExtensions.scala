package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Hex, Lower}
import graft.expressions.{FloatVecDot, SortedLongIntersectCount, SortedLongJaccardGE, TypedRowHash}
import graft.plans.{RegexPrefixRewrite, ScanBoundsStrategy, TopKStrategy}

/** Session wiring for graft's custom Catalyst pieces, so SQL users get
  * them too:
  *
  *   - `spark.sql.extensions=graft.GraftExtensions` (config path, applies
  *     at session build — the spark-submit way), or
  *   - `graft.GraftExtensions.register(spark)` at runtime on an existing
  *     session. Every entry point of this repo registers through
  *     [[GraftSession]]; call it yourself on a session built elsewhere.
  *
  * Registers two planner strategies, [[graft.plans.TopKStrategy]]
  * (per-key top-k with bounded heaps) and [[graft.plans.ScanBoundsStrategy]]
  * (file scans whose filter constants do not shape generated code), the
  * regex-rewrite optimizer rule, and the SQL functions enumerated in
  * [[GraftExtensions.functions]] — that Seq is the single source of
  * truth; currently `graft_row_hash(cells…)`,
  * `float_vec_dot(a, b)`, `sorted_long_intersect_count(a, b)`,
  * `sorted_long_jaccard_ge(a, b, threshold)`, and
  * `graft_nfc_normalize(s)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    e.injectOptimizerRule(_ => RegexPrefixRewrite)
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  private def binary(name: String, f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 2) throw new IllegalArgumentException(
      s"$name requires exactly 2 arguments, got ${exprs.length}")
    f(exprs(0), exprs(1))
  }

  private[graft] val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_row_hash",
      info(classOf[TypedRowHash], "graft_row_hash",
        "_FUNC_(cells...) - order/case-insensitive MD5 row hash, as hex"),
      (exprs: Seq[Expression]) => Lower(Hex(TypedRowHash(exprs)))),
    ("float_vec_dot",
      info(classOf[FloatVecDot], "float_vec_dot",
        "_FUNC_(a, b) - double dot product of float arrays"),
      binary("float_vec_dot", FloatVecDot(_, _))),
    ("sorted_long_intersect_count",
      info(classOf[SortedLongIntersectCount], "sorted_long_intersect_count",
        "_FUNC_(a, b) - intersection size of two sorted distinct bigint arrays"),
      binary("sorted_long_intersect_count", SortedLongIntersectCount(_, _))),
    ("sorted_long_jaccard_ge",
      info(classOf[SortedLongJaccardGE], "sorted_long_jaccard_ge",
        "_FUNC_(a, b, t) - Jaccard of two sorted distinct bigint arrays when >= t, else -1.0 (early exit)"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 3) throw new IllegalArgumentException(
          s"sorted_long_jaccard_ge requires exactly 3 arguments, got ${exprs.length}")
        SortedLongJaccardGE(exprs(0), exprs(1), exprs(2))
      }),
    ("graft_nfc_normalize",
      info(classOf[graft.expressions.NfcNormalize], "graft_nfc_normalize",
        "_FUNC_(s) - Unicode NFC normalization (codegen'd, ASCII fast path)"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 1) throw new IllegalArgumentException(
          s"graft_nfc_normalize requires exactly 1 argument, got ${exprs.length}")
        graft.expressions.NfcNormalize(exprs(0))
      }),
  )

  private[graft] val strategies = Seq(TopKStrategy, ScanBoundsStrategy)

  /** Attach the planner strategies to a live session (idempotent). */
  def ensureStrategy(spark: SparkSession): Unit = {
    val present = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = present ++ strategies.filterNot(present.contains)
  }

  /** Attach the regex-rewrite optimizer rule to a live session
    * (idempotent — `extraOptimizations` is the runtime counterpart of
    * `injectOptimizerRule`).
    */
  def ensureOptimizerRules(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(RegexPrefixRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RegexPrefixRewrite
    }

  /** Runtime registration on an existing session (idempotent). */
  def register(spark: SparkSession): Unit = {
    ensureStrategy(spark)
    ensureOptimizerRules(spark)
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
  }
}
