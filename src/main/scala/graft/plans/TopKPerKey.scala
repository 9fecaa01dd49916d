package graft.plans

import java.util.{Comparator, PriorityQueue}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.ColumnBridge

/** Custom whole-operator extension (SURVEY §7.3 preference tier (c)):
  * per-key top-k with bounded heaps.
  *
  * Spark expresses "top k rows per key" as `row_number().over(Window
  * .partitionBy(key).orderBy(...)) <= k`, whose physical plan SORTS every
  * partition in full — O(n log n) work and full materialization of each
  * key's rows, even though only k survive. This operator keeps an O(k)
  * heap per key: O(n log k) comparisons, O(#keys × k) memory, no sort
  * buffer, no spill pressure. At 100 TB (ANN candidate ranking: billions
  * of scored pairs, k=10) the difference is the job.
  *
  * Wiring: logical node → strategy → exec, attached per-session by
  * [[graft.GraftExtensions]] (idempotent). The exec demands
  * `ClusteredDistribution(keys)`, so Catalyst inserts the hash exchange —
  * and AQE still plans/coalesces that shuffle as usual. Output keeps the
  * child's partitioning, so a downstream rank-within-key window needs no
  * second shuffle.
  */
case class TopKPerKey(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child) =>
      TopKPerKeyExec(k, keys, order, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // Locals only: referencing case-class fields inside the closure would
    // capture `this` (a SparkPlan) and fail serialization.
    val kLocal = k
    val keyExprs = keys
    val sortOrder = order
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      // Ascending in `sortOrder` terms = "better"; the heap is a MAX-heap
      // (reverse comparator) holding the k best seen, evicting its worst.
      // Rows stay InternalRow — no UnsafeRow assumption, since a child
      // that already satisfies the distribution (pre-partitioned cache,
      // codegen fallback) may emit other row classes.
      val ordering = GenerateOrdering.generate(sortOrder, childOutput)
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val heaps = new java.util.HashMap[UnsafeRow, PriorityQueue[InternalRow]]()
      val reverse: Comparator[InternalRow] =
        (a: InternalRow, b: InternalRow) => ordering.compare(b, a)
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new PriorityQueue[InternalRow](kLocal, reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Column-level API. */
object TopK {
  /** Keep the top `k` rows per `keyCols` group, "top" defined by `order`
    * (e.g. `Seq(col("score").desc, col("id").asc)`). Unordered within a
    * group — add a window rank afterwards if ranks are needed (it will
    * reuse this operator's partitioning, no extra shuffle).
    */
  def perKey(df: DataFrame, keyCols: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    require(k > 0, s"top-k requires k > 0, got $k")
    val spark = df.sparkSession
    graft.GraftExtensions.ensureStrategy(spark)
    val keyExprs = keyCols.map(c => ColumnBridge.expression(df(c)))
    val sortOrder = order.map { c =>
      ColumnBridge.catalystExpression(c) match {
        case so: SortOrder => so
        case e             => SortOrder(e, Ascending)
      }
    }
    ColumnBridge.ofRows(spark,
      TopKPerKey(k, keyExprs, sortOrder, ColumnBridge.logicalPlan(df)))
  }
}
