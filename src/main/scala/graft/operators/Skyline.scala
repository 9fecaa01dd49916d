package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto frontier): rows not dominated on a
  * (minimize `costCol`, maximize `gainCol`) objective pair — "cheapest
  * for its quality" product/supplier shortlists, the classic
  * Börzsönyi et al. 2001 OLAP operator.
  *
  * Domination is STRICT-in-one-coordinate: q dominates p iff
  * `q.cost <= p.cost && q.gain >= p.gain` and at least one inequality
  * is strict. Exact duplicates (same cost AND gain) do not dominate
  * each other, so every copy of a frontier point survives — the
  * deterministic convention an external SQL `NOT EXISTS` oracle
  * replays directly.
  *
  * Scale shape — the textbook single-window formulation
  * (`max(gain) OVER (ORDER BY cost)`) collapses the whole table into
  * ONE partition, the exact WindowExec anti-pattern this engine bans.
  * Instead the frontier test decomposes over fixed-width cost buckets
  * (the same two-level decomposition as the lateness audit and
  * shuffle-order rank):
  *
  *   dominated(p) ⇔  ∃q in a strictly-cheaper BUCKET with gain ≥ p.gain
  *                ∨  ∃q in p's bucket with q.cost < p.cost ∧ gain ≥ p.gain
  *                ∨  ∃q with q.cost = p.cost ∧ q.gain > p.gain
  *
  * The cross-bucket term needs only the per-bucket gain maxima — a
  * ≤`(cost range / bucketWidth)`-row aggregate whose prefix-max window
  * runs over that TINY frame and broadcasts back. The within-bucket
  * terms are two window passes partitioned by bucket (hash-distributed,
  * skew-balanced by AQE). Costs and gains are integers (exact-cents /
  * counts), so every comparison is engine-exact.
  */
object Skyline {

  /** Append `is_frontier` to `df`. `costCol`/`gainCol` must be integral
    * (cast money to cents first); `bucketWidth` is the cost-bucket size
    * (any positive value — correctness is width-independent, only the
    * size of the broadcast bucket table changes).
    */
  def frontier2d(df: DataFrame, costCol: String, gainCol: String,
      bucketWidth: Long = 1000L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val cost = col(costCol).cast("long")
    val gain = col(gainCol).cast("long")
    val bucketed = df.withColumn("__bk", floor(cost / lit(bucketWidth)))

    // Per-bucket maxima, prefix-maxed over STRICTLY cheaper buckets.
    // The window is single-partition but runs over ≤ #buckets rows.
    val bw = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketMax = bucketed.groupBy("__bk")
      .agg(max(gain).as("__bmax"))
      .withColumn("__prevmax", max(col("__bmax")).over(bw))
      .select(col("__bk"), col("__prevmax"))

    // Within-bucket: strictly-cheaper running max (RANGE frame on the
    // integer cost excludes cost ties), and same-cost max.
    val wCheaper = Window.partitionBy("__bk").orderBy(cost)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy(cost)
    val lo = lit(Long.MinValue)
    bucketed
      .join(broadcast(bucketMax), Seq("__bk"), "left")
      .withColumn("__inmax", max(gain).over(wCheaper))
      .withColumn("__samemax", max(gain).over(wSame))
      .withColumn("is_frontier",
        !(coalesce(col("__prevmax"), lo) >= gain ||
          coalesce(col("__inmax"), lo) >= gain ||
          col("__samemax") > gain))
      .drop("__bk", "__prevmax", "__inmax", "__samemax")
  }
}
