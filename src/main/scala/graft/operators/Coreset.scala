package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy k-center coreset over an embedding column — diversity
  * sampling: pick the k vectors that best COVER the corpus (each new
  * pick is the point farthest from everything picked so far). The
  * 2-approximation of Gonzalez 1985, the standard seed set for
  * diverse fine-tuning subsets, active-learning batches, and IVF
  * coarse quantizers that must not collapse onto the densest cluster
  * (which is exactly what frequency-weighted k-means seeds do).
  *
  * Determinism contract: seed = lowest id; each round's pick is the
  * argmax of (min-distance-to-centers, then lowest id) with distances
  * in EXACT fixed-point integers (components at 2²⁰; squared L2 of
  * 64-dim vectors stays ≤ 2⁵³) — so the greedy trajectory is
  * bit-identical under any partitioning and replays in serial SQL.
  *
  * Scale shape: one narrow quantization pass, then k-1 rounds of
  * (broadcast 1-row center → narrow min-distance update → 1-row
  * argmax collect). The per-round collect is ONE row (same bounded-
  * collect budget as Kmeans' k×dim centroids); the corpus never
  * shuffles — every round is a map over the persisted quantized
  * table. Cost: k scans of the corpus, the canonical k-center trade.
  */
object Coreset {

  /** The k greedy centers as (rank, id, radius_sq) — `radius_sq` is
    * the picked point's distance² to the previously chosen set (the
    * coverage radius achieved BEFORE this pick; 0 for the seed).
    *
    * The input must be NON-EMPTY (there is no seed otherwise —
    * enforced with a clear error). If the corpus is exhausted before
    * k picks — fewer than k distinct vectors, so the farthest
    * remaining point sits at distance 0 — the trajectory SHORT-
    * CIRCUITS and returns the < k centers that already cover every
    * point exactly, rather than silently re-picking covered points.
    */
  def kCenters(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val scale = 1048576L // 2^20
    val q = df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => round(x.cast("double") * scale).cast("long")).as("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def d2(center: Seq[Long]) = {
      val c = typedLit(center)
      aggregate(zip_with(col("u"), c, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    }

    val seedRows = q.orderBy("id").select("id", "u")
      .as[(Long, Seq[Long])].take(1)
    require(seedRows.nonEmpty,
      "kCenters: input table is empty — no seed point to start from")
    val seed = seedRows.head
    val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)](
      (1, seed._1, 0L))
    var state = q.select(col("id"), col("u"), d2(seed._2).as("mind"))
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      // the engine's one lineage-cut policy
      state = graft.sources.Tables.cutLineage(state)
      val next = state.orderBy(col("mind").desc, col("id"))
        .select("id", "u", "mind").as[(Long, Seq[Long], Long)].head()
      if (next._3 == 0L) {
        // max min-distance is 0: every point coincides with a picked
        // center — further picks would be duplicates with radius 0.
        exhausted = true
      } else {
        picked += ((r, next._1, next._3))
        state = state.select(col("id"), col("u"),
          least(col("mind"), d2(next._2)).as("mind"))
        r += 1
      }
    }
    picked.toSeq.toDF("rank", "id", "radius_sq")
  }
}
