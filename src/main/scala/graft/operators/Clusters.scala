package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** Duplicate-cluster canonicalization: near-dup detection yields PAIRS;
  * deduplication needs CLUSTERS (connected components of the pair graph)
  * so each family keeps exactly one canonical document.
  *
  * Min-label propagation: every node starts labeled with its own id and
  * repeatedly takes the minimum label among itself and its neighbors —
  * the classic large-graph CC algorithm (what GraphX/GraphFrames run),
  * expressed in DataFrames. Converges in O(component diameter)
  * iterations; near-dup families are shallow (diameter ≤ 3-4 in
  * practice), and `MaxIter` bounds pathological chains.
  *
  * Scale design: each iteration is one join + one aggregation, both
  * partitioned by node id, and costs exactly ONE driver action (a
  * `count` of changed labels that doubles as the cache materialization).
  * Lineage is truncated by persisting each iteration and unpersisting
  * the previous one. The initial labels, and the labels every
  * `CheckpointEvery` iterations, are cut eagerly by [[Tables.cutLineage]],
  * the engine's one cut policy: with a checkpoint dir, an executor loss
  * on a real cluster then replays at most `CheckpointEvery` iterations
  * instead of the whole history (local blocks, the fallback, die with
  * an executor — acceptable in a single-JVM session).
  */
object Clusters {

  private val MaxIter = 100        // deeper components fail loudly
  private val CheckpointEvery = 5  // iterations between periodic cuts

  /** Connected components of an undirected pair graph.
    * Input: (id_a, id_b) edges. Output: (id, cluster_id) for every node
    * that appears in at least one pair, cluster_id = min id reachable.
    *
    * Two regimes, guarded like `Dedup.verifyPairs`' broadcast path:
    * near-dup pair graphs are usually MUCH smaller than the corpus (the
    * whole point of blocking), so when the edge count is at most
    * `localEdgeLimit` (default 500k — honest accounting: boxed collect
    * tuples + LongMap + result list + LocalRelation re-encode total
    * ≈ 2× the raw bytes, so 500k edges ≈ 200 MB transient peak, safe
    * under a default 1g driver; graphs of 0.5-2M edges on bigger
    * drivers can raise the limit explicitly, e.g. for deep-chain
    * graphs the iterative path handles poorly) and ids are integral,
    * the components
    * are solved in one pass of union-find on the driver — zero
    * iterations, zero per-iteration shuffles, one collect of an
    * already-materialized tiny table. Larger graphs take the
    * distributed min-label-propagation loop below. The local path casts
    * its output back to the (single) input id type, so for same-width
    * integral ids the result schema does not depend on which regime
    * ran; mixed-width id columns always take the distributed loop.
    */
  def connectedComponents(pairs: DataFrame,
      localEdgeLimit: Long = 500000L): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
    val idType = pairs.schema("id_a").dataType
    val e0 = pairs.select(col("id_a"), col("id_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Local path requires integral ids of the SAME width on both sides:
    // mixed (int, bigint) columns would make the output cast lossy (a
    // bigint id above Int.MaxValue cast to the int side's type throws
    // under ANSI). Mixed-width graphs take the distributed loop, whose
    // union coerces to the wider type.
    val integralIds = e0.schema.fields.forall(f =>
      f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType) &&
      e0.schema.fields.map(_.dataType).distinct.length == 1
    // The count is the materialization the algorithm needs anyway (every
    // path reads the edges at least once from the cache it fills).
    if (integralIds && e0.count() <= localEdgeLimit) {
      import spark.implicits._
      // Primitive-long collect (no Row boxing) + specialized LongMap.
      val edgeArr = e0.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect()
      e0.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // Union by MIN: the smaller root becomes the representative, so the
      // final root of every set is its minimum id — same labels as the
      // distributed min-propagation loop.
      edgeArr.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      return parent.keysIterator.map(id => (id, find(id))).toSeq
        .toDF("id", "cluster_id")
        .select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }
    val edges = e0
      .union(e0.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = Tables.cutLineage(edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id")), eager = true)
    // The eager label init above materialized `edges`; from here the loop
    // only reads the edges cache, so the single-direction e0 copy is dead
    // weight — drop it now rather than holding 1.5× the edge data through
    // every iteration.
    e0.unpersist()

    var converged = false
    var i = 0
    var prev: DataFrame = null
    while (!converged && i < MaxIter) {
      val neighborMin = edges
        .join(labels, edges("id_b") === labels("id"))
        .groupBy(edges("id_a").as("id"))
        .agg(min("label").as("nlabel"))
      var updated = labels.withColumnRenamed("label", "old")
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("nlabel"), col("old"))).as("label"),
          col("old"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // ONE driver action per iteration: the convergence count is also
      // what materializes the persist (so the next iteration's join reads
      // the cache, not the lineage).
      converged = updated.where(col("label") =!= col("old")).count() == 0L
      if ((i + 1) % CheckpointEvery == 0 && !converged) {
        // Periodic checkpoint bounds both lineage depth and replay-on-
        // failure cost on deep components.
        val snap = Tables.cutLineage(updated.select("id", "label", "old"), eager = true)
        updated.unpersist()
        updated = snap
      }
      if (prev != null) prev.unpersist()
      prev = updated
      labels = updated.select("id", "label")
      i += 1
    }
    edges.unpersist()
    // Unconverged labels are WRONG (a node may point at an id that itself
    // migrated to a lower cluster), and a wrong cluster_id silently breaks
    // keeper selection downstream — fail loudly instead.
    if (!converged) {
      if (prev != null) prev.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxIter iterations " +
          s"(component diameter exceeds $MaxIter); for deep-chain graphs " +
          s"that fit the driver, raise localEdgeLimit so the union-find " +
          s"path (no iteration bound) takes them")
    }
    // The final labels stay persisted: the caller consumes them lazily and
    // the last iteration's cache is the result's only materialization.
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Full dedup-cluster assignment for a text corpus: MinHash near-dup
    * pairs → components → (doc, cluster, is_keeper). Documents in no
    * pair are their own singleton cluster.
    *
    * `connectedComponents` materializes the pair stream (its convergence
    * counts pull every edge through the near-dup pipeline), after which
    * the operator's shingle cache is dead weight — it is unpersisted here
    * so a long-lived session doesn't accumulate one cache entry per call.
    */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val (pairs, shingleCache) =
      Dedup.minhashNearDupsCached(docs, idCol, textCol, threshold = threshold)
    try clustersOver(docs, idCol, pairs)
    finally shingleCache.unpersist()
  }

  /** Cluster assignment for an arbitrary (id_a, id_b) pair stream over a
    * universe table: every universe row gets a cluster (singletons keep
    * their own id) and a canonical-keeper flag. The composition point
    * for ensemble dedup — union pair streams from different detectors
    * (text MinHash, embedding cosine, SimHash…) and cluster once.
    */
  def clustersOver(universe: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs.select("id_a", "id_b"))
    universe.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .withColumn("is_keeper", (col(idCol) === col("cluster_id")).cast("boolean"))
  }

  /** Quality-aware dedup: cluster as [[clustersOver]], but the keeper is
    * the cluster's argmax of `scoreCol` (smallest id on ties) instead of
    * the min-label canonical id — "keep the best copy", the rule real
    * curation pipelines want when near-dups differ in quality.
    *
    * The argmax is a struct-max aggregation (one partial-aggregated
    * shuffle, order-free and exact given a totalized (score, id) order),
    * not a window sort.
    */
  def keepBestPerCluster(universe: DataFrame, idCol: String,
      pairs: DataFrame, scoreCol: Column): DataFrame = {
    val assigned = clustersOver(universe, idCol, pairs)
      .select(col(idCol), col("cluster_id"))
    // Referenced twice (the per-cluster argmax and the final keeper
    // join), deliberately NOT materialized: both references are one
    // corpus scan + a broadcast join against the small component table,
    // and re-running that is cheaper than persisting a corpus-sized
    // intermediate (measured: a lineage cut here bought nothing).
    val scored = universe.select(col(idCol), scoreCol.as("score"))
      .join(assigned, Seq(idCol))
    // max(struct(score, -id)) = (max score, min id on ties)
    val best = scored.groupBy("cluster_id")
      .agg(max(struct(col("score"), (-col(idCol)).as("__negid"))).as("__b"))
      .select(col("cluster_id"), (-col("__b.__negid")).as("__keep_id"))
    scored.join(best, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("score"),
        (col(idCol) === col("__keep_id")).as("is_keeper"))
  }
}
