package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD1 upsert (MERGE INTO semantics as a batch operator): apply a
  * changes batch onto a target snapshot — matched keys take the update's
  * values, unmatched update keys insert, untouched target rows carry
  * through. This is the write-side half of the reference's incremental
  * transfer: its dedup filter decides WHAT is new; this operator folds
  * the new batch into the standing table.
  *
  * Scale shape: one full-outer shuffle join on the key columns — AQE
  * broadcasts the (typically small) updates side automatically, making
  * the target-side pass shuffle-free; with both sides bucketed on the
  * key ([[Bucketing]]) the join is zero-exchange. No driver state, no
  * collected key set — the 100 TB-safe form of the reference's in-RAM
  * snapshot map.
  */
object Merge {

  /** Returns the merged table plus an `action` column
    * (updated / inserted / kept). `updates` must share the target's
    * schema. Key columns must be non-null on both sides.
    */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String])
      : DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(target.columns.toSeq == updates.columns.toSeq,
      s"schema mismatch: target ${target.columns.mkString(",")} vs " +
        s"updates ${updates.columns.mkString(",")}")
    val t = target.columns.foldLeft(target)((d, c) =>
      d.withColumnRenamed(c, s"__t_$c"))
    val u = updates.columns.foldLeft(updates)((d, c) =>
      d.withColumnRenamed(c, s"__u_$c"))
    val cond = keys.map(k => t(s"__t_$k") === u(s"__u_$k")).reduce(_ && _)
    val joined = t.join(u, cond, "full_outer")
    val matched = col(s"__u_${keys.head}").isNotNull &&
      col(s"__t_${keys.head}").isNotNull
    val inserted = col(s"__t_${keys.head}").isNull
    val outCols = target.columns.toSeq.map { c =>
      coalesce(col(s"__u_$c"), col(s"__t_$c")).as(c)
    }
    joined.select(outCols :+
      when(inserted, lit("inserted"))
        .when(matched, lit("updated"))
        .otherwise(lit("kept")).as("action"): _*)
  }

  /** SCD type-2 apply: close each key's CURRENT history row
    * (valid_to IS NULL) at `version` when a change arrives for it, and
    * append every change row as the new current version
    * (valid_from = version, valid_to = NULL). Non-matched history rows
    * and already-closed versions carry through untouched — the
    * dimension keeps its full change history instead of [[upsert]]'s
    * overwrite.
    *
    * `history` = changes' columns + (valid_from INT, valid_to INT).
    * Scale shape: ONE equi-join of history against the change keys
    * (AQE broadcasts a small change batch, so the standing history is
    * a single pass) + a union with the change rows; nothing driver-side.
    */
  def scd2(history: DataFrame, changes: DataFrame, keys: Seq[String],
      version: Int): DataFrame = {
    require(keys.nonEmpty, "scd2 needs at least one key column")
    require(history.columns.toSeq ==
      changes.columns.toSeq ++ Seq("valid_from", "valid_to"),
      s"history must be changes' schema + (valid_from, valid_to); got " +
        s"history ${history.columns.mkString(",")} vs " +
        s"changes ${changes.columns.mkString(",")}")
    val hit = changes.select(keys.map(col): _*).distinct()
      .withColumn("__hit", lit(1))
    val closed = history.join(hit, keys, "left")
      .withColumn("valid_to",
        when(col("__hit").isNotNull && col("valid_to").isNull, lit(version))
          .otherwise(col("valid_to")))
      .drop("__hit")
    val appended = changes
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("integer"))
    closed.unionByName(appended)
  }

  /** CDC changelog APPLY — the inverse of [[snapshotDiff]]: collapse an
    * ordered stream of per-key change records (upserts and deletes) to
    * the final table state. Last writer wins per key, ordered by
    * `(orderCols)` (must be a TOTAL order per key — include a unique
    * tiebreaker like the change id); keys whose LAST record is a delete
    * disappear.
    *
    * Scale shape: one partial-aggregated `max_by(payload, order)`
    * groupBy — a single shuffle carrying one row per key out of the
    * map side. The textbook window formulation
    * (`row_number() OVER (PARTITION BY key ORDER BY … DESC) = 1`) sorts
    * every key's full change history; `max_by`'s partial aggregation
    * reduces each partition to one candidate per key before the
    * exchange, which at a 100 TB changelog is the difference between
    * shuffling the history and shuffling the keys.
    */
  /** The winning (max-`orderCols`) row per key, INCLUDING delete
    * winners — the tombstone-preserving form [[applyCdc]] filters and
    * incremental appliers must keep: physically dropping a deleted key
    * loses the delete's order position, and any older change for that
    * key arriving in a later batch would silently resurrect it.
    */
  def latestPerKey(changes: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && orderCols.nonEmpty)
    val payload = changes.columns.filterNot(keys.contains).toSeq
    changes.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(orderCols.map(col): _*)).as("__last"))
      .select(keys.map(col) ++ payload.map(c => col(s"__last.$c").as(c)): _*)
  }

  def applyCdc(changes: DataFrame, keys: Seq[String], orderCols: Seq[String],
      deleteCol: String): DataFrame =
    latestPerKey(changes, keys, orderCols).where(!col(deleteCol))

  /** Snapshot diff (CDC classify): compare two versions of a table on a
    * key and emit one row per divergence — `insert` (key only in new),
    * `delete` (key only in old), `update` (key in both, compared columns
    * differ). Unchanged keys are dropped. Change detection runs on the
    * reference's value-sorted MD5 row hash ([[graft.functions.RowHash]]),
    * so wide rows compare via one codegen'd digest, not N column
    * equality tests — the same contract the reference's incremental
    * mode uses for its snapshot set.
    *
    * Scale shape: each side reduces to (key, 16-byte hash) in a narrow
    * map BEFORE the one full-outer shuffle join — the join carries
    * hashes, never the compared payload columns.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty)
    val keyCols = keys.map(col)
    val o = oldDf.select(keyCols :+
      graft.functions.RowHash.digestOfColumns(oldDf, compareCols).as("__h_old"): _*)
    val n = newDf.select(keyCols :+
      graft.functions.RowHash.digestOfColumns(newDf, compareCols).as("__h_new"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("change_type",
        when(col("__h_old").isNull, lit("insert"))
          .when(col("__h_new").isNull, lit("delete"))
          .when(col("__h_old") =!= col("__h_new"), lit("update")))
      .where(col("change_type").isNotNull)
      .select(keyCols :+ col("change_type"): _*)
  }
}
