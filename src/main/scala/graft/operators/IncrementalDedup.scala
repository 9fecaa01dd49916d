package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.RowHash

/** The reference's incremental dedup = a hash ANTI-JOIN of source rows
  * against the target window's row-hash set.
  *
  * Reference shape (`/root/reference/etl.go:25-48`, `consumer.go:78-98`,
  * `provider.go:160-178`): the consumer SELECTs the target window, hashes
  * every row into an in-RAM `map[string]bool`, ships the whole set to the
  * provider over gRPC, and the provider drops any source row whose hash is
  * present. That in-RAM set is the reference's scale ceiling.
  *
  * Spark shape: both sides stay DataFrames and the dedup is a `left_anti`
  * join on the hash. Catalyst/AQE picks broadcast-hash when the snapshot is
  * small (which IS the reference's ship-the-set design) and falls back to a
  * shuffled hash / sort-merge join when it isn't — removing the RAM cliff at
  * 100 TB. Nothing is ever collect()ed to the driver.
  */
object IncrementalDedup {

  private val H = "__graft_row_hash"

  /** A2 `GetSnapshot`: distinct row-hash set of the target window
    * (`consumer.go:88-97` — duplicate hashes collapse into a set), as
    * 16-byte digests; `lower(hex(…))` gives the wire format.
    */
  def snapshot(target: DataFrame, fields: Seq[String] = Seq.empty): DataFrame = {
    val t = if (fields.isEmpty) target else target.select(fields.map(col): _*)
    rowHashes(t).distinct()
  }

  /** Every target row's 16-byte hash digest, duplicates kept: all
    * [[filter]] needs, as its `left_anti` join ignores duplicate keys.
    */
  def rowHashes(target: DataFrame): DataFrame =
    target.select(RowHash.digestOfAllColumns(target).as(H))

  /** P3/J1 `filter`: drop source rows whose row hash appears in the snapshot
    * ([[snapshot]] or [[rowHashes]]). An empty snapshot passes everything
    * through (`etl.go:29-31`); a full match yields an empty result (the
    * reference skips the batch, `etl.go:40-42` — an empty DataFrame is the
    * same thing).
    */
  def filter(source: DataFrame, snapshotHashes: DataFrame): DataFrame =
    source.withColumn(H, RowHash.digestOfAllColumns(source))
      .join(snapshotHashes, Seq(H), "left_anti").drop(H)

  /** One-call incremental dedup: source rows not already present in the
    * target window, matched on the order/case-insensitive full-row hash.
    * `fields` must be the same list on both sides for hashes to align
    * (the reference ships its own field list — `provider.go:165`).
    */
  def apply(source: DataFrame, target: DataFrame, fields: Seq[String] = Seq.empty): DataFrame = {
    def pick(df: DataFrame) = if (fields.isEmpty) df else df.select(fields.map(col): _*)
    filter(pick(source), rowHashes(pick(target)))
  }
}
