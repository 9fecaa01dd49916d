package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Parquet table reader that normalizes every parquet timestamp encoding
  * to one engine-internal type: session-TZ `TimestampType`.
  *
  * Parquet writers vary: TIMESTAMP(NANOS) (no Spark equivalent — with
  * `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as a raw Long of
  * nanos-since-epoch), TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives
  * as `TimestampNTZType`), and TIMESTAMP(MICROS, isAdjustedToUTC=true)
  * (arrives as `TimestampType`). Downstream operators do micros arithmetic
  * (`unix_micros`) and event-time streaming (`withWatermark`), both of
  * which require `TimestampType` — so the loader folds all three encodings
  * into it:
  *
  *  - NANOS: rebuilt via `timestamp_micros(col div 1000)` — a floor to
  *    microseconds, exactly what DuckDB's `CAST(ts_ns AS TIMESTAMP)` does,
  *    keeping the oracle comparison aligned.
  *  - NTZ: `cast(TimestampType)`. `GraftSession` pins the session time
  *    zone to UTC for every entry point, so the cast reinterprets the
  *    same wall-clock micros value as the same instant — the identity
  *    the DuckDB oracle (which is TZ-naive) already assumes.
  *
  * Mirrors the reference's own datetime funneling, which converts every
  * MySQL temporal type to one canonical ClickHouse DateTime
  * (reference: clickhouse/types/types.go:24-35).
  */
object Tables {

  /** Fold every `TimestampNTZType` column of `df` into session-TZ
    * `TimestampType` (identity under the pinned-UTC session).
    */
  private def normalizeNtz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }

  /** Column names in `path` whose parquet logical type is TIMESTAMP(NANOS). */
  private def nanosTimestampCols(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).getOrElse(return Seq.empty)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      import scala.jdk.CollectionConverters._
      reader.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive &&
          (f.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == TimeUnit.NANOS
            case _ => false
          }) => f.getName
      }.toSeq
    } finally reader.close()
  }

  /** Fold every timestamp encoding of `df`, a batch or streaming scan of
    * the parquet at `path` read with `nanosAsLong`, into session-TZ
    * TimestampType: NANOS-as-long columns rebuilt from micros, NTZ cast.
    */
  def normalizeTimestamps(spark: SparkSession, path: String, df: DataFrame): DataFrame =
    normalizeNtz(nanosTimestampCols(spark, path).foldLeft(df) { (d, c) =>
      d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
    })

  /** Read `dir/name.parquet` with every timestamp encoding (NANOS-as-long,
    * NTZ-micros, LTZ-micros) normalized to session-TZ TimestampType. Each
    * call lists the files and reads a footer anew, so a table that grows
    * between calls is seen whole — the read `FileConnector` uses.
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTimestamps(spark, path, spark.read.parquet(path))
  }

  // Fixture memo: building a DataFrame costs a driver file listing, a
  // footer sniff and a 1-task schema-inference JOB per read — measured
  // ~20-40 ms of serial driver latency each, and every query construction
  // calls load() 1-5 times, EVERY run. Fixture tables are never written
  // under a session, so their resolved plan (schema + file index) cannot
  // change and is memoised per (session, path); the parquet DATA is
  // re-scanned by every action, so no result persists across runs. Tables
  // that a session writes to must go through `read` instead.
  private val dfMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** [[read]], memoised per session: for fixture tables only. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    dfMemo.computeIfAbsent((spark, s"$dir/$name.parquet"), _ => read(spark, dir, name))

  /** Guard for CPU-bound narrow transforms (shingling, fingerprinting,
    * per-row hashing, brute-force vector scans): parquet scans cannot
    * split a row group, so a table written as few large row groups scans
    * as few tasks no matter how many cores exist — a single-file
    * single-row-group input runs the whole downstream map SINGLE-THREADED
    * while the rest of the cluster idles.
    *
    * If (and only if) the scan's partition count is under half the
    * default parallelism, redistribute rows round-robin across the
    * executors. On real many-file inputs (any 100 TB table) the
    * condition is false and this is a no-op — the shuffle cost is only
    * ever paid on inputs small enough that it is trivially cheap, and
    * only ahead of compute heavy enough to dwarf it.
    */
  def rebalanceForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, target / 2))
      df.repartition(target)
    else df
  }

  /** The engine's one lineage-cut policy, used by every iterative
    * operator: reliable checkpoint storage when the session has a
    * checkpoint dir (blocks survive executor loss), local blocks
    * otherwise. A frame REFERENCED more than once in a bigger plan (an
    * iteration's working set, a stats row feeding two consumers) would
    * otherwise re-derive its whole subplan per reference. A lazy cut
    * keeps the caller's plan lazy: its single action materializes the
    * blocks that later references read. `eager` is for a driver loop
    * that needs the blocks before its next step ([[graft.operators.Clusters]]).
    */
  def cutLineage(df: DataFrame, eager: Boolean = false): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
