package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

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

  /** The footer of the data file Spark's schema inference reads for
    * `path` (the file itself, or a directory's first data file in path
    * order, hidden `_`/`.` names skipped), or None for a directory with no
    * data file. The flag says whether that footer alone gives the inferred
    * schema: not when inference would merge schemas, prefer a summary file
    * or discover partition directories.
    */
  private def footer(spark: SparkSession, path: String): Option[(Footer, Boolean)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val listing = if (status.isFile) Array(status) else fs.listStatus(p)
    def hidden(s: FileStatus) = s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")
    val (files, dirs) = listing.partition(_.isFile)
    files.filterNot(hidden).sortBy(_.getPath.toString).headOption.map { first =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
      val f = try new Footer(first.getPath, reader.getFooter) finally reader.close()
      val alone = !spark.sessionState.conf.isParquetSchemaMergingEnabled &&
        dirs.forall(hidden) && !files.exists(s => SummaryFiles(s.getPath.getName))
      (f, alone)
    }
  }

  private val SummaryFiles = Set("_metadata", "_common_metadata")

  /** Column names whose parquet logical type is TIMESTAMP(NANOS). */
  private def nanosCols(f: Option[(Footer, Boolean)]): Seq[String] = f.toSeq.flatMap { case (ft, _) =>
    import scala.jdk.CollectionConverters._
    ft.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.collect {
      case c if c.isPrimitive &&
        (c.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == TimeUnit.NANOS
          case _ => false
        }) => c.getName
    }.toSeq
  }

  private def foldNanos(cols: Seq[String], df: DataFrame): DataFrame =
    normalizeNtz(cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
    })

  /** Fold every timestamp encoding of `df`, a batch or streaming scan of
    * the parquet at `path` read with `nanosAsLong`, into session-TZ
    * TimestampType: NANOS-as-long columns rebuilt from micros, NTZ cast.
    */
  def normalizeTimestamps(spark: SparkSession, path: String, df: DataFrame): DataFrame =
    foldNanos(nanosCols(footer(spark, path)), df)

  private def schemaOf(spark: SparkSession, f: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(f, new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The schema Spark's inference gives the parquet at `path`, taken
    * from one footer as inference takes it (Spark's own row metadata
    * first, else the parquet schema converted under the session's
    * settings, `nanosAsLong` included); None where inference would read
    * more than that footer.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    footer(spark, path).collect { case (f, true) => schemaOf(spark, f) }

  /** Read `dir/name.parquet` with every timestamp encoding (NANOS-as-long,
    * NTZ-micros, LTZ-micros) normalized to session-TZ TimestampType. Each
    * call lists the files and reads a footer anew, so a table that grows
    * between calls is seen whole — the read `FileConnector` uses. The
    * reader gets its schema from that footer ([[footerSchema]]), so no
    * schema-inference job runs.
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = footer(spark, path)
    val reader = f match {
      case Some((ft, true)) => spark.read.schema(schemaOf(spark, ft))
      case _ => spark.read
    }
    foldNanos(nanosCols(f), reader.parquet(path))
  }

  // Fixture memo: building a DataFrame costs a driver file listing and a
  // footer read per call, and every query construction calls load() 1-5
  // times, EVERY run. Fixture tables are never written
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
