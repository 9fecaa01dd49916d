package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.streaming.StreamingPipeline

/** The driver's fixture generator has already shipped `events.ts` in two
  * different parquet encodings across rounds (TIMESTAMP(NANOS) in r1–r2,
  * TIMESTAMP_NTZ micros in r3 — the encoding flip broke ten queries).
  * This spec pins the loader contract: the SAME logical events table
  * written as each of
  *
  *   1. LTZ  — TIMESTAMP(MICROS, isAdjustedToUTC=true)   (Spark default)
  *   2. NTZ  — TIMESTAMP(MICROS, isAdjustedToUTC=false)  (pandas/pyarrow default)
  *   3. INT96 — legacy Spark/Impala encoding
  *   4. NANOS — TIMESTAMP(NANOS, isAdjustedToUTC=false)   (parquet-mr direct)
  *
  * must load as identical TimestampType frames and produce identical
  * results under micros arithmetic (sessionize) and event-time windowing.
  */
class TimestampEncodingSpec extends SparkSpec {

  private val MicrosPerHour = 3600L * 1000000L

  /** (event_id, epoch-micros, user_id) rows; whole-micros values so the
    * NANOS floor-to-micros conversion is exact.
    */
  private lazy val rows: Seq[(Long, Long, Long)] = {
    val base = 1735689600L * 1000000L // 2025-01-01T00:00:00Z
    (0L until 300L).map { i =>
      // 5 users, event every 17 minutes with a 3h gap every 25 events
      val gap = (i / 25) * 3 * MicrosPerHour
      (i, base + i * 17L * 60L * 1000000L + gap + (i % 7) * 250000L, i % 5)
    }
  }

  private def ltzDf: DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select("event_id", "ts", "user_id")
  }

  /** Write the fixture under `<tmp>/events.parquet` in the given encoding
    * and return the directory.
    */
  private def writeSpark(df: DataFrame, outputType: String): String = {
    val dir = Files.createTempDirectory("tsenc").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, outputType)
    try df.coalesce(1).write.parquet(s"$dir/events.parquet")
    finally spark.conf.set(key, prev)
    dir
  }

  private def writeNanos(): String = {
    val dir = Files.createTempDirectory("tsenc").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .named("events")
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withType(schema)
      .build()
    try rows.foreach { case (id, us, user) =>
      val g = factory.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L) // micros → nanos
      g.add("user_id", user)
      writer.write(g)
    } finally writer.close()
    dir
  }

  private def allEncodings: Seq[(String, String)] = Seq(
    "LTZ" -> writeSpark(ltzDf, "TIMESTAMP_MICROS"),
    "NTZ" -> writeSpark(
      ltzDf.withColumn("ts", col("ts").cast(TimestampNTZType)), "TIMESTAMP_MICROS"),
    "INT96" -> writeSpark(ltzDf, "INT96"),
    "NANOS" -> writeNanos())

  test("all four ts encodings load as identical TimestampType frames") {
    val loaded = allEncodings.map { case (name, dir) =>
      name -> Tables.load(spark, dir, "events")
    }
    for ((name, df) <- loaded) {
      assert(df.schema("ts").dataType == TimestampType,
        s"$name should normalize to TimestampType, got ${df.schema("ts").dataType}")
    }
    val collected = loaded.map { case (name, df) =>
      name -> df.select("event_id", "ts", "user_id")
        .orderBy("event_id").collect().toSeq
    }
    val (refName, ref) = collected.head
    for ((name, got) <- collected.tail)
      assert(got == ref, s"$name rows differ from $refName")
  }

  test("every encoding: the footer schema Tables.read uses is the inferred schema") {
    for ((name, dir) <- allEncodings) {
      val path = s"$dir/events.parquet"
      Tables.read(spark, dir, "events") // sets nanosAsLong, as every read does
      val footer = Tables.footerSchema(spark, path)
      assert(footer.isDefined, name)
      assert(spark.read.schema(footer.get).parquet(path).schema == spark.read.parquet(path).schema, name)
    }
  }

  test("micros arithmetic (sessionize) agrees across encodings") {
    val results = allEncodings.map { case (name, dir) =>
      val ev = Tables.load(spark, dir, "events")
      name -> StreamingPipeline.sessionizeBatch(ev, "user_id", "ts", lit(3600))
        .orderBy("user_id", "session_start").collect().toSeq
    }
    assert(results.head._2.nonEmpty)
    for ((name, got) <- results.tail)
      assert(got == results.head._2, s"$name sessions differ")
  }

  test("event-time watermarked streaming works on every encoding") {
    for ((name, dir) <- allEncodings) {
      // withWatermark requires TimestampType — this is exactly the call
      // that threw EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on raw NTZ input.
      val stream = StreamingPipeline.streamTable(spark, dir, "events")
      assert(stream.isStreaming, s"$name should stream")
      val agg = StreamingPipeline.tumblingAggWatermarked(
        stream.withColumn("event_type", lit("x")).withColumn("value", lit(1.0d)),
        "ts", width = "1 day", delay = "1 hour")
      val q = agg.writeStream.format("memory")
        .queryName(s"tsenc_${name.toLowerCase}")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val counts = Seq("ltz", "ntz", "int96", "nanos")
      .map(n => spark.table(s"tsenc_$n").count())
    assert(counts.distinct.size == 1 && counts.head > 0,
      s"watermarked agg counts differ across encodings: $counts")
  }
}
