package graft

import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.RowHash
import graft.sources.Tables
import graft.types.UniversalType

/** The typed-cell row hash against the built-in composition it replaces,
  * `md5(array_join(array_sort(transform(array(universalCell…), lower)), ''))`:
  * every cell type, edge values, session time zones, the interpreted and the
  * generated path, and whole fixture tables.
  */
class TypedRowHashSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def reference(df: DataFrame): Column = {
    val cells = df.schema.fields.toSeq.map(f =>
      UniversalType.universalCell(col(s"`${f.name}`"), f.dataType))
    md5(array_join(array_sort(transform(array(cells: _*), lower(_))), ""))
  }

  /** Rows where the hex hash differs from the reference; hashed after a
    * shuffle, so the projection runs as a task (a projection over a local
    * relation is folded by the optimizer).
    */
  private def mismatches(df: DataFrame): Array[Row] = {
    val in = df.repartition(2)
    in.select(
        reference(in).as("want"),
        RowHash.ofAllColumns(in).as("hex"),
        to_json(struct(in.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)).as("row"))
      .where(col("want") =!= col("hex"))
      .collect()
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val schema = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("str", StringType), StructField("dec", DecimalType(20, 3)),
    StructField("ntz", TimestampNTZType), StructField("bool", BooleanType),
    StructField("bin", BinaryType), StructField("arr", ArrayType(IntegerType)),
    StructField("st", StructType(Seq(StructField("x", StringType)))),
  ))

  private def ts(s: String) = Instant.parse(s)

  private val rows = Seq(
    Row(1.toByte, 2.toShort, 3, 4L, 1.5f, 2.25, LocalDate.of(2024, 2, 29),
      ts("2024-03-10T07:30:00Z"), "Hello WORLD", BigDecimal("12.500").bigDecimal,
      LocalDateTime.parse("2024-01-02T03:04:05.678"), true, Array[Byte](1, 2),
      Seq(1, 2), Row("Ab")),
    Row(null, null, null, null, null, null, null, null, null, null, null, null,
      null, null, null),
    Row(Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue, Float.NaN,
      Double.NaN, LocalDate.of(999, 1, 2), ts("0999-06-07T08:09:10.120Z"), "",
      BigDecimal("-0.001").bigDecimal, LocalDateTime.parse("0999-06-07T08:09:10"), false,
      Array[Byte](), Seq(), Row(null)),
    Row(Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue,
      Float.PositiveInfinity, Double.NegativeInfinity, LocalDate.of(1969, 12, 31),
      ts("1969-07-20T20:17:40.120Z"), "İSTANBUL Ärger", null, null, null, null, null, null),
    Row(0.toByte, 0.toShort, 0, 0L, -0.0f, -0.0, LocalDate.of(1, 1, 1),
      ts("1950-01-01T00:00:00.000123Z"), "ÄÖÜ ß ǅ", null, null, null, null, null, null),
    Row(-1.toByte, -1.toShort, -10, -100L, 1e-5f, 1e-5, LocalDate.of(9999, 12, 31),
      ts("1899-12-31T23:59:59.999999Z"), "MiXeD 123 Ünïcödé", null, null, null, null,
      null, null),
    Row(null, null, null, null, 1e7f, 1e7, LocalDate.of(1970, 1, 1),
      ts("2024-11-03T05:30:00.001Z"), "a", null, null, null, null, null, null),
    Row(null, null, null, null, 123456.78f, 0.1 + 0.2, LocalDate.of(1582, 10, 4),
      ts("1970-01-01T00:00:00Z"), "Z", null, null, null, null, null, null),
    Row(null, null, null, null, Float.MinPositiveValue, Double.MaxValue,
      LocalDate.of(10000, 1, 1), ts("+10000-01-01T00:00:00.500Z"), null, null, null,
      null, null, null, null),
    Row(null, null, null, null, null, Double.MinPositiveValue, LocalDate.of(0, 6, 15),
      ts("-0001-12-31T23:00:00.010Z"), null, null, null, null, null, null, null),
  )

  private lazy val typed = spark.createDataFrame(rows.asJava, schema)

  private val zones = Seq("UTC", "America/New_York", "Australia/Lord_Howe")

  for (zone <- zones) {
    test(s"every cell type and edge value matches the reference, codegen, $zone") {
      withConf("spark.sql.session.timeZone" -> zone) {
        val bad = mismatches(typed)
        assert(bad.isEmpty, bad.mkString("\n"))
      }
    }

    test(s"every cell type and edge value matches the reference, interpreted, $zone") {
      withConf(
        "spark.sql.session.timeZone" -> zone,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val bad = mismatches(typed)
        assert(bad.isEmpty, bad.mkString("\n"))
      }
    }
  }

  test("doubles across magnitudes, their neighbours and negatives") {
    val rnd = new scala.util.Random(11)
    val exact = (1 to 4000).map { i =>
      val places = i % 3
      val digits = 1 + rnd.nextInt(8 + places)
      (rnd.nextLong(math.pow(10, digits).toLong) + 1) / math.pow(10, places)
    }
    val values = exact.flatMap(v => Seq(v, -v, math.nextUp(v), math.nextDown(v))) ++
      Seq(0.01, 0.005, 999999.99, 1e6, 1e6 - 0.01, 0.1 + 0.2, 100.0, -0.5)
    val df = spark.createDataFrame(values.map(Row(_)).asJava,
      StructType(Seq(StructField("d", DoubleType))))
    val bad = mismatches(df)
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("permuted and recased cells collide") {
    val sch = StructType(Seq("a", "b", "c").map(StructField(_, StringType)))
    val df = spark.createDataFrame(
      Seq(Row("x", "Y", "é"), Row("É", "X", "y")).asJava, sch)
    val got = df.select(RowHash.ofAllColumns(df)).collect()
    assert(got(0) == got(1))
  }

  for (table <- Seq("lineitem", "events")) {
    test(s"whole sf0.001 $table hashes as the reference") {
      val bad = mismatches(Tables.load(spark, sf0001, table))
      assert(bad.isEmpty, bad.take(5).mkString("\n"))
    }
  }

  test("a column the expression does not encode is rejected at analysis") {
    val df = spark.range(1).select(lit(BigDecimal(1)).as("d"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("graft_row_hash(d)").collect()
    }
    assert(e.getMessage.contains("graft_row_hash"))
  }
}
