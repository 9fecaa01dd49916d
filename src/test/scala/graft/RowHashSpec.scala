package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.functions.RowHash

/** Golden digests from the reference's `etl_test.go:9-53` (FIXTURES.md A1). */
class RowHashSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq("col1", "col2", "col3", "col4")
    .map(StructField(_, StringType)))

  private def hashes(rows: Seq[Row]): Seq[String] = {
    val df = spark.createDataFrame(rows.asJava, schema)
    df.select(RowHash.ofAllColumns(df).as("h")).collect().map(_.getString(0)).toSeq
  }

  test("golden digests: md5 of lowered value-sorted concatenated cells") {
    val got = hashes(Seq(
      Row("1", "2", "3", "4"),
      Row("5", "7", "6", "8"),   // value order irrelevant
      Row("9", "10", "11", "12"),
    ))
    assert(got == Seq(
      "81dc9bdb52d04dc20036dbd8313ed055", // md5("1234")
      "674f3c2c1a8a6f90461e8a66fb5550ba",
      "dfd9bfe9dab8fc185ea63bfdc614f9e7", // lexical sort: 10,11,12,9
    ))
  }

  test("hash is insensitive to column order and case") {
    val a = hashes(Seq(Row("Hello", "WORLD", "x", "y")))
    val b = hashes(Seq(Row("world", "x", "y", "hello")))
    assert(a == b)
  }

  test("NULL hashes as empty string") {
    val a = hashes(Seq(Row(null, "a", "b", "c")))
    val b = hashes(Seq(Row("", "a", "b", "c")))
    assert(a == b)
  }

  test("a column name holding a dot is one column; a missing name is named") {
    val dotted = StructType(Seq("a.b", "c`d", "e", "f").map(StructField(_, StringType)))
    val df = spark.createDataFrame(Seq(Row("1", "2", "3", "4")).asJava, dotted)
    assert(df.select(RowHash.ofAllColumns(df)).first().getString(0) ==
      "81dc9bdb52d04dc20036dbd8313ed055")
    val e = intercept[IllegalArgumentException](RowHash.ofColumns(df, Seq("a.b", "nope")))
    assert(e.getMessage.contains("`nope`"), e.getMessage)
  }
}
