package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.functions.RowHash
import graft.operators.IncrementalDedup

/** Dedup filter cases from `etl_test.go:101-238` (FIXTURES.md A1). */
class IncrementalDedupSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq("col1", "col2", "col3", "col4")
    .map(StructField(_, StringType)))
  private def df(rows: Row*) = spark.createDataFrame(rows.asJava, schema)

  private val batch = df(
    Row("1", "2", "3", "4"), Row("5", "6", "7", "8"), Row("9", "10", "11", "12"))

  test("empty snapshot → batch unchanged") {
    val empty = df().limit(0)
    assert(IncrementalDedup(batch, empty).count() == 3)
  }

  test("non-matching target rows → batch unchanged") {
    val tgt = df(Row("x", "y", "z", "w"))
    assert(IncrementalDedup(batch, tgt).count() == 3)
  }

  test("partial match → matching row dropped (value-permuted counts as match)") {
    val tgt = df(Row("2", "1", "4", "3")) // permuted values of row 1 still collide
    val out = IncrementalDedup(batch, tgt).collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("5", "9"))
  }

  test("all match → empty result (reference skips the batch)") {
    assert(IncrementalDedup(batch, batch).count() == 0)
  }

  test("idempotence: filtering twice equals filtering once") {
    val tgt = df(Row("1", "2", "3", "4"))
    val once = IncrementalDedup(batch, tgt)
    val twice = IncrementalDedup(once, tgt)
    assert(once.count() == twice.count())
  }

  test("the 16-byte digest and the hex key drop the same permuted or recased rows") {
    val tgt = df(Row("2", "1", "4", "3"), Row("NINE", "10", "11", "12"))
    val src = df(Row("1", "2", "3", "4"), Row("5", "6", "7", "8"), Row("12", "11", "10", "nine"))
    def firsts(d: DataFrame) = d.collect().map(_.getString(0)).sorted.toSeq
    val viaDigest = IncrementalDedup.filter(src, IncrementalDedup.snapshot(tgt))
    val h = "row_hash"
    val viaHex = RowHash.withRowHash(src, h)
      .join(tgt.select(RowHash.ofAllColumns(tgt).as(h)), Seq(h), "left_anti").drop(h)
    assert(firsts(viaDigest) == Seq("5"))
    assert(firsts(viaHex) == firsts(viaDigest))
    assert(IncrementalDedup.snapshot(tgt).schema.head.dataType == BinaryType)
  }

  test("column names holding a dot") {
    val dotted = StructType(Seq("a.b", "c").map(StructField(_, StringType)))
    val src = spark.createDataFrame(Seq(Row("x", "y"), Row("p", "q")).asJava, dotted)
    val tgt = spark.createDataFrame(Seq(Row("Y", "X")).asJava, dotted)
    assert(IncrementalDedup(src, tgt).collect().map(_.getString(0)).toSeq == Seq("p"))
  }
}
