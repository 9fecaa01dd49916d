package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.sources.Tables

/** `Tables.read` takes its schema from the footer it already opens: the
  * schema is the one Spark's inference would give, and no inference job
  * runs.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  /** `dir/name.parquet` reads with the inferred schema and runs no job.
    * A reader makes every field nullable, so the comparison is of reads.
    */
  private def check(dir: String, name: String): Unit = {
    val path = s"$dir/$name.parquet"
    assert(jobs(Tables.read(spark, dir, name)) == 0, s"$path: a job ran")
    val footer = Tables.footerSchema(spark, path)
    assert(footer.isDefined, path)
    assert(spark.read.schema(footer.get).parquet(path).schema == spark.read.parquet(path).schema, path)
  }

  test("every fixture table: the footer schema is the inferred schema") {
    val names = new java.io.File(sf0001).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names.size == 10)
    names.foreach(check(sf0001, _))
  }

  test("a multi-file Spark-written target: the footer schema is the inferred schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Tables.read(spark, sf0001, "lineitem").repartition(3)
      .write.parquet(s"$dir/t.parquet")
    assert(new java.io.File(s"$dir/t.parquet").list().count(_.endsWith(".parquet")) == 3)
    check(dir, "t")
  }
}
