package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.{RunStats, Transfer, Window}
import graft.sources.FileConnector

/** M1 end-to-end: the full reference pipeline semantics (scan → project →
  * window → dedup → sink → accounting) on driver fixture data — mirrors the
  * provider/consumer mock scenarios (`provider_test.go`, `consumer_test.go`).
  */
class TransferSpec extends SparkSpec {

  test("full transfer then incremental re-run writes zero new rows") {
    val tmp = Files.createTempDirectory("graft-transfer").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(
      table = "events", target = "events_out",
      fields = Seq("event_id", "user_id", "event_type", "value"),
      window = Some(Window("user_id", "0", "25")),
      increment = true)

    val first = Transfer.run(src, sink, cfg)
    assert(first.rowsWritten > 0)
    assert(first.rowsRead == first.rowsWritten) // empty target: nothing filtered

    val second = Transfer.run(src, sink, cfg)
    assert(second.rowsRead == first.rowsRead)
    assert(second.rowsWritten == 0)             // everything deduped
    assert(second.rowsFiltered == second.rowsRead)

    val total = sink.read("events_out").count()
    assert(total == first.rowsWritten)
  }

  test("cursor/window column need not be in the projected field list") {
    // Reference semantics: `SELECT <fields> WHERE cursor BETWEEN …` — the
    // cursor is not part of the projection (`clickhouse/reader/main.go:164`).
    val tmp = Files.createTempDirectory("graft-transfer2").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(
      table = "events", target = "out",
      fields = Seq("event_id", "event_type", "value"), // no ts, no user_id
      window = Some(Window("ts", "timestamp'2024-01-01'", "timestamp'2024-01-08'")),
      orderBy = Seq("user_id DESC"),                   // sort col not projected
      increment = true)
    val first = Transfer.run(src, sink, cfg)
    assert(first.rowsWritten > 0)
    assert(sink.read("out").columns.toSeq == Seq("event_id", "event_type", "value"))
    // Second incremental run: target lacks ts, snapshot skips the window.
    val second = Transfer.run(src, sink, cfg)
    assert(second.rowsWritten == 0)
  }

  test("window predicate filters the cursor range") {
    val src = new FileConnector(spark, sf0001)
    val all = Transfer.plan(src, Transfer.Config("events", "x")).count()
    val windowed = Transfer.plan(src, Transfer.Config("events", "x",
      window = Some(Window("ts", "timestamp'2024-01-01'", "timestamp'2024-01-08'")))).count()
    assert(windowed > 0 && windowed < all)
  }

  test("rows appended to a parquet source between ticks are read and written") {
    val tmp = Files.createTempDirectory("graft-transfer-grow").toString
    def rows(from: Long, to: Long) =
      spark.range(from, to).select(col("id"), (col("id") * 3).as("v"))
    rows(0, 100).write.parquet(s"$tmp/src/t.parquet")
    val src = new FileConnector(spark, s"$tmp/src")
    val sink = new FileConnector(spark, s"$tmp/dst")
    val cfg = Transfer.Config(table = "t", target = "t", increment = true)

    assert(Transfer.run(src, sink, cfg).copy(durationMs = 0) == RunStats(100, 0, 100, 0))
    rows(100, 150).write.mode(SaveMode.Append).parquet(s"$tmp/src/t.parquet")
    assert(Transfer.run(src, sink, cfg).copy(durationMs = 0) == RunStats(150, 100, 50, 0))
    assert(sink.read("t").count() == 150)
  }

  test("a target holding duplicated rows gives the same tick as one holding each row once") {
    val tmp = Files.createTempDirectory("graft-transfer-dup").toString
    def rows(from: Long, to: Long) =
      spark.range(from, to).select(col("id"), (col("id") * 3).as("v"))
    rows(0, 100).write.parquet(s"$tmp/src/t.parquet")
    val src = new FileConnector(spark, s"$tmp/src")
    val cfg = Transfer.Config(table = "t", target = "t", increment = true)
    def tick(name: String, held: org.apache.spark.sql.DataFrame) = {
      held.write.parquet(s"$tmp/$name/t.parquet")
      val sink = new FileConnector(spark, s"$tmp/$name")
      val stats = Transfer.run(src, sink, cfg).copy(durationMs = 0)
      val written = sink.read("t").exceptAll(held).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      (stats, written)
    }
    val once = tick("once", rows(0, 40))
    assert(once == (RunStats(100, 40, 60, 0), (40L until 100L).map(i => (i, i * 3))))
    assert(tick("twice", rows(0, 40).union(rows(0, 40))) == once)
  }

  test("an incremental tick is one SQL execution") {
    val tmp = Files.createTempDirectory("graft-transfer-exec").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(table = "events", target = "out",
      fields = Seq("event_id", "user_id", "event_type", "value"),
      window = Some(Window("user_id", "0", "25")), increment = true)
    Transfer.run(src, sink, cfg)

    val executions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executions.incrementAndGet()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val second = Transfer.run(src, sink, cfg)
      assert(second.rowsRead > 0 && second.rowsWritten == 0)
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(executions.get == 1)
  }

  test("an empty window counts zero rows, cold and rerun") {
    val tmp = Files.createTempDirectory("graft-transfer-empty").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(table = "events", target = "out",
      fields = Seq("event_id", "user_id"),
      window = Some(Window("user_id", "-10", "-1")), increment = true)
    assert(Transfer.run(src, sink, cfg).copy(durationMs = 0) == RunStats(0, 0, 0, 0))
    assert(Transfer.run(src, sink, cfg).copy(durationMs = 0) == RunStats(0, 0, 0, 0))
  }

  test("an unreadable target fails the tick and writes nothing") {
    val tmp = Files.createTempDirectory("graft-transfer-corrupt").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(table = "events", target = "out",
      fields = Seq("event_id", "user_id"),
      window = Some(Window("user_id", "0", "25")), increment = true)
    assert(Transfer.run(src, sink, cfg).rowsWritten > 0)
    val dir = new java.io.File(s"$tmp/out.parquet")
    Files.write(new java.io.File(dir, "part-00000-garbage.parquet").toPath,
      "not a parquet file".getBytes("US-ASCII"))
    def listing = dir.list().toSeq.sorted
    val before = listing
    intercept[Exception](Transfer.run(src, sink, cfg))
    assert(listing == before)
  }
}
