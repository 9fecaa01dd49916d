package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.pipeline.{RunStats, Transfer, Window}
import graft.sources.{FileConnector, JdbcConnector}

/** End-to-end JDBC path against embedded Derby (ships with Spark): write
  * batching, schema round-trip, partitioned reads, and the full transfer
  * pipeline with a JDBC source — the reference's S2/S3/K1/K2 surface
  * without a network database.
  */
class JdbcConnectorSpec extends SparkSpec {

  private lazy val url = {
    val dir = Files.createTempDirectory("graft-derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  test("JDBC write → read round trip with partitioned scan") {
    val events = graft.sources.Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value")
    val jdbc = new JdbcConnector(spark, url, batchSize = 500)
    jdbc.write(events, "events_t", SaveMode.Overwrite)

    val back = jdbc.read("events_t")
    assert(back.count() == events.count())
    assert(back.columns.map(_.toLowerCase).sorted.sameElements(
      events.columns.map(_.toLowerCase).sorted))

    // Partitioned read: 4 range partitions over the cursor column.
    val part = new JdbcConnector(spark, url, numPartitions = 4,
      partitionColumn = Some("event_id"), lowerBound = Some("0"),
      upperBound = Some("1000"))
    val pdf = part.read("events_t")
    assert(pdf.rdd.getNumPartitions == 4)
    assert(pdf.count() == events.count())

    // Pushed-down raw query (the reference's pass-through SQL surface).
    // Derby folds unquoted identifiers to uppercase while Spark created
    // the columns quoted-lowercase — quote them in raw SQL.
    val q = jdbc.readQuery(
      """SELECT "event_id", "value" FROM events_t WHERE "event_id" < 100""")
    assert(q.count() == 100)
  }

  test("full transfer pipeline with JDBC source and incremental dedup sink") {
    val events = graft.sources.Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value")
    val jdbc = new JdbcConnector(spark, url)
    jdbc.write(events, "events_src", SaveMode.Overwrite)

    val tmp = Files.createTempDirectory("graft-jdbc-out").toString
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(table = "events_src", target = "out",
      window = Some(Window("user_id", "0", "25")), increment = true)
    val r1 = Transfer.run(jdbc, sink, cfg)
    assert(r1.rowsWritten > 0 && r1.rowsFiltered == 0)
    val r2 = Transfer.run(jdbc, sink, cfg)
    assert(r2.rowsWritten == 0 && r2.rowsFiltered == r2.rowsRead)
  }

  test("transfer into a JDBC sink: one connector is source and sink") {
    // The CLI's shape when only -url is given: -from and -to are two
    // tables of one storage.
    val events = graft.sources.Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value")
    val jdbc = new JdbcConnector(spark, url)
    jdbc.write(events, "xfer_src", SaveMode.Overwrite)

    def tick(from: Int, to: Int) = Transfer.run(jdbc, jdbc, Transfer.Config(
      table = "xfer_src", target = "xfer_dst",
      window = Some(Window("event_id", from.toString, to.toString)),
      increment = true)).copy(durationMs = 0)
    assert(tick(0, 119) == RunStats(120, 0, 120, 0))   // cold: no target yet
    assert(tick(60, 179) == RunStats(120, 60, 60, 0))  // overlapping slide
    assert(tick(60, 179) == RunStats(120, 120, 0, 0))  // rerun writes nothing
    assert(jdbc.read("xfer_dst").count() == 180)
  }
}
