package graft.cli

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.pipeline.{RunStats, Schedule, ScheduledRunner, Transfer, Window}
import graft.sources.{Connector, FileConnector, JdbcConnector}

/** T-parity CLI: one runnable `main` accepting the reference readers'
  * flag surface (`/root/reference/clickhouse/reader/main.go:21-38`,
  * `mysql/reader/main.go` is identical modulo connection flags):
  *
  * {{{
  * runMain graft.cli.GraftCli \
  *   -url jdbc:clickhouse://host:8123/db   (or file:/data/dir[#format])
  *   -target-url <url>                     (optional: sink storage; default -url)
  *   -user default -password ''
  *   -from db.src_table -to db.dst_table
  *   -fields f1,f2,... | '*'
  *   -order 'col desc,col2'
  *   -batch 1000
  *   -window column:from:to
  *   -workers 32
  *   -increment
  *   -schedule '@midnight'      (cron rule; -once runs a single tick)
  * }}}
  *
  * Differences from the reference, by design: one `-url` replaces
  * `-host/-port` + per-engine binaries (the connector is chosen by URL
  * scheme — the reference ships a separate binary per engine);
  * `-consumer` has no equivalent because the provider/consumer gRPC pair
  * collapses into a single Spark job (SURVEY §2.7). `-workers` maps to
  * JDBC scan/write partitions and to the [[GraftSession]] core count —
  * Spark's executor pool replaces the reference's query-worker pool.
  * `-once` exists so batch schedulers (Airflow etc.) can own the cron
  * instead.
  *
  * Validation mirrors `readConf` (`clickhouse/reader/main.go:68-92`):
  * non-empty from/to, non-empty fields, no spaces inside field names,
  * non-empty schedule.
  */
object GraftCli {

  final case class Conf(
      url: String = "",
      targetUrl: String = "", // empty → same storage as -url (reference shape)
      user: String = "default",
      password: String = "",
      from: String = "",
      to: String = "",
      fields: String = "*",
      order: String = "",
      batch: Int = 1000,
      window: String = "",
      workers: Int = 1,
      increment: Boolean = false,
      schedule: String = "@midnight",
      once: Boolean = false,
      logLevel: String = "INFO")

  /** Parse `-flag value` / `-flag` args; throws IllegalArgumentException
    * with the reference's error messages on invalid input.
    */
  def parse(args: Seq[String]): Conf = {
    @annotation.tailrec
    def loop(rest: List[String], c: Conf): Conf = rest match {
      case Nil => c
      case "-url" :: v :: t       => loop(t, c.copy(url = v))
      case "-target-url" :: v :: t => loop(t, c.copy(targetUrl = v))
      case "-user" :: v :: t      => loop(t, c.copy(user = v))
      case "-password" :: v :: t  => loop(t, c.copy(password = v))
      case "-from" :: v :: t      => loop(t, c.copy(from = v))
      case "-to" :: v :: t        => loop(t, c.copy(to = v))
      case "-fields" :: v :: t    => loop(t, c.copy(fields = v))
      case "-order" :: v :: t     => loop(t, c.copy(order = v))
      case "-batch" :: v :: t     => loop(t, c.copy(batch = v.toInt))
      case "-window" :: v :: t    => loop(t, c.copy(window = v))
      case "-workers" :: v :: t   => loop(t, c.copy(workers = v.toInt))
      case "-increment" :: t      => loop(t, c.copy(increment = true))
      case "-schedule" :: v :: t  => loop(t, c.copy(schedule = v))
      case "-once" :: t           => loop(t, c.copy(once = true))
      // accepted for reference-invocation compatibility
      // (clickhouse/reader/main.go:36); Spark logging is configured via
      // log4j, so the value is recorded but not interpreted
      case "-log" :: v :: t       => loop(t, c.copy(logLevel = v))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown flag '$other'")
    }
    val c = loop(args.toList, Conf())
    // readConf's checks, same order, same messages
    if (c.url.isEmpty) fail("url should be not empty")
    if (c.user.isEmpty) fail("user should be not empty")
    if (c.from.isEmpty) fail("source table should be not empty")
    if (c.to.isEmpty) fail("target table should be not empty")
    if (c.fields.isEmpty) fail("list of fields should be not empty")
    if (c.fields != "*" &&
        c.fields.split(",").exists(_.trim.contains(" ")))
      fail("invalid list of fields")
    if (c.schedule.isEmpty) fail("schedule should be not empty")
    Schedule.parse(c.schedule) // reject bad cron rules at startup
    c
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** `-window column:from:to` (SplitN(3) like `readConf`). */
  private[cli] def parseWindow(w: String): Option[Window] =
    w.split(":", 3) match {
      case Array(c, from, to) if w.nonEmpty => Some(Window(c, from, to))
      case _                                => None
    }

  private[cli] def connector(spark: SparkSession, c: Conf): Connector =
    if (c.url.startsWith("file:")) {
      // file:/path[#format] — format defaults to parquet
      val spec = c.url.stripPrefix("file:")
      spec.split("#") match {
        case Array(root, fmt) => new FileConnector(spark, root, fmt)
        case _                => new FileConnector(spark, spec)
      }
    } else new JdbcConnector(spark, c.url, c.user, c.password,
      fetchSize = c.batch, batchSize = c.batch, numPartitions = c.workers)

  /** Library-call equivalent of the parsed flags (the spec asserts CLI
    * and library produce identical RunStats).
    */
  def transferConfig(c: Conf): Transfer.Config =
    Transfer.Config(
      table = c.from,
      target = c.to,
      fields = if (c.fields == "*") Seq.empty
        else c.fields.split(",").map(_.trim).toIndexedSeq,
      window = parseWindow(c.window),
      orderBy = c.order.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq,
      increment = c.increment)

  /** Source/sink pair: the reference reads and writes "the database" at
    * `-url` (its -from/-to are two tables of one storage); `-target-url`
    * optionally points the sink at a different storage — without it, a
    * file-mode `-to` lands UNDER the source root, which is rarely what a
    * file user means.
    */
  private[cli] def connectors(spark: SparkSession, c: Conf): (Connector, Connector) = {
    val src = connector(spark, c)
    val sink = if (c.targetUrl.isEmpty) src
      else connector(spark, c.copy(url = c.targetUrl))
    (src, sink)
  }

  /** One tick with the parsed flags — the `-once` path and the spec seam. */
  def runOnce(spark: SparkSession, c: Conf): RunStats = {
    val (src, sink) = connectors(spark, c)
    Transfer.run(src, sink, transferConfig(c))
  }

  def main(args: Array[String]): Unit = {
    val c =
      try parse(args.toIndexedSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"Invalid arguments, error: ${e.getMessage}")
        sys.exit(1)
      }
    val spark = GraftSession(math.max(c.workers, 1))
    if (c.once) {
      // a failed run prints the same one-line JSON a failed scheduled
      // tick prints, and exits non-zero
      val stats =
        try runOnce(spark, c)
        catch { case e: Throwable =>
          Console.err.println(RunStats.failureJson(e))
          sys.exit(1)
        }
      println(stats.toJson)
    }
    else {
      val (src, sink) = connectors(spark, c)
      val runner = new ScheduledRunner(src, sink, transferConfig(c),
        Schedule.parse(c.schedule), (s: RunStats) => println(s.toJson))
      println(s"Scheduled '${c.schedule}', next fire ${runner.nextFire()}")
      runner.start()
      Thread.currentThread.join() // service shape: run until SIGTERM
    }
  }
}
