package graft

import java.nio.file.Files
import java.time.{Clock, Duration, Instant, ZoneOffset}
import java.util.concurrent.CountDownLatch
import graft.pipeline.{RunStats, Schedule, ScheduledRunner, Transfer, Window}
import graft.sources.FileConnector

class ScheduledRunnerSpec extends SparkSpec {

  private val utc = ZoneOffset.UTC
  private def at(s: String) = Instant.parse(s)

  test("@midnight fires at the next 00:00 (fake clock)") {
    val sched = Schedule.parse("@midnight")
    assert(sched.next(at("2026-08-12T13:45:10Z"), utc) == at("2026-08-13T00:00:00Z"))
    // exactly ON midnight → the following midnight (strictly-after)
    assert(sched.next(at("2026-08-12T00:00:00Z"), utc) == at("2026-08-13T00:00:00Z"))
    // month rollover
    assert(sched.next(at("2026-08-31T23:59:59Z"), utc) == at("2026-09-01T00:00:00Z"))
  }

  test("5-field rules: steps, ranges, lists, names, dom/dow union") {
    assert(Schedule.parse("*/15 * * * *")
      .next(at("2026-08-12T13:46:00Z"), utc) == at("2026-08-12T14:00:00Z"))
    assert(Schedule.parse("30 6 1 * *")
      .next(at("2026-08-12T00:00:00Z"), utc) == at("2026-09-01T06:30:00Z"))
    // 2026-08-12 is a Wednesday; next Monday is 2026-08-17
    assert(Schedule.parse("0 9 * * MON")
      .next(at("2026-08-12T00:00:00Z"), utc) == at("2026-08-17T09:00:00Z"))
    assert(Schedule.parse("0 0 * JAN *")
      .next(at("2026-08-12T00:00:00Z"), utc) == at("2027-01-01T00:00:00Z"))
    assert(Schedule.parse("0 12 10,20 * *")
      .next(at("2026-08-12T00:00:00Z"), utc) == at("2026-08-20T12:00:00Z"))
    // dom/dow BOTH restricted: fires on the 15th OR on Friday, whichever
    // first (standard cron union). Next Friday from Wed Aug 12 is Aug 14.
    assert(Schedule.parse("0 0 15 * FRI")
      .next(at("2026-08-12T00:00:00Z"), utc) == at("2026-08-14T00:00:00Z"))
    // dow=7 is Sunday (alias of 0); next Sunday is Aug 16
    assert(Schedule.parse("0 0 * * 7")
      .next(at("2026-08-12T00:00:00Z"), utc) == at("2026-08-16T00:00:00Z"))
    // Vixie star rule: '*/2' in dom is still a STAR, so dow alone
    // restricts the day — next Monday (Aug 17), NOT the union's Aug 13
    assert(Schedule.parse("0 0 */2 * MON")
      .next(at("2026-08-12T00:00:00Z"), utc) == at("2026-08-17T00:00:00Z"))
  }

  test("@hourly, @weekly, @every durations") {
    assert(Schedule.parse("@hourly")
      .next(at("2026-08-12T13:45:00Z"), utc) == at("2026-08-12T14:00:00Z"))
    // @weekly = Sunday 00:00
    assert(Schedule.parse("@weekly")
      .next(at("2026-08-12T13:45:00Z"), utc) == at("2026-08-16T00:00:00Z"))
    assert(Schedule.parse("@every 1h30m")
      .next(at("2026-08-12T13:45:00Z"), utc) == at("2026-08-12T15:15:00Z"))
    assert(Schedule.parse("@every 90s")
      .next(at("2026-08-12T13:45:00Z"), utc) == at("2026-08-12T13:46:30Z"))
  }

  test("invalid rules are rejected loudly") {
    for (bad <- Seq("61 * * * *", "* 24 * * *", "* * 0 * *", "* * * 13 *",
        "* * * *", "@every x", "@fortnightly"))
      intercept[IllegalArgumentException](Schedule.parse(bad))
  }

  test("overlapping fire is skipped while a run is in flight") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    var runs = 0
    val runner = ScheduledRunner.forTest(() => {
      runs += 1; entered.countDown(); release.await(); RunStats(0, 0, 0, 0)
    }, Schedule.parse("@every 1h"))
    val t = new Thread(() => runner.guardedTick())
    t.start()
    entered.await()
    // second fire while the first is still running → skipped, not queued
    assert(!runner.guardedTick())
    release.countDown()
    t.join()
    assert(runs == 1)
    // after the in-flight run finishes, ticks run again
    assert(runner.guardedTick() && runs == 2)
    runner.stop()
  }

  test("nextFire uses the injected clock") {
    val clock = Clock.fixed(at("2026-08-12T13:45:00Z"), utc)
    val runner = ScheduledRunner.forTest(() => RunStats(0, 0, 0, 0),
      Schedule.parse("@midnight"), clock = clock)
    assert(runner.nextFire() == at("2026-08-13T00:00:00Z"))
    runner.stop()
  }

  test("repeated ticks are incremental: second tick transfers nothing new") {
    val tmp = Files.createTempDirectory("graft-sched").toString
    val src = new FileConnector(spark, sf0001)
    val sink = new FileConnector(spark, tmp)
    val cfg = Transfer.Config(table = "events", target = "out",
      fields = Seq("event_id", "user_id", "event_type", "value"),
      window = Some(Window("user_id", "0", "10")), increment = true)
    var seen = List.empty[graft.pipeline.RunStats]
    val runner = new ScheduledRunner(src, sink, cfg, Schedule.parse("@every 1h"), s => seen ::= s)

    val first = runner.tick()
    assert(first.rowsWritten > 0)
    val second = runner.tick()
    assert(second.rowsWritten == 0 && second.rowsFiltered == second.rowsRead)
    assert(runner.last.contains(second) && seen.length == 2)
    runner.stop()
  }

  test("a run renders as one JSON line; a failed run prints one too") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val ok = json.readTree(RunStats(10, 4, 6, 123).toJson)
    assert(ok.get("rowsRead").asLong == 10 && ok.get("rowsFiltered").asLong == 4 &&
      ok.get("rowsWritten").asLong == 6 && ok.get("durationMs").asLong == 123)

    val err = new java.io.ByteArrayOutputStream()
    val runner = ScheduledRunner.forTest(() => throw new IllegalStateException(),
      Schedule.parse("@every 1h"))
    Console.withErr(err)(assert(runner.guardedTick()))
    runner.stop()
    val lines = err.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 1)
    val failed = json.readTree(lines.head)
    assert(failed.get("error").asText == "java.lang.IllegalStateException")
    assert(failed.get("message").isNull)
    val quoted = json.readTree(RunStats.failureJson(new RuntimeException("a \"b\"\n")))
    assert(quoted.get("message").asText == "a \"b\"\n")
  }

  test("a failed Spark job's message drops its stack traces and is capped") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val frames = (1 to 30).map(i => s"\n\tat org.apache.spark.scheduler.Task.run$i(Task.scala:$i)").mkString
    val head = "Job aborted due to stage failure: Task 0 in stage 1.0 failed 1 times, most recent " +
      "failure: Lost task 0.0 in stage 1.0 (TID 1) (localhost executor driver): " +
      "org.apache.spark.SparkException: Exception thrown in awaitResult: "
    val cause = "Caused by: java.lang.RuntimeException: " +
      "file:/data/out/events_out.parquet/part-00000.snappy.parquet is not a Parquet file."
    val msg = head + frames + "\n" + cause + frames + "\n\t... 25 more\n\nDriver stacktrace:" + frames
    assert(msg.length > 5 * 1024)
    val failed = json.readTree(RunStats.failureJson(new org.apache.spark.SparkException(msg)))
    assert(failed.get("error").asText == "org.apache.spark.SparkException")
    assert(failed.get("message").asText == head + "\n" + cause)

    val long = json.readTree(RunStats.failureJson(new RuntimeException("x" * 6000)))
    assert(long.get("message").asText == "x" * 1024)
    val traceOnly = RunStats.failureJson(new RuntimeException(("y" * 2000) + frames))
    assert(traceOnly.length <= 1024 + 64 && !traceOnly.contains("\\tat "))
  }
}
