package graft.pipeline

import java.time.{Clock, Duration, Instant, ZoneId}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import graft.sources.Connector

/** T1: the reference's cron scheduling (`/root/reference/provider.go:69-87`,
  * default `@midnight` per `clickhouse/reader/main.go:35`) — each tick is
  * an independent full pipeline run with fresh state. Accepts the full
  * rule surface via [[Schedule.parse]]: 5-field cron, `@midnight` et al.,
  * `@every 90s`. We improve on the reference in one way: a tick is
  * SKIPPED if the previous run is still in flight (the reference would
  * happily overlap two runs of the same non-incremental append).
  *
  * In production the scheduler belongs OUTSIDE the engine (Airflow /
  * K8s CronJob / `Trigger.AvailableNow` streaming); this runner exists
  * for API parity and for long-lived driver processes that want the
  * reference's single-binary shape.
  *
  * `clock` is injectable so next-fire arithmetic is testable without
  * sleeping; the executor only ever sees precomputed delays.
  */
final class ScheduledRunner private (
    runFn: () => RunStats,
    schedule: Schedule,
    onRun: RunStats => Unit,
    clock: Clock) {

  def this(source: Connector, sink: Connector, cfg: Transfer.Config,
      schedule: Schedule, onRun: RunStats => Unit) =
    this(() => Transfer.run(source, sink, cfg), schedule, onRun,
      Clock.systemDefaultZone())

  private val exec = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-scheduler"); t.setDaemon(true); t
  }
  private val running = new AtomicBoolean(false)
  @volatile private var lastStats: Option[RunStats] = None
  @volatile private var stopped = false

  def last: Option[RunStats] = lastStats

  /** Run one tick immediately (the reference's per-cron-tick `p.start`). */
  def tick(): RunStats = {
    val stats = runFn()
    lastStats = Some(stats)
    onRun(stats)
    stats
  }

  /** Overlap guard: runs `tick` unless a previous run is still in
    * flight; returns false when skipped. A failed run prints one JSON
    * line (exception class and message) to stderr.
    */
  private[graft] def guardedTick(): Boolean =
    if (running.compareAndSet(false, true)) {
      try { tick(); true }
      catch { case e: Throwable =>
        Console.err.println(RunStats.failureJson(e))
        true // the RUN happened (and failed); it was not skipped
      } finally running.set(false)
    } else false

  /** Next fire time after `from` — exposed for observability/tests. */
  def nextFire(from: Instant = clock.instant()): Instant =
    schedule.next(from, clock.getZone)

  /** Start the schedule. Each fire computes the FOLLOWING fire from the
    * time the run finished — a run overshooting its next slot pushes the
    * schedule out rather than queueing catch-up executions that would
    * fire back-to-back (a burst of non-incremental appends
    * double-writes). This matches fixed-delay semantics for `Every` and
    * skip-missed-ticks semantics for cron rules.
    */
  def start(): Unit = scheduleNext()

  private def scheduleNext(): Unit = {
    if (stopped) return
    // +1: toMillis FLOORS, and a tick waking a sub-millisecond early
    // would recompute the same fire instant and double-run the slot.
    val delay = math.max(1L,
      Duration.between(clock.instant(), nextFire()).toMillis + 1)
    exec.schedule(new Runnable {
      def run(): Unit = { guardedTick(); scheduleNext() }
    }, delay, TimeUnit.MILLISECONDS)
  }

  def stop(): Unit = { stopped = true; exec.shutdownNow() }
}

object ScheduledRunner {
  /** Test seam: a runner with injectable work, schedule and clock. */
  private[graft] def forTest(runFn: () => RunStats, schedule: Schedule,
      onRun: RunStats => Unit = _ => (),
      clock: Clock = Clock.systemUTC()): ScheduledRunner =
    new ScheduledRunner(runFn, schedule, onRun, clock)
}
