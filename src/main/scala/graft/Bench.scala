package graft
import org.apache.spark.sql.SparkSession
import graft.pipeline.RunStats

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query gets one untimed warmup execution
  * (JIT + codegen compilation + parquet footer caching) and one timed
  * run — the steady-state number is what a long-lived cluster session
  * would see, and it is stable across invocations instead of being
  * dominated by first-query JVM warmup noise.
  *
  * The emitted JSON is self-adjudicating — a contended window must be
  * diagnosable from the artifact alone, without a manual re-measure:
  *   - `cpu`: the timed run's PROCESS CPU seconds. Wall up, CPU flat →
  *     starved by a co-tenant, not a plan regression.
  *   - `gc`: the timed run's GC-time delta (all collectors). Wall AND
  *     CPU up together with `gc` absorbing the growth → memory-bandwidth
  *     or paging interference amplifying into GC churn (the r10 driver
  *     failure mode, invisible to CPU-flat reasoning and to start/end
  *     probes).
  *   - `majflt`: the timed run's major-page-fault delta
  *     (/proc/self/stat) — direct evidence of paging pressure.
  *   - `probe`: 1-second effective-cores probes at bench start and end.
  *   - `confirm`: after the suite, the worst wall/baseline offenders
  *     (vs BENCH_LOCAL.json, if present) are re-timed ONCE while warm.
  *     The re-pass folds into each query's reported min, so a transient
  *     mid-run burst cannot define any reported figure; the raw re-pass
  *     walls are also emitted so the recovery itself is visible.
  *   - `errors`: per failed query, its exception class and message
  *     (`RunStats.failureJson`).
  */
object Bench {
  // Process CPU time (all JVM threads — in local mode that includes the
  // executors). com.sun.management is the JDK's own extension interface,
  // present on every HotSpot JVM.
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def procCpuSec(): Double = osBean.getProcessCpuTime / 1e9

  /** Cumulative GC seconds across every collector bean. */
  private def gcSec(): Double = {
    var ms = 0L
    val it = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    while (it.hasNext) {
      val t = it.next().getCollectionTime
      if (t > 0) ms += t
    }
    ms / 1e3
  }

  /** Cumulative major page faults of this process: /proc/self/stat
    * field 12 (majflt). comm (field 2) may itself contain spaces or
    * parens, so fields are counted from after the LAST ')'. Returns -1
    * where /proc doesn't exist (non-Linux dev box) — deltas then read
    * 0 and the column is simply uninformative there.
    */
  private def majorFaults(): Long =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")), "US-ASCII")
      val rest = s.substring(s.lastIndexOf(')') + 2) // "state ppid ..."
      // rest fields: 1=state 2=ppid ... 8=minflt 9=cminflt 10=majflt
      rest.trim.split("\\s+")(9).toLong
    } catch { case _: Throwable => -1L }

  /** 1-second effective-cores probe: CPU seconds a spin burn actually
    * obtains per wall second across `n` threads. ~n on an idle box,
    * well below n under a co-tenant burst.
    */
  private def effectiveCores(n: Int = 8, millis: Long = 1000): Double = {
    val cpu0 = procCpuSec()
    val t0 = System.nanoTime()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get()) { x += 1; if (x == Long.MaxValue) x = 0 }
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(millis)
    stop.set(true)
    threads.foreach(_.join(200))
    val wall = (System.nanoTime() - t0) / 1e9
    (procCpuSec() - cpu0) / wall
  }

  /** One measurement of one query: wall + the co-measured forensics. */
  private final case class Sample(wall: Double, cpu: Double,
      gc: Double, majflt: Long)

  /** Per-query baseline walls from BENCH_LOCAL.json (written by the
    * quiet-window baselining runs), used only to RANK confirmation
    * re-pass candidates — absence degrades to absolute-wall ranking,
    * never to an error.
    */
  private def loadBaseline(): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val qi = s.indexOf("\"queries\"")
        if (qi < 0) Map.empty
        else {
          val body = s.substring(s.indexOf('{', qi) + 1)
          val re = "\"([^\"]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r
          // stop at the closing brace of the queries object
          val end = body.indexOf('}')
          re.findAllMatchIn(if (end >= 0) body.substring(0, end) else body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default matches the driver's environment (local[32]) so local bench
    // numbers predict driver bench numbers.
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val coresStart = effectiveCores()
    // The timed action is a noop-format write: every output row is fully
    // materialized through the executed plan, so projections, sorts and
    // expression work stay IN the measurement (a bare `count()` lets
    // Catalyst prune projection columns and drop orderBys — it times a
    // row-count scan, not the declared query).
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Timing layout: two suite-wide passes (plus up to two top-up
    // passes restricted to queries whose best two samples still
    // disagree by >30%), each sample = one UNTIMED warmup execution
    // immediately followed by the timed run — report each query's min.
    //
    // Why both halves matter on a shared sandbox:
    //   - Samples of one query are pass-separated (minutes apart), so a
    //     co-tenant CPU burst — they last minutes here — can no longer
    //     cover every sample of a query the way it covered back-to-back
    //     repeats (measured: a 3.3 s sketch_quantile whose isolated
    //     steady state was 1.6 s, all consecutive samples inside one
    //     burst).
    //   - The warmup must be ADJACENT to its timed run, not a separate
    //     warmup pass: ~100 queries' generated classes overflow Spark's
    //     bounded codegen cache, so by the time a pass returns to a
    //     query its code is evicted and a bare re-run pays whole-stage
    //     re-codegen (measured: a 0.9 s scan query timing at 3.1 s in
    //     every warmup-less pass).
    // Cache state is reset BETWEEN queries so each measurement starts
    // from the same (empty) storage pool instead of whatever earlier
    // queries left behind: accumulated persists can evict a query's own
    // warmup cache mid-bench, which showed up as a 3× swing on the
    // driver that no local run reproduced.
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Sample = {
      run(fn) // warm-adjacent: codegen + JIT + IO caches
      val c0 = procCpuSec(); val g0 = gcSec(); val m0 = majorFaults()
      val t0 = System.nanoTime(); run(fn)
      val wall = (System.nanoTime() - t0) / 1e9
      val m1 = majorFaults()
      Sample(wall, procCpuSec() - c0, gcSec() - g0,
        if (m0 < 0 || m1 < 0) 0L else m1 - m0)
    }
    // Local-iteration filter (comma-separated names); the driver sets
    // nothing, so its runs always time the full surface.
    val onlyQ = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val qseq = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlyQ.forall(_.contains(n)) }
    val samples = scala.collection.mutable.Map[String, List[Sample]]()
    val failed = scala.collection.mutable.Set[String]()
    // query -> RunStats.failureJson of its failure (exception class + message)
    val errors = scala.collection.mutable.Map[String, String]()
    // Wall-clock budget: the first pass ALWAYS completes (every query
    // gets one warm-adjacent sample — a partial run that times out
    // upstream would report nothing at all), later passes only start a
    // query while inside the budget. Under contention the bench
    // degrades to fewer samples per query, never to no output.
    // Reserve headroom inside the budget: the budget is enforced by an
    // EXTERNAL process kill, and r03 finished at 1222 s against 1200 —
    // killed mid-println, which truncated the one JSON line the driver
    // parses. The in-process deadline must cover JVM/sbt startup before
    // main() (not visible here), the last started query running to
    // completion, and JSON emission — so stop starting work 180 s early.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1200").toLong
    val deadline =
      System.nanoTime() + math.max(budgetSec - 180L, budgetSec / 2) * 1000000000L
    def sampleOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      try samples(name) = timed(fn) :: samples.getOrElse(name, Nil)
      catch { case e: Throwable => failed += name; errors(name) = RunStats.failureJson(e) }
      finally spark.catalog.clearCache()
    }
    def pass(only: String => Boolean, bounded: Boolean): Unit =
      qseq.foreach { case (name, fn) =>
        if (only(name) && !failed(name) &&
            !(bounded && System.nanoTime() > deadline)) sampleOne(name, fn)
      }
    def unsettled(name: String): Boolean = samples.get(name) match {
      case Some(ts) if ts.length >= 2 =>
        val s = ts.map(_.wall).sorted; s(1) > s.head * 1.3
      case _ => !failed(name)
    }
    pass(_ => true, bounded = false)
    pass(_ => true, bounded = true)
    pass(unsettled, bounded = true)
    pass(unsettled, bounded = true)
    // Confirmation re-pass: re-time the worst wall/baseline offenders
    // once more, after everything else. They are warm (same
    // warmup-adjacent protocol), and the samples land minutes after the
    // main passes — so a contention episode anywhere inside the suite
    // cannot define these queries' reported min. Ranking: min-wall /
    // baseline wall where BENCH_LOCAL.json has the query; queries
    // without a baseline (new this round) rank by min-wall against the
    // baseline median, which puts genuinely expensive new queries in
    // the confirm set too. Unbounded by the deadline-stop: ~15 short
    // re-runs must not be silently skipped in the exact (contended)
    // window where they matter most — the 180 s emission headroom
    // covers them.
    val baseline = loadBaseline()
    val baselineMedian = if (baseline.isEmpty) 1.0 else {
      val v = baseline.values.toArray.sorted; v(v.length / 2)
    }
    val confirmN =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CONFIRM_N", "15").toInt
    val offenders = qseq
      .filter { case (n, _) => !failed(n) && samples.contains(n) }
      .map { case (n, fn) =>
        val w = samples(n).map(_.wall).min
        (n, fn, w / math.max(baseline.getOrElse(n, baselineMedian), 1e-3))
      }
      .sortBy(-_._3).take(confirmN)
    val confirm = scala.collection.mutable.Map[String, Double]()
    offenders.foreach { case (name, fn, _) =>
      val n0 = samples.get(name).map(_.length).getOrElse(0)
      sampleOne(name, fn)
      val lst = samples.getOrElse(name, Nil)
      if (lst.length > n0) confirm(name) = lst.head.wall
    }
    val coresEnd = effectiveCores()
    // Per query: the min-wall sample's wall AND that same sample's
    // CPU/GC/fault figures (pairing them keeps every ratio meaningful —
    // min wall with another sample's CPU would overstate parallelism).
    // A query reports -1 only when it produced NO sample at all: a
    // transient failure in a later pass (or the confirm re-pass) must
    // not erase earlier good measurements.
    val results = qseq.map { case (name, _) =>
      name -> samples.get(name).filter(_.nonEmpty).map(_.minBy(_.wall))
        .getOrElse(Sample(-1.0, -1.0, -1.0, -1L))
    }
    // Truncation-robust emission. The driver records only the LAST
    // ~2000 chars of output, and the full 245-query map is ~6 KB — a
    // single trailing line gets its head (including `{"metric":…`) cut
    // off, leaving an unparseable fragment (r04: 72/245 figures
    // visible, parsed: null). So: (1) the FULL map goes out first and
    // is also persisted to a RUN-STAMPED target/bench/BENCH_FULL_<n>.json
    // (append-only: concurrent or later runs never overwrite each
    // other's artifact); (2) the FINAL line —
    // the one a tail capture is guaranteed to contain intact — is a
    // compact self-contained JSON that fits the window: total, query
    // count, a pointer to the full map, and the failed + slowest
    // per-query figures that fit under the cap.
    def fmt(v: Double): String =
      if (v < 0) "-1.0" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(f: ((String, Sample)) => String): String =
      results.map { case (k, v) => "\"" + k + "\":" + f((k, v)) }
        .mkString("{", ",", "}")
    val qs = jmap { case (_, v) => fmt(v.wall) }
    val cpuQs = jmap { case (_, v) => fmt(v.cpu) }
    val gcQs = jmap { case (_, v) => fmt(v.gc) }
    val mfQs = jmap { case (_, v) => v.majflt.toString }
    val confirmQs = confirm.toSeq.sortBy(_._1)
      .map { case (k, w) => "\"" + k + "\":" + fmt(w) }
      .mkString("{", ",", "}")
    val errorQs = errors.toSeq.sortBy(_._1)
      .map { case (k, e) => "\"" + k + "\":" + e }
      .mkString("{", ",", "}")
    val probe = s"""{"cores_start":${fmt(coresStart)},"cores_end":${fmt(coresEnd)}}"""
    val total = results.map(_._2.wall).filter(_ >= 0).sum
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"cpu":$cpuQs,"gc":$gcQs,"majflt":$mfQs,"confirm":$confirmQs,"errors":$errorQs,"probe":$probe,"sf":"$sfDir"}"""
    println(full)
    // Run-stamped persistence: first free target/bench/BENCH_FULL_<n>.json
    // slot, created atomically (CREATE_NEW) so two concurrent runs can
    // never claim the same slot. Persistence must never kill the stdout line.
    val fullPath =
      try {
        val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "bench"))
        var path: java.nio.file.Path = null
        var n = 1
        while (path == null && n < 10000) {
          val p = dir.resolve(f"BENCH_FULL_$n%04d.json").toAbsolutePath
          try {
            java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW)
            path = p
          } catch { case _: java.nio.file.FileAlreadyExistsException => n += 1 }
        }
        if (path == null) "unpersisted" else path.toString
      } catch { case _: Throwable => "unpersisted" }
    // Compact tail line: failures first (a -1.0 must never be hidden
    // by truncation), then slowest-first — the figures that matter for
    // a perf read. Greedy-pack under 1700 chars, leaving headroom for
    // sbt's own trailing lines inside the 2000-char window.
    val prioritized =
      results.filter(_._2.wall < 0) ++ results.filter(_._2.wall >= 0).sortBy(-_._2.wall)
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${results.count(_._2.wall < 0)},"probe":$probe,"queries_full":"$fullPath","queries":{"""
    val sb = new StringBuilder(head)
    var first = true
    prioritized.foreach { case (k, v) =>
      val entry = (if (first) "" else ",") + "\"" + k + "\":" + fmt(v.wall)
      if (sb.length + entry.length <= 1700) { sb.append(entry); first = false }
    }
    sb.append("}}")
    println(sb.toString)
    System.out.flush()
    spark.stop()
  }
}
