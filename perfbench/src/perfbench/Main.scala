package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftExtensions

/** Benchmark harness: one workload, one seed, one closed-loop client.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --mix-data DIR --work DIR --out FILE --setups K
  *   --blobs-per-codec N --blob-mb-per-codec MB --truncated-per-codec N
  *
  * Sets up K times (the median is `setup_s`), runs one untimed warm-up,
  * then whole passes until S seconds have gone, checks every output, and
  * writes one JSON result to FILE (plus FILE.trace.jsonl when traced).
  */
object Main {
  import Workload._

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors
    val s = Settings(seed, a("data"), a("mix-data"), cores, a("blobs-per-codec").toInt,
      a("blob-mb-per-codec").toDouble, a("truncated-per-codec").toInt)
    val coresStart = effectiveCores(cores)

    val w: Workload = name match {
      case "transfer_incremental" => new TransferIncremental(s)
      case "catalog_mix" =>
        new CatalogMix(new QueryMix(s), new IngestBlobs(s, keepBytes = traced), batches = 5)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setupS = (0 until a("setups").toInt).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      GraftExtensions.register(spark)
      w.setup(spark, s"$work/setup$k")
      (System.nanoTime() - t0) / 1e9
    }

    val t = new Tracer(traced)
    t.attach(spark)
    val warm0 = System.nanoTime()
    w.warmup(t)
    val warmupS = (System.nanoTime() - warm0) / 1e9

    // Timed loop: whole passes while time is left. Probe operations (traced
    // runs only) are taken out of each pass's wall and CPU time.
    final case class Pass(wallS: Double, cpuS: Double, work: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val loop0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val before = t.ops.size
      val c0 = Clocks.cpuS
      val t0 = System.nanoTime()
      val done = w.pass(t)
      val probes = t.ops.drop(before).filter(_.kind == "probe")
      passes += Pass((System.nanoTime() - t0) / 1e9 - probes.map(_.wallS).sum,
        Clocks.cpuS - c0 - probes.map(_.cpuS).sum, done)
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val heapMb = liveHeapMb()
    if (traced) w.afterLoop(t)

    val check0 = System.nanoTime()
    val checks = w.checks()
    val checksS = (System.nanoTime() - check0) / 1e9
    t.drain()
    // Median over operation names of each name's median: every tick has
    // its own name, while each query and the blob batch repeat per pass.
    val timed = t.ops.filter(o => w.opKinds(o.kind))
    val opP50 = median(timed.groupBy(_.name).values.map(o => median(o.map(_.wallS).toSeq)).toSeq)
    val failed = t.ops.filter(_.error.isDefined)
    val e2e = Seq(
      "setup_s" -> (median(setupS), "s"),
      "op_p50_s" -> (opP50, "s"),
      "wall_s" -> (median(passes.map(_.wallS).toSeq), "s"),
      "work_per_s" -> (passes.map(_.work).sum / passes.map(_.wallS).sum, "work/s"),
      "cpu_s" -> (median(passes.map(_.cpuS).toSeq), "s"),
      "heap_live_mb" -> (heapMb, "MB"),
    )
    val named = Seq(
      w.throughputName -> (e2e(3)._2._1, s"${w.workUnit}/s"),
      w.p50Name -> (opP50, "s"),
      "wall_s" -> (e2e(2)._2._1, "s"),
      "cpu_s" -> (e2e(4)._2._1, "s"),
      "heap_live_mb" -> (heapMb, "MB"),
      "setup_s" -> (median(setupS), "s"),
      "failed_frac" -> (failed.size.toDouble / math.max(1, t.ops.size), "ratio"),
    )
    val layers =
      if (!traced) Nil
      else {
        val kinds = w.opKinds
        val zeros = LayerNames.map(_ -> 0.0)
        val measured = w.layers(t) ++ t.sparkMetrics(kinds, cores) ++
          Seq("sources", "pipeline", "rowhash", "dedup", "queries", "codec").map { l =>
            s"$l.self_s" -> t.selfTime(l, kinds + "probe") / math.max(1, timed.size)
          }
        (zeros.toMap ++ measured).toSeq.sortBy(_._1)
      }
    val (counts, perLayer) = layers.partition { case (k, _) => DataCounts(k) }
    if (traced) {
      val lines = t.jsonLines.toSeq.asJava
      Files.write(Paths.get(a("out") + ".trace.jsonl"), lines)
    }

    def metricObj(xs: Seq[(String, (Double, String))]) =
      Json.obj(xs.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)
    val coresEnd = effectiveCores(cores)
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "attempted" -> t.ops.size, "failed" -> failed.size,
      "errors" -> failed.map(o => Json.obj("op" -> o.kind, "name" -> o.name,
        "class" -> o.error.get.getClass.getName, "message" -> String.valueOf(o.error.get.getMessage))),
      "checks" -> checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "end_to_end" -> metricObj(e2e),
      "named" -> metricObj(named),
      "samples" -> Json.obj("setups" -> setupS, "passes" -> passes.size,
        "ops" -> timed.size, "op_names" -> timed.map(_.name), "op_wall_s" -> timed.map(_.wallS),
        "pass_wall_s" -> passes.map(_.wallS), "warmup_s" -> warmupS,
        "loop_s" -> loopS, "checks_s" -> checksS),
      "per_layer" -> metricObj(perLayer.map { case (k, v) => k -> (v, unitOf(k)) }),
      "layer_counts" -> metricObj(counts.map { case (k, v) => k -> (v, unitOf(k)) }),
      "env" -> Json.obj(
        "nproc" -> cores,
        "effective_cores_start" -> coresStart, "effective_cores_end" -> coresEnd,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "jvm_args" -> rt.getInputArguments.asScala.toSeq,
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
        "spark" -> spark.version, "master" -> spark.sparkContext.master,
        "data" -> s.data, "mix_data" -> s.mixData, "work" -> work),
      "mix_outputs" -> w.oracleOutputs,
    )
    Files.write(Paths.get(a("out")), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** Every per-layer metric name, so each traced run prints all of them;
    * a layer a workload never calls reads 0.
    */
  val LayerNames: Seq[String] = Seq(
    "pipeline.plan_s", "pipeline.run_s", "pipeline.jobs_per_tick", "pipeline.rows_read",
    "pipeline.rows_filtered", "pipeline.rows_written", "pipeline.write_ratio",
    "sources.read_s", "sources.write_s", "sources.write_rows_per_s",
    "rowhash.rows_per_s", "dedup.snapshot_rows", "dedup.filter_s", "dedup.drop_ratio",
    "queries.construct_s", "queries.eager_jobs", "queries.execute_s",
    "codec.classify_mb_per_s") ++
    Blobs.Codecs.flatMap(c => Seq(s"codec.$c.mb_per_s", s"codec.$c.lib_mb_per_s"))

  /** Per-layer figures fixed by the seed's windows. A change in them means
    * different output, not better or worse performance, so they are
    * reported with a traced run but are not among its metrics.
    */
  val DataCounts: Set[String] = Set("pipeline.rows_read", "pipeline.rows_filtered",
    "pipeline.rows_written", "pipeline.write_ratio", "dedup.snapshot_rows", "dedup.drop_ratio")

  def unitOf(metric: String): String =
    if (metric.endsWith("rows_per_s")) "rows/s"
    else if (metric.endsWith("mb_per_s")) "MB/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("ratio") || metric.endsWith("util")) "ratio"
    else if (metric.contains(".rows") || metric.endsWith("_rows")) "rows"
    else "count"

  /** The session posture of the program's own bench and verify mains, with
    * scratch space kept under the run's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap in use after full collections: the retained set. Unpersists
    * finish asynchronously, so the lowest of three readings is kept.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MiB
  }.min

  /** CPU seconds a spin burn obtains per wall second over `n` threads:
    * about `n` on a quiet machine, less when others share it.
    */
  def effectiveCores(n: Int, millis: Long = 500): Double = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val c0 = Clocks.cpuS
    val t0 = System.nanoTime()
    val threads = (1 to n).map { _ =>
      val th = new Thread(() => { var x = 0L; while (!stop.get()) x += 1 })
      th.setDaemon(true); th.start(); th
    }
    Thread.sleep(millis)
    stop.set(true)
    threads.foreach(_.join())
    (Clocks.cpuS - c0) / ((System.nanoTime() - t0) / 1e9)
  }
}
