package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide clocks: process CPU and cumulative GC time. */
object Clocks {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}

/** One timed interval on the JVM's monotonic clock (nanoseconds). */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** One operation the single client sends: a tick, a query, a blob batch,
  * or (traced runs only) a probe into one layer.
  */
final case class Op(id: Long, kind: String, name: String, wallS: Double,
    cpuS: Double, gcS: Double, error: Option[Throwable])

/** Records operations always, and spans plus Spark listener data when
  * tracing is on. With tracing off, `span` runs its body and nothing else.
  * Spans are kept in memory and written out when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[Op]
  private var sc: SparkContext = _
  private var stack: List[Long] = Nil
  private var lastSpan = 0L
  private var currentOp = 0L
  private var lastOp = 0L
  var listener: SparkTrace = _

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (enabled) {
      listener = new SparkTrace
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener.catalyst)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastSpan += 1
      val id = lastSpan
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, currentOp, t0, t1)
      }
    }

  /** Runs one operation; a non-fatal failure is recorded, not rethrown. */
  def op(kind: String, name: String)(body: => Unit): Op = {
    lastOp += 1
    currentOp = lastOp
    val c0 = Clocks.cpuS
    val g0 = Clocks.gcS
    val t0 = System.nanoTime()
    val err =
      try { span(kind)(body); None }
      catch { case NonFatal(e) => Some(e) }
    val o = Op(lastOp, kind, name, (System.nanoTime() - t0) / 1e9,
      Clocks.cpuS - c0, Clocks.gcS - g0, err)
    currentOp = 0L
    ops += o
    o
  }

  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  /** Sum of the spans named `name` inside operations of `kinds`. */
  def total(name: String, kinds: Set[String]): Double = {
    val ids = opIds(kinds)
    spans.iterator.filter(s => s.name == name && ids(s.op)).map(_.seconds).sum
  }

  def opIds(kinds: Set[String]): Set[Long] =
    ops.iterator.filter(o => kinds(o.kind)).map(_.id).toSet

  /** Self time of every span of one layer inside operations of `kinds`,
    * summed: the span minus the part of it covered by its child spans and
    * the Spark jobs it started.
    */
  def selfTime(layer: String, kinds: Set[String]): Double = {
    val ids = opIds(kinds)
    val children = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    def add(parent: Long, iv: (Long, Long)) =
      children.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += iv
    spans.foreach(s => add(s.parent, (s.start, s.end)))
    listener.jobs.values.foreach(j => if (j.end > 0) add(j.span, (j.start, j.end)))
    spans.iterator.filter(s => s.name.startsWith(layer + ".") && ids(s.op)).map { s =>
      val ivs = children.getOrElse(s.id, mutable.ArrayBuffer.empty)
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = s.start
      ivs.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      (s.end - s.start - covered) / 1e9
    }.sum
  }

  /** Spark-layer metrics per operation of `kinds`, from the listeners. */
  def sparkMetrics(kinds: Set[String], cores: Int): Seq[(String, Double)] = {
    val ids = opIds(kinds)
    val n = math.max(1, ids.size)
    val spanOp = spans.iterator.map(s => s.id -> s.op).toMap
    val jobIds = listener.jobs.values.filter(j => ids(spanOp.getOrElse(j.span, 0L)))
      .map(_.id).toSet
    val stages = listener.stages.filter(s => jobIds(s.job))
    val wall = ops.iterator.filter(o => ids(o.id)).map(_.wallS).sum
    val gc = ops.iterator.filter(o => ids(o.id)).map(_.gcS).sum
    val opSpans = spans.filter(s => s.parent == 0 && ids(s.op))
    val catalyst = listener.catalystPhases.filter { case (t, _) =>
      opSpans.exists(s => t >= s.start && t <= s.end)
    }.map(_._2).sum
    val run = stages.map(_.runS).sum
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> jobIds.size.toDouble / n,
      "spark.stages" -> stages.size.toDouble / n,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble / n,
      "spark.task_run_s" -> run / n,
      "spark.task_cpu_s" -> stages.map(_.cpuS).sum / n,
      "spark.core_util" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "spark.idle_core_s" -> math.max(0.0, wall * cores - run) / n,
      "spark.catalyst_s" -> catalyst / n,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / mb / n,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleReadB).sum / mb / n,
      "spark.spill_mb" -> stages.map(_.spillB).sum / mb / n,
      "spark.gc_s" -> gc / n,
    )
  }

  /** Jobs started inside spans named `name`, within operations of `kinds`. */
  def jobsIn(name: String, kinds: Set[String]): Int = {
    val ids = opIds(kinds)
    val spanIds = spans.iterator.filter(s => s.name == name && ids(s.op)).map(_.id).toSet
    listener.jobs.values.count(j => spanIds(j.span))
  }

  /** Seconds of SQL file-write executions whose jobs ran inside spans
    * named `name`.
    */
  def writeSeconds(name: String, kinds: Set[String]): Double = {
    val ids = opIds(kinds)
    val spanIds = spans.iterator.filter(s => s.name == name && ids(s.op)).map(_.id).toSet
    val execIds = listener.jobs.values.filter(j => spanIds(j.span)).map(_.exec).toSet
    listener.execs.values.filter(e => e.write && e.end > 0 && execIds(e.id))
      .map(e => (e.end - e.start) / 1e9).sum
  }

  /** Spans and jobs as JSON lines, for the trace file. */
  def jsonLines: Iterator[String] = {
    val s = spans.iterator.map(x => Json(Json.obj("type" -> "span", "id" -> x.id,
      "name" -> x.name, "parent" -> x.parent, "op" -> x.op,
      "start_ns" -> x.start, "end_ns" -> x.end)))
    val j = if (listener == null) Iterator.empty else listener.jobs.valuesIterator.map(x =>
      Json(Json.obj("type" -> "job", "id" -> x.id, "parent" -> x.span,
        "execution" -> x.exec, "start_ns" -> x.start, "end_ns" -> x.end)))
    s ++ j
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark's own metrics, read through a SparkListener and a
  * QueryExecutionListener. Event times (epoch ms) are mapped onto the
  * JVM's monotonic clock so jobs line up with the benchmark's spans.
  */
final class SparkTrace extends SparkListener {
  final case class Job(id: Int, span: Long, exec: Long, start: Long, var end: Long)
  final case class Stage(job: Int, tasks: Int, runS: Double, cpuS: Double,
      shuffleWriteB: Long, shuffleReadB: Long, spillB: Long)
  final case class Exec(id: Long, start: Long, var end: Long, write: Boolean)

  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val execs = mutable.HashMap.empty[Long, Exec]
  /** (phase start on the monotonic clock, summed Catalyst phase seconds). */
  val catalystPhases = mutable.ArrayBuffer.empty[(Long, Double)]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Long = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobs(e.jobId) = Job(e.jobId, prop(Tracer.SpanKey), prop("spark.sql.execution.id"),
      ns(e.time), -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = ns(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(stageJob.getOrElse(i.stageId, -1), i.numTasks,
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val plan = s.physicalPlanDescription
      execs(s.executionId) = Exec(s.executionId, ns(s.time), -1L,
        plan.contains("InsertIntoHadoopFsRelationCommand"))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = ns(s.time))
    }
    case _ => ()
  }

  val catalyst: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) SparkTrace.this.synchronized {
        catalystPhases += ((ns(phases.map(_.startTimeMs).min),
          phases.map(_.durationMs).sum / 1e3))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }
}
