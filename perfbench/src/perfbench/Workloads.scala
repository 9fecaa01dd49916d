package perfbench

import java.time.LocalDate
import java.util.Random
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.RowHash
import graft.operators.{IncrementalDedup, Multimodal}
import graft.operators.Multimodal.MediaFile
import graft.pipeline.{RunStats, Transfer, Window}
import graft.sources.{Connector, FileConnector, Tables}

final case class Check(name: String, ok: Boolean, detail: String)

/** Inputs and sizes shared by the workloads. */
final case class Settings(seed: Long, data: String, mixData: String, cores: Int,
    blobsPerCodec: Int, blobMbPerCodec: Double, truncatedPerCodec: Int)

/** One workload: seeded set-up, an untimed warm-up, then passes over a
  * fixed unit of work, each made of timed operations of `opKinds`.
  */
trait Workload {
  def opKinds: Set[String]
  /** What `work_per_s` counts, and the names of it and of the p50 in the
    * per-run lines. */
  def workUnit: String = "ops"
  def throughputName: String = "ops_per_s"
  def p50Name: String = "op_p50_s"
  def setup(spark: SparkSession, dir: String): Unit
  def warmup(t: Tracer): Unit
  /** One pass; returns the work it did, in `workUnit`. */
  def pass(t: Tracer): Double
  /** Extra traced-only probes after the timed loop. */
  def afterLoop(t: Tracer): Unit = ()
  def checks(): Seq[Check]
  def layers(t: Tracer): Seq[(String, Double)]
  /** Directory of outputs to compare with the DuckDB oracle, if any. */
  def oracleOutputs: Option[String] = None
}

object Workload {
  val MiB: Double = 1024.0 * 1024.0

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Order-free content digest: row count and the sum of 64-bit row hashes. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

/** `transfer_incremental`: episodes of a cold load, sliding overlapping
  * ticks and a rerun of the last window, with `increment = true`, from the
  * lineitem table into a parquet FileConnector.
  */
final class TransferIncremental(s: Settings) extends Workload {
  import Workload._

  private val opKind = "tick"
  private val ProbeKind = "probe"
  val opKinds = Set(opKind)
  override val workUnit = "rows"
  override val throughputName = "rows_per_s"
  override val p50Name = "tick_p50_s"

  /** `l_shipdate` domain of the generated lineitem table. */
  private val FirstDay = LocalDate.parse("1995-01-02")
  private val Days = 2600
  /** Episodes of one kind a run can hold. Timed and warm-up episode k
    * shifts every window by k days, probe episode k by MaxEpisodes + k, so
    * no two episodes share a window. */
  private val MaxEpisodes = 100

  /** The seeded window list of one episode (inclusive day ranges). */
  val windows: Seq[(LocalDate, LocalDate)] = {
    val rng = new Random(s.seed)
    val width = 175 + rng.nextInt(11)
    val overlap = 0.25 + 0.5 * rng.nextDouble()
    val step = math.max(1, math.round(width * (1 - overlap)).toInt)
    val slides = 2
    val start = FirstDay.plusDays(rng.nextInt(Days - 2 * MaxEpisodes - width - slides * step).toLong)
    val ws = (0 to slides).map { k =>
      (start.plusDays(k.toLong * step), start.plusDays(k.toLong * step + width - 1))
    }
    ws :+ ws.last
  }

  private var spark: SparkSession = _
  private var source: Connector = _
  private var sink: Connector = _
  private var dir: String = _

  private final case class Tick(from: LocalDate, to: LocalDate, stats: Option[RunStats])
  private final case class Episode(kind: String, target: String, ticks: Seq[Tick])
  private val episodes = mutable.ArrayBuffer.empty[Episode]
  private val snapshotRows = mutable.ArrayBuffer.empty[Long]

  def setup(session: SparkSession, d: String): Unit = {
    spark = session
    dir = d
    source = new FileConnector(spark, s.data)
    sink = new FileConnector(spark, s"$dir/sink")
  }

  private def config(target: String, w: (LocalDate, LocalDate)) =
    Transfer.Config("lineitem", target,
      window = Some(Window("l_shipdate", s"timestamp'${w._1} 00:00:00'",
        s"timestamp'${w._2} 00:00:00'")),
      increment = true)

  /** One episode of `kind` into a new target, every window shifted by
    * the episode's own number of days: each tick, like a scheduled run over
    * a new window, plans and compiles new code rather than reusing another
    * episode's.
    */
  private def episode(t: Tracer, kind: String): Double = {
    val probing = kind == ProbeKind
    val k = episodes.count(e => (e.kind == ProbeKind) == probing)
    val (target, shift) = if (probing) (s"p$k", MaxEpisodes + k) else (s"t$k", k)
    val shifted = windows.map { case (a, b) => (a.plusDays(shift.toLong), b.plusDays(shift.toLong)) }
    val ticks = shifted.zipWithIndex.map { case (w, i) =>
      val cfg = config(target, w)
      var st: RunStats = null
      t.op(kind, s"$target/$i") {
        if (probing) {
          probe(t, cfg, first = i == 0)
          st = Transfer.run(source, sink, cfg)
        } else st = t.span("pipeline.run")(Transfer.run(source, sink, cfg))
      }
      Tick(w._1, w._2, Option(st))
    }
    episodes += Episode(kind, target, ticks)
    ticks.flatMap(_.stats).map(_.rowsRead.toDouble).sum
  }

  /** Traced runs only: one tick's layers called one by one from outside,
    * then the tick itself to advance the probe episode's target. Probe
    * episodes have windows of their own, so the timed ticks reuse none of
    * their generated code.
    */
  private def probe(t: Tracer, cfg: Transfer.Config, first: Boolean): Unit = {
    val plan = t.span("pipeline.plan")(Transfer.plan(source, cfg))
    t.span("sources.read")(noop(plan))
    t.span("rowhash.hash")(noop(RowHash.withRowHash(plan)))
    if (!first) {
      val snap = IncrementalDedup.snapshot(
        sink.read(cfg.target).where(cfg.window.get.predicate))
      snapshotRows += t.span("dedup.snapshot")(snap.count())
      t.span("dedup.filter")(noop(IncrementalDedup.filter(plan, snap)))
    }
  }

  /** Three episodes: the JIT is still speeding ticks up after one. */
  def warmup(t: Tracer): Unit = (1 to 3).foreach(_ => episode(t, "warmup"))

  /** One episode of ticks; traced runs first make a probe episode. */
  def pass(t: Tracer): Double = {
    if (t.enabled) episode(t, ProbeKind)
    episode(t, opKind)
  }

  def checks(): Seq[Check] = {
    // Per-day (rows, digest) of the source, so any window's expected
    // content is a sum over its days.
    val src = source.read("lineitem")
    val days = src.groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)), sum(xxhash64(src.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)")))
      .collect().map(r => LocalDate.parse(r.getString(0)) -> ((r.getLong(1), r.getDecimal(2))))
      .toMap
    def range(a: LocalDate, b: LocalDate) =
      days.iterator.filter { case (d, _) => !d.isBefore(a) && !d.isAfter(b) }.map(_._2).toSeq
    def rows(a: LocalDate, b: LocalDate): Long = range(a, b).map(_._1).sum
    episodes.toSeq.flatMap { ep =>
      var covered: LocalDate = null
      val tickChecks = ep.ticks.zipWithIndex.map { case (tk, i) =>
        val read = rows(tk.from, tk.to)
        val written =
          if (covered == null) read
          else if (tk.to.isAfter(covered)) rows(covered.plusDays(1), tk.to)
          else 0L
        if (covered == null || tk.to.isAfter(covered)) covered = tk.to
        val want = RunStats(read, read - written, written, 0L)
        tk.stats match {
          case None => Check(s"${ep.target}/$i stats", ok = false, "tick failed")
          case Some(got) =>
            val ok = got.copy(durationMs = 0L) == want
            Check(s"${ep.target}/$i stats", ok, s"got $got, want $want")
        }
      }
      val union = range(ep.ticks.head.from, covered)
      val want = (union.map(_._1).sum,
        union.map(_._2).foldLeft(java.math.BigDecimal.ZERO)(_ add _))
      val got = digest(spark.read.parquet(s"$dir/sink/${ep.target}.parquet"))
      tickChecks :+ Check(s"${ep.target} content", got == want,
        s"target (rows, digest) $got, source union window $want")
    }
  }

  def layers(t: Tracer): Seq[(String, Double)] = {
    def stats(kind: String) = episodes.filter(_.kind == kind).flatMap(_.ticks).flatMap(_.stats)
    val ticks = stats(opKind)
    val probed = stats(ProbeKind)
    val n = math.max(1, ticks.size).toDouble
    val np = math.max(1, probed.size).toDouble
    val probes = Set(ProbeKind)
    val read = ticks.map(_.rowsRead).sum.toDouble
    val written = ticks.map(_.rowsWritten).sum.toDouble
    val filtered = ticks.map(_.rowsFiltered).sum.toDouble
    val writeS = t.writeSeconds("pipeline.run", Set(opKind))
    val hashS = t.total("rowhash.hash", probes) - t.total("sources.read", probes)
    val dedupN = math.max(1, snapshotRows.size).toDouble
    Seq(
      "pipeline.plan_s" -> t.total("pipeline.plan", probes) / np,
      "pipeline.run_s" -> t.total("pipeline.run", Set(opKind)) / n,
      "pipeline.jobs_per_tick" -> t.jobsIn("pipeline.run", Set(opKind)) / n,
      "pipeline.rows_read" -> read / n,
      "pipeline.rows_filtered" -> filtered / n,
      "pipeline.rows_written" -> written / n,
      "pipeline.write_ratio" -> (if (read > 0) written / read else 0.0),
      "sources.read_s" -> t.total("sources.read", probes) / np,
      "sources.write_s" -> writeS / n,
      "sources.write_rows_per_s" -> (if (writeS > 0) written / writeS else 0.0),
      "rowhash.rows_per_s" ->
        (if (hashS > 0) probed.map(_.rowsRead).sum.toDouble / hashS else 0.0),
      "dedup.snapshot_rows" -> snapshotRows.sum / dedupN,
      "dedup.filter_s" -> t.total("dedup.filter", probes) / dedupN,
      "dedup.drop_ratio" -> (if (read > 0) filtered / read else 0.0),
    )
  }
}

/** A frozen list of catalog queries in seeded order, each materialised
  * by a noop-format write; one part of `catalog_mix`.
  */
final class QueryMix(s: Settings) extends Workload {
  import Workload._

  private val opKind = "query"
  val opKinds = Set(opKind)

  /** The flagship incremental anti-join; two of the four queries that run
    * jobs while their DataFrame is built (on the generated sf0.01 tables
    * `dedup_ensemble` takes about 17 s and `corpus_curate` about 2 s, too
    * long for the time budget); the slowest mining and classic queries.
    */
  val Names: Seq[String] = Seq(
    "q7_incremental_antijoin", "graph_pagerank", "anomaly_mad", "basket_triples",
    "q24_local_supplier_volume")

  private val order = {
    val l = new java.util.ArrayList[String]()
    Names.foreach(l.add)
    java.util.Collections.shuffle(l, new Random(s.seed))
    (0 until l.size).map(l.get)
  }

  private var spark: SparkSession = _
  private var outDir: String = _
  override def oracleOutputs: Option[String] = Some(outDir)

  def setup(session: SparkSession, dir: String): Unit = {
    spark = session
    outDir = s"$dir/mix_out"
    new java.io.File(outDir).mkdirs()
    val oracle = SparkEntry.oracleSql
    val sql = Json.obj(Names.map(n => n -> oracle.getOrElse(n, null)): _*)
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      Json(sql).getBytes("UTF-8"))
  }

  private def writeOutputs(t: Tracer): Unit = order.foreach { name =>
    t.op("warmup", name) {
      SparkEntry.queries(name)(spark, s.mixData).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
  }

  /** Per query name: noop passes attempted, and those that completed. */
  private val passes = mutable.LinkedHashMap.empty[String, (Int, Int)]

  private def noopPass(t: Tracer, kind: String): Unit = order.foreach { name =>
    val o = t.op(kind, name) {
      val df = t.span("queries.construct")(SparkEntry.queries(name)(spark, s.mixData))
      t.span("queries.execute")(noop(df))
    }
    val (tried, done) = passes.getOrElse(name, (0, 0))
    passes(name) = (tried + 1, done + (if (o.error.isEmpty) 1 else 0))
  }

  /** Writes every output once, for the oracle comparison, then one noop
    * pass: the first noop pass after the writes is still slower than the rest. */
  def warmup(t: Tracer): Unit = {
    writeOutputs(t)
    noopPass(t, "warmup")
  }

  def pass(t: Tracer): Double = {
    noopPass(t, opKind)
    order.size.toDouble
  }

  /** Each output, written once, is compared with the oracle after the run;
    * every noop pass of every query must have completed.
    */
  def checks(): Seq[Check] = Names.flatMap { n =>
    val ok = new java.io.File(s"$outDir/$n/_SUCCESS").isFile
    val (tried, done) = passes.getOrElse(n, (0, 0))
    Seq(Check(s"$n output", ok, if (ok) "written" else "missing"),
      Check(s"$n passes", tried > 0 && done == tried, s"$done of $tried noop passes completed"))
  }

  def layers(t: Tracer): Seq[(String, Double)] = {
    val k = Set(opKind)
    val n = math.max(1, t.opIds(k).size).toDouble
    Seq(
      "queries.construct_s" -> t.total("queries.construct", k) / n,
      "queries.eager_jobs" -> t.jobsIn("queries.construct", k) / n,
      "queries.execute_s" -> t.total("queries.execute", k) / n,
    )
  }
}

/** A seeded WARC corpus held as a parquet table of MediaFile rows,
  * classified through `Multimodal.decodeErrStats`; one part of
  * `catalog_mix`.
  */
final class IngestBlobs(s: Settings, keepBytes: Boolean) extends Workload {
  import Workload._

  private val opKind = "batch"
  val opKinds = Set(opKind)

  private var spark: SparkSession = _
  private var dir: String = _
  private var corpus: Seq[Blobs.Blob] = Nil
  private var expected: Map[(String, String), Long] = Map.empty
  private var plainMb = 0.0
  private val results = mutable.ArrayBuffer.empty[Map[(String, String), Long]]
  private var batches = 0
  private val probeChecks = mutable.ArrayBuffer.empty[Check]
  private val codecMbPerS = mutable.LinkedHashMap.empty[String, Double]

  def setup(session: SparkSession, d: String): Unit = {
    spark = session
    dir = d
    val blobs = Blobs.corpus(s.seed, s.blobsPerCodec, s.blobMbPerCodec, s.truncatedPerCodec)
    Blobs.balance(blobs, s.cores).foreach { g =>
      spark.createDataset(g.map(b => MediaFile(b.id, "text", b.packed)))(Encoders.product[MediaFile])
        .coalesce(1).write.mode("append").parquet(s"$dir/corpus.parquet")
    }
    expected = blobs.groupBy(b => if (b.truncated) (b.codec, "corrupt") else ("warc", "ok"))
      .map { case (k, v) => k -> v.size.toLong }
    plainMb = blobs.map(_.plain.length.toLong).sum / MiB
    corpus = if (keepBytes) blobs else Nil
  }

  private def batch(t: Tracer, kind: String): Unit = {
    batches += 1
    t.op(kind, "corpus")(classify(t))
  }

  private def classify(t: Tracer): Unit = {
    val media = t.span("sources.read")(
      Tables.load(spark, dir, "corpus").as(Encoders.product[MediaFile]))
    val rows = t.span("codec.classify_job")(Multimodal.decodeErrStats(spark, media).collect())
    results += rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  /** Ten batches: a batch is short, and the decoders' JIT warm-up spans several. */
  def warmup(t: Tracer): Unit = (1 to 10).foreach(_ => batch(t, "warmup"))

  def pass(t: Tracer): Double = { batch(t, opKind); 1.0 }

  /** Each codec decoded in the harness thread by the program and by the library
    * that wrote it, then the classifier over every blob; three rounds each,
    * the median kept.
    */
  override def afterLoop(t: Tracer): Unit = {
    def rounds(name: String, mb: Double)(body: => Boolean): Unit = {
      val secs = (1 to 3).map { _ =>
        var ok = true
        val o = t.op("probe", name)(t.span(name) { ok = body })
        probeChecks += Check(s"$name round", ok && o.error.isEmpty,
          o.error.map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse(
            if (ok) "decoded bytes match" else "decoded bytes differ"))
        o.wallS
      }
      codecMbPerS(name) = mb / median(secs)
    }
    Blobs.Codecs.foreach { c =>
      val intact = corpus.filter(b => b.codec == c && !b.truncated)
      val mb = intact.map(_.plain.length.toLong).sum / MiB
      rounds(s"codec.$c.mb_per_s", mb)(intact.forall(b =>
        java.util.Arrays.equals(Blobs.graftDecode(c, b.packed), b.plain)))
      rounds(s"codec.$c.lib_mb_per_s", mb)(intact.forall(b =>
        java.util.Arrays.equals(Blobs.libDecode(c, b.packed), b.plain)))
    }
    rounds("codec.classify_mb_per_s", plainMb)(corpus.forall { b =>
      val want = if (b.truncated) (b.codec, "corrupt") else ("warc", "ok")
      Multimodal.mediaDecodeClass(b.packed) == want
    })
  }

  /** Every batch, warm-up and timed, must have produced the planted classes. */
  def checks(): Seq[Check] =
    Check("batches", batches > 0 && results.size == batches,
      s"${results.size} of $batches batches produced a result") +:
      (results.zipWithIndex.map { case (got, i) =>
        Check(s"batch $i classes", got == expected, s"got $got, want $expected")
      }.toSeq ++ probeChecks)

  def layers(t: Tracer): Seq[(String, Double)] = {
    val n = math.max(1, t.opIds(Set(opKind)).size).toDouble
    val codecNames = Blobs.Codecs.flatMap(c => Seq(s"codec.$c.mb_per_s", s"codec.$c.lib_mb_per_s")) :+
      "codec.classify_mb_per_s"
    codecNames.map(k => k -> codecMbPerS.getOrElse(k, 0.0)) ++ Seq(
      "sources.read_s" -> t.total("sources.read", Set(opKind)) / n)
  }
}

/** `catalog_mix`: each pass runs the query mix once, then classifies the
  * blob corpus `batches` times. Work is counted in operations.
  */
final class CatalogMix(queries: QueryMix, blobs: IngestBlobs, batches: Int)
    extends Workload {
  private val parts = Seq(queries, blobs)
  val opKinds: Set[String] = parts.flatMap(_.opKinds).toSet

  def setup(spark: SparkSession, dir: String): Unit = {
    queries.setup(spark, s"$dir/queries")
    blobs.setup(spark, s"$dir/blobs")
  }

  def warmup(t: Tracer): Unit = parts.foreach(_.warmup(t))

  def pass(t: Tracer): Double =
    queries.pass(t) + (1 to batches).map(_ => blobs.pass(t)).sum

  override def afterLoop(t: Tracer): Unit = parts.foreach(_.afterLoop(t))
  def checks(): Seq[Check] = parts.flatMap(_.checks())
  def layers(t: Tracer): Seq[(String, Double)] = parts.flatMap(_.layers(t))
  override def oracleOutputs: Option[String] = queries.oracleOutputs
}
