package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.core.io.JsonStringEncoder
import graft.operators.IncrementalDedup
import graft.sources.Connector

/** Cursor-window range predicate — the reference's `-window column:from:to`
  * CLI concept (`/root/reference/clickhouse/reader/main.go:32,141-146`):
  * `WHERE cursor BETWEEN from AND to`, where from/to are raw SQL expressions
  * evaluated by the engine (`toDate('…')`, `today()` pass through —
  * `clickhouse/reader/main_test.go:44-49`). `expr()` gives the same
  * pass-through power with Catalyst's function library.
  */
final case class Window(column: String, from: String, to: String) {
  def predicate: Column = col(column).between(expr(from), expr(to))
}

/** O1 ORDER BY passthrough: parse the reference's verbatim sort text
  * (`-order 'col [DESC][,col2]'`, `clickhouse/reader/main.go:30,149-153`)
  * into Catalyst sort columns. A bare `expr("col DESC")` would silently
  * parse DESC as an alias, so direction suffixes are handled explicitly.
  */
object SortSpec {
  def parse(s: String): Column = {
    val t = s.trim
    val l = t.toLowerCase
    if (l.endsWith(" desc")) expr(t.dropRight(5)).desc
    else if (l.endsWith(" asc")) expr(t.dropRight(4)).asc
    else expr(t)
  }
  def parseList(order: String): Seq[Column] =
    order.split(",").toIndexedSeq.filter(_.trim.nonEmpty).map(parse)
}

/** Per-run accounting — the reference's `Status` stream + log counters
  * (`provider.go:231-239`, `consumer.go:197-205`, `contract.proto:46-53`).
  */
final case class RunStats(
    rowsRead: Long,
    rowsFiltered: Long,
    rowsWritten: Long,
    durationMs: Long,
) {
  /** The run as one JSON object: the line a CLI run prints. */
  def toJson: String =
    s"""{"rowsRead":$rowsRead,"rowsFiltered":$rowsFiltered,"rowsWritten":$rowsWritten,"durationMs":$durationMs}"""
}

object RunStats {
  /** A failed run as one JSON object: exception class and message (the
    * message may be null). */
  def failureJson(e: Throwable): String = {
    def str(v: String) =
      if (v == null) "null"
      else "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(v)) + "\""
    s"""{"error":${str(e.getClass.getName)},"message":${str(e.getMessage)}}"""
  }
}

/** One scheduled-run pipeline (§3.1 of SURVEY.md): scan → project → window
  * filter → order → (incremental anti-join dedup) → sink, with row
  * accounting. This is the whole of the reference's provider+consumer pair
  * collapsed into a single Spark execution — the gRPC exchange was an
  * artifact of its two-process architecture, not a query semantic.
  *
  * Scale notes (100 TB):
  *   - projection + window predicate are applied before any wide op, so
  *     Catalyst pushes them into the scan (PushedFilters / ReadSchema);
  *   - the dedup anti-join is the only shuffle, and AQE may demote it to a
  *     broadcast join when the snapshot window is small;
  *   - row counts are metrics the write's own execution observes
  *     (`Dataset.observe`): no cache, no second scan, never collect().
  */
object Transfer {

  final case class Config(
      table: String,
      target: String,
      fields: Seq[String] = Seq.empty,     // P1; empty = '*'
      window: Option[Window] = None,       // P2
      orderBy: Seq[String] = Seq.empty,    // O1 (kept for API parity)
      increment: Boolean = false,          // P3/J1 incremental dedup
      mode: SaveMode = SaveMode.Append,
  )

  /** Build the source-side plan (no action triggered). Window and ORDER BY
    * apply BEFORE the projection — the reference's generated SQL is
    * `SELECT <fields> … WHERE cursor … ORDER BY …`, where the cursor/sort
    * columns need not be in the field list. Catalyst prunes the scan to
    * the union of referenced columns either way.
    */
  def plan(source: Connector, cfg: Config): DataFrame = {
    var df = source.read(cfg.table)
    cfg.window.foreach(w => df = df.where(w.predicate))
    if (cfg.orderBy.nonEmpty) df = df.orderBy(cfg.orderBy.map(SortSpec.parse): _*)
    if (cfg.fields.nonEmpty) df = df.select(cfg.fields.map(col): _*)
    df
  }

  /** Run one transfer; returns the reference-parity accounting. The write
    * is the run's only action: rows read and rows written are counted
    * inside it, on the planned source and on the deduplicated frame, so
    * both are the rows this run saw even when the sink is the source.
    */
  def run(source: Connector, sink: Connector, cfg: Config): RunStats = {
    val t0 = System.nanoTime()
    val read = Observation()
    val written = Observation()
    val src = plan(source, cfg).observe(read, count(lit(1)).as("rows"))

    val toWrite =
      if (!cfg.increment) src
      else {
        // Snapshot the SAME window/field list on the target so hashes align
        // (`provider.go:165`, `consumer.go:82`). A projected target may not
        // contain the cursor column (only `fields` were ever written); then
        // the window is skipped and the snapshot covers the whole target —
        // a superset of hashes, still correct for dedup (the reference
        // would error on the missing column instead). A target that exists
        // but cannot be read fails the run: without its snapshot the run
        // would rewrite the whole window.
        var tgt = if (sink.exists(cfg.target)) sink.read(cfg.target) else null
        if (tgt == null) src
        else {
          cfg.window.foreach { w =>
            if (tgt.columns.contains(w.column)) tgt = tgt.where(w.predicate)
          }
          if (cfg.fields.nonEmpty) tgt = tgt.select(cfg.fields.map(col): _*)
          IncrementalDedup.filter(src, IncrementalDedup.snapshot(tgt))
        }
      }

    sink.write(toWrite.observe(written, count(lit(1)).as("rows")), cfg.target, cfg.mode)
    // Spark's listener fulfils the observations asynchronously, after the
    // write has returned: `get` blocks until it has.
    def rows(o: Observation) = o.get("rows").asInstanceOf[Long]
    val (r, w) = (rows(read), rows(written))
    RunStats(
      rowsRead = r,
      rowsFiltered = r - w,
      rowsWritten = w,
      durationMs = (System.nanoTime() - t0) / 1000000,
    )
  }
}
