package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming realization of the reference's scheduled
  * incremental mode (SURVEY §3.4): each cron tick re-scanned a cursor
  * window and anti-joined row hashes to drop already-delivered rows
  * (`/root/reference/provider.go:160-178`). Stream-natively, the same
  * guarantee — every source row delivered exactly once across repeated
  * runs — comes from file-source offset tracking in the checkpoint, with
  * no re-scan and no target-side hash set at all. `Trigger.AvailableNow`
  * reproduces "run now, process everything new, stop" cron-batch
  * semantics.
  *
  * The windowed/sessionized transforms are written against plain
  * DataFrames so the exact same code runs in batch (driver oracle checks)
  * and behind `readStream` (production incremental).
  */
object StreamingPipeline {

  /** Streaming scan of a parquet fixture table with the nanos→micros
    * normalization the batch loader applies.
    */
  def streamTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // sets nanosAsLong, so the schema read below sees NANOS as longs
    val batch = graft.sources.Tables.load(spark, dir, name)
    // The file stream source needs a DIRECTORY base path. A single-file
    // table streams from its parent dir with a glob filter; a
    // directory-shaped table (Spark's own output layout) streams directly
    // — a glob filter on the parent would silently match none of its
    // part files and "process" zero rows.
    val schema = spark.read.parquet(path).schema
    // Hadoop FileSystem, not java.io.File: the layout check must work on
    // hdfs://, s3a://, etc. — a local-only check would silently route
    // dir-shaped remote tables into the zero-row glob branch.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val raw =
      if (fs.getFileStatus(hPath).isDirectory)
        spark.readStream.schema(schema).parquet(path)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", s"$name.parquet").parquet(dir)
    graft.sources.Tables.normalizeTimestamps(spark, path, raw)
      .select(batch.columns.map(col).toIndexedSeq: _*)
  }

  /** One incremental run: process everything not yet in the checkpoint,
    * append to the target, stop. Re-running with the same checkpoint
    * writes zero duplicate rows — the streaming-native equivalent of the
    * reference's snapshot anti-join.
    */
  def incrementalTransfer(spark: SparkSession, srcDir: String, table: String,
      targetDir: String, checkpointDir: String): StreamingQuery = {
    streamTable(spark, srcDir, table).writeStream
      .format("parquet")
      .option("path", targetDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Tumbling event-time aggregation (same Column program for batch and
    * stream; in streaming add `withWatermark` upstream).
    */
  def tumblingAgg(df: DataFrame, tsCol: String, width: String = "1 day"): DataFrame =
    slidingAgg(df, tsCol, width, slide = width)

  /** Sliding (hopping) event-time windows: each event lands in
    * width/slide overlapping windows — the "error rate over the last
    * hour, refreshed every 15 minutes" shape. Spark expands the window
    * set in a narrow generate before the one aggregation shuffle; state
    * per window is O(#groups), bounded under a watermark exactly like
    * [[tumblingAggWatermarked]]. Same Column program batch and stream.
    */
  def slidingAgg(df: DataFrame, tsCol: String, width: String = "1 day",
      slide: String = "6 hours"): DataFrame =
    // ONE copy of the oracle-parity money-sum contract (decimal cast,
    // round-2, double cast): tumblingAgg delegates here with slide=width.
    df.groupBy(window(col(tsCol), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Per-window per-key counts — the STATEFUL half of windowed heavy
    * hitters, a single shared Column program batch and stream (state per
    * window is O(#distinct keys), bounded under a watermark exactly like
    * [[tumblingAggWatermarked]]).
    */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
      width: String = "1 day"): DataFrame =
    df.groupBy(window(col(tsCol), width).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"))

  /** The STATELESS rank half of windowed heavy hitters, applied to the
    * materialized [[windowedCounts]] aggregate: per window, the top-k
    * keys by count. Rank-over-stream is not expressible in Append mode,
    * so streaming deployments run this inside `foreachBatch` (or over
    * the sink table) — the counts stage carries all the streaming state;
    * this stage is a bounded-heap top-k plus a row_number over ≤ k rows
    * per window. StreamingSpec proves counts-then-rank behind
    * `readStream` equals the one-shot batch program.
    */
  def topKPerWindow(counts: DataFrame, keyCol: String, k: Int): DataFrame = {
    val top = graft.plans.TopK.perKey(counts, Seq("window_start"),
      Seq(col("n").desc, col(keyCol).asc), k)
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("window_start").orderBy(col("n").desc, col(keyCol).asc)))
  }

  /** Stream-static enrichment: join the event stream to slow-changing
    * dimension tables. Each dim is explicitly `broadcast()` — the static
    * side ships to every executor once per batch and the stream side
    * never shuffles, which is both the only fully-general stream-static
    * join shape and the right plan at 100 TB of events vs MB-scale dims.
    * One Column program batch and stream (inner joins only: outer
    * stream-static joins change semantics under late static updates).
    */
  def enrich(stream: DataFrame, dims: Seq[(DataFrame, Column)]): DataFrame =
    dims.foldLeft(stream) { case (acc, (dim, cond)) =>
      acc.join(broadcast(dim), cond, "inner")
    }

  /** Event-time interval join: match each left row to right rows with
    * the same key whose timestamp falls in [leftTs, leftTs + maxDelay] —
    * click→view attribution, request→response pairing. Caller supplies
    * frames with DISJOINT column names (no hidden aliasing). One Column
    * program batch and stream: on streams, watermark BOTH sides first —
    * Spark then derives state-cleanup bounds from this equality +
    * time-range condition (the canonical stream-stream join shape;
    * without the range bound, join state grows forever).
    */
  def intervalJoin(lhs: DataFrame, rhs: DataFrame, lhsKey: String,
      rhsKey: String, lhsTs: String, rhsTs: String,
      maxDelaySeconds: Int): DataFrame =
    lhs.join(rhs,
      col(lhsKey) === col(rhsKey) &&
        col(rhsTs) >= col(lhsTs) &&
        col(rhsTs) <= col(lhsTs) + expr(s"INTERVAL $maxDelaySeconds SECONDS"))

  /** Left-outer event-time interval join: like [[intervalJoin]] but
    * unmatched left rows survive with NULL right columns. On streams
    * BOTH sides must be watermarked (the passed frames should already
    * carry `withWatermark`): Spark emits the null row only once the
    * watermark proves no matching right row can still arrive — the
    * outer result is late by the watermark delay, never wrong. State
    * stays bounded by `maxDelaySeconds` + the watermark, exactly as in
    * the inner form.
    */
  def intervalJoinLeftOuter(lhs: DataFrame, rhs: DataFrame, lhsKey: String,
      rhsKey: String, lhsTs: String, rhsTs: String,
      maxDelaySeconds: Int): DataFrame =
    lhs.join(rhs,
      col(lhsKey) === col(rhsKey) &&
        col(rhsTs) >= col(lhsTs) &&
        col(rhsTs) <= col(lhsTs) + expr(s"INTERVAL $maxDelaySeconds SECONDS"),
      "left_outer")

  /** Watermarked streaming tumbling aggregation: bounds the state store
    * (windows older than `delay` behind the max observed event time are
    * finalized and dropped) and lets Append mode emit each window exactly
    * once, when it CLOSES. This is the unbounded-stream shape of
    * `tumblingAgg` — without a watermark, windowed state grows forever
    * and Append mode cannot emit at all.
    */
  def tumblingAggWatermarked(df: DataFrame, tsCol: String,
      width: String = "1 day", delay: String = "1 hour"): DataFrame =
    tumblingAgg(df.withWatermark(tsCol, delay), tsCol, width)

  /** Exactly-once delivery from an at-least-once input: drop redelivered
    * copies by delivery key (the reference's snapshot anti-join guards
    * the same property across scheduled runs, `provider.go:160-178`).
    * One Column program, two physical shapes: in batch a plain
    * `dropDuplicates`; on a stream, watermarked
    * `dropDuplicatesWithinWatermark` — the state store then holds keys
    * only inside the redelivery horizon, so state is bounded by the
    * redelivery window, not by stream history (a bare streaming
    * `dropDuplicates` grows state forever at 100 TB).
    *
    * Redelivered copies are byte-identical, so the OUTPUT ROW SET is
    * deterministic no matter which physical copy each engine keeps.
    */
  def dedupExactlyOnce(df: DataFrame, keyCols: Seq[String], tsCol: String,
      redeliveryHorizon: String = "1 hour"): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, redeliveryHorizon)
        .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    else df.dropDuplicates(keyCols)

  // --- sessionization ----------------------------------------------------

  /** Built-in session windows — the compose-existing-ops path (preferred
    * when its semantics fit): `session_window(ts, gap)` merges events
    * into gap-delimited windows inside one aggregation, with Spark
    * managing the merge/expiry state natively (no custom state store
    * code, AQE-aware, and in streaming the watermark bounds state and
    * drives Append-mode emission).
    *
    * Boundary semantics differ from [[sessionizeBatch]] BY CONTRACT: the
    * built-in merges an event iff it lands strictly before the previous
    * window's end (`prev_ts + gap`), so a gap of EXACTLY `gap` starts a
    * new session — `sessionizeBatch`'s lag formulation is inclusive
    * (`diff > gap` splits). Both are exact; pick per pipeline.
    */
  def sessionWindowAgg(df: DataFrame, userCol: String, tsCol: String,
      gap: String = "30 minutes"): DataFrame =
    df.groupBy(col(userCol).as("user_id"),
        session_window(col(tsCol), gap).as("w"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)
  // Public + Array[Long]: the state encoder's generated code must SEE the
  // accessor (a private nested case class hides events() from Janino once
  // state actually round-trips through the store), and the primitive
  // array avoids collection-encoder overhead per micro-batch.
  final case class SessionState(events: Array[Long]) // epoch micros

  /** Batch sessionization: gap-based sessions via lag + running sum —
    * the oracle-checkable reference semantics.
    */
  def sessionizeBatch(df: DataFrame, userCol: String, tsCol: String,
      gap: Column): DataFrame = {
    val w = W.partitionBy(userCol).orderBy(col(tsCol))
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("__prev")) >
            gap.cast("long") * lit(1000000L), 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy(col(userCol).as("user_id"), col("session_id"))
      .agg(min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Streaming sessionization with explicit state: the custom-state path
    * (`flatMapGroupsWithState`) for when built-in session windows can't
    * express the semantics. Buffers per-user event times, emits gap-based
    * sessions at end-of-input (AvailableNow) / timeout (continuous).
    */
  private def toTs(micros: Long): java.sql.Timestamp = {
    // floorDiv/floorMod keep pre-epoch (negative) instants correct.
    val secs = Math.floorDiv(micros, 1000000L)
    val t = new java.sql.Timestamp(secs * 1000)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  /** Split a user's (sorted-or-not) event micros into gap-based sessions. */
  private def emit(user: Long, micros: List[Long],
      gapSeconds: Long): Iterator[Session] = {
    if (micros.isEmpty) Iterator.empty
    else {
      val sorted = micros.sorted
      val sessions = scala.collection.mutable.ListBuffer.empty[Session]
      var start = sorted.head; var prev = sorted.head; var n = 1L
      for (t <- sorted.tail) {
        if (t - prev > gapSeconds * 1000000L) {
          sessions += Session(user, toTs(start), toTs(prev), n)
          start = t; n = 0
        }
        prev = t; n += 1
      }
      sessions += Session(user, toTs(start), toTs(prev), n)
      sessions.iterator
    }
  }

  def sessionizeStreaming(spark: SparkSession, events: DataFrame,
      gapSeconds: Long): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val micros = rows.map(e => tsMicros(e.ts)).toList
          val all = state.getOption.map(_.events.toList).getOrElse(Nil) ++ micros
          // AvailableNow: single batch per run → emit complete sessions now.
          state.remove()
          emit(user, all, gapSeconds)
      }.toDF()
  }

  /** CONTINUOUS-stream sessionization: unlike `sessionizeStreaming`
    * (which assumes one AvailableNow batch holds all events and emits
    * everything), this version is correct when a user's session spans
    * micro-batches. Per batch it buffers the user's events in state and
    * emits ONLY sessions that have provably closed — gap-complete
    * against the watermark (no event older than `watermark - gap` can
    * still arrive, so a session whose last event is `≤ watermark - gap`
    * can never be extended). The open tail stays in state;
    * `EventTimeTimeout` fires for users with no new events so their
    * final sessions still emit once the watermark passes. State per user
    * is the open-tail event list — bounded by one session's events, not
    * the stream's history. Requires `withWatermark` on `tsCol` upstream.
    */
  def sessionizeContinuous(spark: SparkSession, events: DataFrame,
      gapSeconds: Long): DataFrame = {
    import spark.implicits._
    val gapMicros = gapSeconds * 1000000L
    events.select(col("user_id"), col("ts")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val incoming = rows.map(e => tsMicros(e.ts)).toList
          val all = (state.getOption.map(_.events.toList).getOrElse(Nil) ++ incoming).sorted
          // Watermark in micros; 0 before the first batch establishes one.
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          // Split: sessions whose LAST event precedes (watermark - gap)
          // can never be extended by any future on-time event → emit.
          // Everything newer is the open tail → keep in state.
          val (closedEvts, openEvts) = all.partition(_ + gapMicros <= wmMicros)
          // A closed-side event within gap of the open side belongs to the
          // open session (partition is by timestamp, session by gap chain):
          // walk back while gap-chained.
          var closed = closedEvts
          var open = openEvts
          while (closed.nonEmpty && open.nonEmpty && open.head - closed.last <= gapMicros) {
            open = closed.last :: open
            closed = closed.init
          }
          if (open.isEmpty) {
            state.remove() // nothing pending; next event starts fresh
          } else {
            state.update(SessionState(open.toArray))
            // Fire a timeout once the open tail's gap can close, so the
            // final session emits even if the user goes quiet.
            state.setTimeoutTimestamp((open.last + gapMicros) / 1000L + 1L)
          }
          emit(user, closed, gapSeconds)
      }.toDF()
  }

  /** Streaming CDC apply: maintain a keyed table from a change stream
    * via `foreachBatch` — each micro-batch unions the current target
    * state with the batch and re-resolves per key with
    * [[graft.operators.Merge.applyCdc]] (max-`orderCols` row wins,
    * winner-is-delete drops the key). Because resolution always
    * compares against the SURVIVING row's order columns, the result is
    * independent of how changes split across micro-batches — no
    * batches-arrive-in-order assumption, unlike a blind last-batch-wins
    * upsert. Generations are written out-of-place
    * (`<root>/gen=<batchId>`); [[readCdcTarget]] reads the latest — the
    * swap-pointer commit protocol, same as `Layout.compact`.
    *
    * State note: the target table IS the state (no state store), so a
    * restart resumes from the checkpoint offsets + last written
    * generation. Per-batch cost is one target scan + one combinable
    * shuffle of (keys) — at 100 TB the target side would move to a
    * partitioned MERGE (only touched partitions rewritten).
    */
  def cdcApplyStreaming(changes: DataFrame, keys: Seq[String],
      orderCols: Seq[String], deleteCol: String, targetRoot: String,
      checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val all = readCdcTarget(ss, targetRoot) match {
          case Some(prev) => prev.unionByName(batch)
          case None => batch
        }
        // Tombstones (delete winners) are RETAINED in the written
        // generation: dropping them would let an older change in a
        // later batch resurrect the key. Consumers filter `deleteCol`;
        // a vacuum pass may drop tombstones older than the max late
        // arrival the pipeline admits.
        graft.operators.Merge.latestPerKey(all, keys, orderCols)
          .write.mode("overwrite").parquet(s"$targetRoot/gen=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** The latest generation written by [[cdcApplyStreaming]], if any. */
  def readCdcTarget(spark: SparkSession, targetRoot: String): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(targetRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) None
    else {
      val gens = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
        .map(s => (s.getPath.getName.stripPrefix("gen=").toLong, s.getPath))
      if (gens.isEmpty) None
      else Some(spark.read.parquet(gens.maxBy(_._1)._2.toString))
    }
  }

  /** EXACT distinct keys per tumbling window, streaming-shaped: dedup on
    * (window, key) first, then count rows — `count_distinct` is not
    * expressible in streaming Append mode, but dedup-then-count is the
    * blessed multi-stateful-operator pipeline (Spark ≥ 3.5), with both
    * stages' state watermark-bounded. Same Column program in batch,
    * where it degenerates to distinct + count. State per window is
    * O(#distinct keys) — the exact-answer budget; swap in
    * `approx_count_distinct` when ±2% is acceptable at 100 TB.
    */
  def windowedUniques(df: DataFrame, tsCol: String, keyCol: String,
      width: String = "1 day"): DataFrame =
    df.select(window(col(tsCol), width).as("w"), col(keyCol))
      .dropDuplicates("w", keyCol)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_unique"))
      .select(col("w.start").as("window_start"), col("n_unique"))

  // --- running per-key totals --------------------------------------------

  final case class ValuedEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, cents: Long)
  final case class RunningTotal(user_id: Long, event_id: Long, ts_us: Long,
      cents: Long, running_cents: Long)
  final case class TotalState(total: Long)

  /** Batch running per-user totals: the event-time cumulative sum of
    * integer cents, totally ordered by `(ts, event_id)` (the unique id
    * breaks timestamp ties, so the running value at every row is
    * deterministic). One shuffle by user; the window frame is ROWS so
    * ties never peer-collapse.
    */
  def runningTotalsBatch(df: DataFrame): DataFrame = {
    val w = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    df.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"), col("ts"))
      .withColumn("running_cents", sum(col("cents")).over(w))
      .drop("ts")
  }

  /** Streaming running per-user totals — the stateful scalar-accumulator
    * shape (`flatMapGroupsWithState` carrying ONE long per key, the
    * smallest possible state): each micro-batch sorts the user's new
    * events by `(ts, event_id)`, continues the running sum from state,
    * emits one row per event, and stores only the final total. Correct
    * whenever batches arrive in event-time order per key (file sources
    * + AvailableNow trivially satisfy this with a single batch; a live
    * deployment puts a watermark-sorted stage upstream). State is O(1)
    * per user forever — unlike buffering approaches, this never grows
    * with history.
    */
  def runningTotalsStreaming(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[ValuedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TotalState, RunningTotal](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[ValuedEvent], state: GroupState[TotalState]) =>
          val sorted = rows.toIndexedSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
          var total = state.getOption.map(_.total).getOrElse(0L)
          val out = sorted.map { e =>
            total += e.cents
            RunningTotal(user, e.event_id, tsMicros(e.ts), e.cents, total)
          }
          state.update(TotalState(total))
          out.iterator
      }.toDF()
  }

  // --- heartbeat gap alerts ----------------------------------------------

  final case class GapEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class GapAlert(user_id: Long, ts_us: Long, prev_ts_us: Long,
      gap_s: Long)
  final case class LastSeen(last_us: Long)

  /** Batch heartbeat-gap detection: per user, every event whose gap to
    * the PREVIOUS event exceeds `thresholdSeconds` — the missed-
    * heartbeat / silent-sensor alert. One lag window per user key; the
    * first event of a user has no predecessor and never alerts.
    */
  def gapAlertsBatch(df: DataFrame, thresholdSeconds: Long): DataFrame = {
    val w = W.partitionBy("user_id").orderBy(col("ts_us"))
    df.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .where(col("prev_ts_us").isNotNull &&
        col("ts_us") - col("prev_ts_us") > thresholdSeconds * 1000000L)
      .select(col("user_id"), col("ts_us"), col("prev_ts_us"),
        ((col("ts_us") - col("prev_ts_us")) / lit(1000000L)).cast("long")
          .as("gap_s"))
  }

  /** Streaming heartbeat-gap detection — the one-long-per-key stateful
    * shape (same family as [[runningTotalsStreaming]]): state is the
    * user's LAST event time only; each micro-batch sorts the user's new
    * events, chains them onto the stored last-seen, and emits every
    * over-threshold gap. Requires batches to arrive in event-time
    * order per key (single AvailableNow batch trivially; live
    * deployments put a watermark-sorted stage upstream) — and the
    * requirement is ENFORCED, not assumed: an event older than the
    * stored last-seen is a cross-batch ordering violation that would
    * silently emit wrong gaps, so the processor fails the query with a
    * clear error instead. Unlike the batch lag window there is no
    * per-key sort of HISTORY — state never grows with stream length.
    */
  def gapAlertsStreaming(spark: SparkSession, events: DataFrame,
      thresholdSeconds: Long): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts")).as[GapEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, GapAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[GapEvent], state: GroupState[LastSeen]) =>
          val sorted = rows.map(e => tsMicros(e.ts)).toIndexedSeq.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[GapAlert]
          var prev = state.getOption.map(_.last_us).getOrElse(Long.MinValue)
          if (prev != Long.MinValue && sorted.nonEmpty && sorted.head < prev)
            throw new IllegalStateException(
              s"gapAlertsStreaming: out-of-order batch for user $user — " +
                s"event at ${sorted.head}us precedes stored last-seen " +
                s"${prev}us; the upstream must deliver per-key batches in " +
                "event-time order (e.g. a watermark-sorted stage)")
          for (t <- sorted) {
            if (prev != Long.MinValue && t - prev > thresholdSeconds * 1000000L)
              out += GapAlert(user, t, prev, (t - prev) / 1000000L)
            prev = t
          }
          if (sorted.nonEmpty) state.update(LastSeen(sorted.last))
          out.iterator
      }.toDF()
  }

  /** [[runningTotalsStreaming]] rebuilt on the `transformWithState`
    * StatefulProcessor API (Spark 4.x) — the forward path for custom
    * streaming state: typed named state handles (`ValueState`) instead
    * of one opaque blob, per-state TTL, timers decoupled from output
    * mode, and RocksDB-only execution (the production store; the spec
    * sets the provider). Same contract as the fGWS form: ONE long per
    * user, events chained in `(ts, event_id)` order per batch.
    */
  private class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, ValuedEvent, RunningTotal] {
    @transient private var total:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[ValuedEvent],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[RunningTotal] = {
      val sorted = rows.toIndexedSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
      var t = if (total.exists()) total.get() else 0L
      val out = sorted.map { e =>
        t += e.cents
        RunningTotal(user, e.event_id, tsMicros(e.ts), e.cents, t)
      }
      total.update(t)
      out.iterator
    }
  }

  /** Running per-user totals via [[RunningTotalProcessor]]; requires the
    * RocksDB state store provider (transformWithState's only backend).
    */
  def runningTotalsTws(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[ValuedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  private def tsMicros(ts: java.sql.Timestamp): Long =
    // floorDiv: getTime truncates toward zero for pre-epoch instants
    // while getNanos is always the positive fraction.
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
}
