package graft.spark

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One raw event row (matches the driver's events table schema). */
final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)

/** Streaming output of [[StreamingSessions.runAvailableNow]]. */
final case class SessionAssign(event_id: Long, user_id: Long, session_idx: Long)

/** Per-user sessionization state carried across micro-batches. */
final case class SessState(lastTsUs: Long, sessionIdx: Long)

/** STATEFUL Structured Streaming: gap-based sessionization via
  * `flatMapGroupsWithState` — the streaming counterpart of
  * [[Events.sessionize]]. State per user is (last event micros, current
  * session index); a batch's events are ordered in-group by
  * (ts, event_id) before folding, so within any single AvailableNow run
  * the assignment equals the batch operator exactly. Across runs the
  * state store continues numbering where the previous run stopped —
  * late events older than the watermark are the usual streaming caveat.
  *
  * Also ships the canonical watermark + tumbling-window aggregation
  * ([[eventCountsPerWindow]]) to cover the windowed-agg streaming
  * surface.
  */
object StreamingSessions {

  val eventSchema = Encoders.product[Event].schema

  /** Full-microsecond epoch (Timestamp.getTime alone is millis and would
    * diverge from the batch operator's unix_micros on sub-ms data).
    */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** The gap fold both sessionizers share: walks time-ordered events
    * from the cursor (lastTsUs, idx), opening a session whenever the gap
    * to the previous event exceeds `gapMinutes`. Returns the assignments
    * and the cursor after the last event.
    */
  private def foldGaps(gapMinutes: Int, userId: Long, lastTsUs: Long, idx: Long,
                       events: Seq[BufEvent]): (Seq[SessionAssign], Long, Long) = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    var lastTs = lastTsUs
    var i = idx
    val out = events.map { e =>
      if (lastTs == Long.MinValue || e.tsUs - lastTs > gapUs) i += 1
      lastTs = e.tsUs
      SessionAssign(e.eventId, userId, i)
    }
    (out, lastTs, i)
  }

  private def assign(gapMinutes: Int)(
      userId: Long, events: Iterator[Event],
      state: GroupState[SessState]): Iterator[SessionAssign] = {
    val sorted = events.map(e => BufEvent(micros(e.ts), e.event_id)).toSeq
      .sortBy(e => (e.tsUs, e.eventId))
    val st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
    val (out, lastTs, idx) = foldGaps(gapMinutes, userId, st.lastTsUs, st.sessionIdx, sorted)
    state.update(SessState(lastTs, idx))
    out.iterator
  }

  /** Sessionize all currently-available event files into outDir; returns
    * rows written by this invocation.
    */
  def runAvailableNow(spark: SparkSession, inputPath: String, outDir: String,
                      gapMinutes: Int = 30): Long = {
    import spark.implicits._
    StreamingSink.run(spark.readStream
      .schema(eventSchema)
      .parquet(inputPath)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        assign(gapMinutes)), outDir, "sessions")
  }

  /** One event as the gap fold reads it; the buffered sessionizer keeps
    * these in state until the watermark finalizes them.
    */
  final case class BufEvent(tsUs: Long, eventId: Long)

  /** State for the watermark-buffered sessionizer: events not yet final,
    * the gap-fold cursor over emitted events, and the emission frontier
    * (last emitted ts — strictly-older arrivals are watermark-late and
    * dropped, the standard contract).
    */
  final case class BufSessState(buf: List[BufEvent], lastTsUs: Long,
                                idx: Long, nLateDropped: Long)

  /** Default idle-state retention: how long past the watermark an idle
    * user's numbering state (frontier + session index) survives before
    * the event-time timeout removes it. Without removal, per-user state
    * grows without bound over unbounded user populations (ADVICE r3) —
    * the classic streaming state leak. Removal is safe for session
    * BOUNDARIES whenever retention >= the session gap: any event
    * arriving after expiry is at least `retention` past the emitted
    * frontier (timeout fires only once watermark >= frontier +
    * retention, and Spark's stateful late-filter drops arrivals below
    * the watermark), so the batch operator would open a new session for
    * it anyway. The one observable difference is the session INDEX,
    * which restarts at 1 for a user returning after expiry — the
    * standard state-TTL trade-off; size retention to the reprocessing
    * horizon if stable numbering across long idles matters.
    */
  val DefaultIdleRetentionMs: Long = 365L * 24 * 60 * 60 * 1000L

  private def assignBuffered(gapMinutes: Int, idleRetentionMs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[BufSessState]): Iterator[SessionAssign] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption.getOrElse(BufSessState(Nil, Long.MinValue, 0L, 0L))
    // merge new events; an arrival strictly older than the emitted
    // frontier is late beyond the watermark (emitting it would fold the
    // gap cursor backwards) — dropped and counted. Equal-ts arrivals are
    // safe: a zero gap can never open a session boundary.
    val (fresh, late) = events
      .map(e => BufEvent(micros(e.ts), e.event_id)).toArray
      .partition(e => st.lastTsUs == Long.MinValue || e.tsUs >= st.lastTsUs)
    val all = (st.buf ++ fresh).sortBy(e => (e.tsUs, e.eventId))
    // events at-or-below the watermark are FINAL: no future batch may
    // carry anything older, so the gap fold over them is exact
    val (ripe, hold) = all.partition(_.tsUs <= wmUs)
    val (out, lastTs, idx) = foldGaps(gapMinutes, userId, st.lastTsUs, st.idx, ripe)
    if (hold.nonEmpty) {
      state.update(BufSessState(hold, lastTs, idx, st.nLateDropped + late.size))
      // flush held events in a later batch once the watermark passes the
      // oldest of them, even if this user receives no further input
      // (+1 ms: the timeout must sit strictly above the current watermark)
      state.setTimeoutTimestamp(math.max(hold.head.tsUs / 1000L, wmUs / 1000L + 1L))
    } else if (state.hasTimedOut && out.isEmpty && fresh.isEmpty && late.isEmpty) {
      // idle-retention expiry: nothing buffered, nothing arriving — drop
      // the numbering state instead of keeping it forever (ADVICE r3).
      // Every state always carries a registered timeout, so this branch
      // is reached for every user eventually once the watermark advances.
      state.remove()
    } else {
      state.update(BufSessState(Nil, lastTs, idx, st.nLateDropped + late.size))
      state.setTimeoutTimestamp(wmUs / 1000L + math.max(1L, idleRetentionMs))
    }
    out.iterator
  }

  /** Event-time-CORRECT stateful sessionization: unlike
    * [[runAvailableNow]] (whose per-batch fold is exact only when
    * batches arrive in time order), this variant buffers events in state
    * and folds them through the gap logic only once the event-time
    * watermark passes them — batches may split and interleave a user's
    * events arbitrarily (out-of-order files, maxFilesPerTrigger=1) and
    * the emitted assignments still equal the batch operator exactly.
    * Events above the final watermark stay buffered for the next run;
    * arrivals older than the watermark-emitted frontier are dropped and
    * counted in state (the standard watermark contract). Idle users'
    * numbering state is removed `idleRetentionMs` past the watermark
    * (see [[DefaultIdleRetentionMs]] for the exact safety contract).
    */
  def runAvailableNowBuffered(spark: SparkSession, inputPath: String,
                              outDir: String, gapMinutes: Int = 30,
                              watermarkDelay: String = "1 hour",
                              maxFilesPerTrigger: Option[Int] = None,
                              idleRetentionMs: Long = DefaultIdleRetentionMs): Long = {
    import spark.implicits._
    require(idleRetentionMs >= gapMinutes.toLong * 60L * 1000L,
      "idle retention below the session gap would split sessions the batch operator keeps whole")
    var reader = spark.readStream.schema(eventSchema)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    StreamingSink.run(reader
      .parquet(inputPath)
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        assignBuffered(gapMinutes, idleRetentionMs)), outDir, "sessions")
  }

  def readSessions(spark: SparkSession, outDir: String): DataFrame =
    StreamingSink.read(spark, outDir, "sessions")

  /** Watermarked tumbling-window counts per event_type (streaming agg
    * surface: watermark bounds state; Append emits finalized windows).
    */
  def eventCountsPerWindow(events: DataFrame,
                           windowLen: String = "1 day",
                           watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
}
