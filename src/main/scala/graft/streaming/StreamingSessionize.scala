package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.Sessionize.DefaultGapSec

/** Structured Streaming equivalents of the batch sessionization core
  * (SURVEY.md §2.9/§7.6). The reference achieves streaming semantics by
  * orchestrated hourly micro-batches; Spark-natively the same 30-minute
  * session-gap semantics are `session_window` (for per-session
  * aggregation) and `flatMapGroupsWithState` (for per-event labeling,
  * where every event must leave with its session id).
  *
  * Watermark subsumes the reference's 30-minute lookback
  * (loadPrevActiveSessions): state for a session closes only when the
  * watermark passes its last event + gap. Late data beyond the watermark
  * is dropped — a semantic the batch reference simply never handles
  * (SURVEY.md §2.9 "late data: not handled").
  */
object StreamingSessionize {

  /** Per-session aggregation via the native session window: one row per
    * (user, session) with count/min/max — works identically on batch
    * DataFrames (used by tests as the oracle) and streams.
    */
  def sessionWindowAgg(events: DataFrame, withWatermarkCol: Option[String] = Some("ts")): DataFrame = {
    val src = withWatermarkCol.fold(events)(c => events.withWatermark(c, "30 minutes"))
    src
      .groupBy(col("user_id"), session_window(col("ts"), s"$DefaultGapSec seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("first_event"), col("last_event"))
  }

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)
  case class Labeled(user_id: Long, event_id: Long, session_id: String)
  case class UserState(lastTsUs: Long, sessionStartUs: Long, buffered: List[(Long, Long)])

  /** Per-event session labeling with explicit state: events buffer in
    * state until the event-time timeout (watermark past last event + gap)
    * closes the session, then every buffered event is emitted with the
    * session id minted from the session's FIRST event — the same id
    * scheme as the batch core. Append-mode safe: nothing is emitted until
    * a session can no longer change.
    */
  def labelSessions(events: Dataset[Ev]): Dataset[Labeled] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[UserState], Labeled](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[List[UserState]]) =>
          val sessions = state.getOption.getOrElse(Nil)
          if (state.hasTimedOut) {
            // Close every session whose last event + gap is at or behind
            // the watermark; keep the rest in state.
            val wmMs = state.getCurrentWatermarkMs()
            val (closed, open) =
              sessions.partition(s => s.lastTsUs / 1000L + DefaultGapSec * 1000L <= wmMs)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(open.map(_.lastTsUs / 1000L + DefaultGapSec * 1000L).min)
            }
            closed.iterator.flatMap(s => s.buffered.reverse.map { case (_, id) =>
              Labeled(user, id, sessionId(user, s.sessionStartUs))
            })
          } else {
            // Merge the new micro-batch's events into per-user sessions.
            val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = sessions
            evs.foreach { e =>
              // full µs precision: getTime is ms-truncated, getNanos holds
              // the fractional second — must match the batch core's
              // unix_micros exactly or the sha2 ids diverge.
              val tsUs = e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L
              open = open match {
                case head :: tail if tsUs - head.lastTsUs <= DefaultGapSec * 1000000L =>
                  head.copy(lastTsUs = math.max(head.lastTsUs, tsUs),
                    buffered = (tsUs, e.event_id) :: head.buffered) :: tail
                case _ =>
                  UserState(tsUs, tsUs, List((tsUs, e.event_id))) :: open
              }
            }
            state.update(open)
            state.setTimeoutTimestamp(open.map(_.lastTsUs / 1000L + DefaultGapSec * 1000L).min)
            Iterator.empty
          }
      }
  }

  /** Streaming exact dedup — the streaming form of `Dedup.exact` for
    * at-least-once sources (replayed events, retried producers): a row
    * whose key was already seen is dropped, with state bounded by the
    * watermark horizon (a key's state expires once the watermark passes
    * its event time + delay, so state size tracks the horizon, not the
    * stream length). Unlike the session aggregation, dedup emits a row as
    * soon as it arrives (state only SUPPRESSES replays), so append mode
    * needs no watermark sentinel for completeness: the watermark only
    * expires seen-key state.
    *
    * `delay` must cover BOTH the source's disorder and the replay
    * horizon: if the file source splits the listing into several
    * micro-batches (maxFilesPerTrigger, more staged files at higher SF),
    * a first occurrence in a later batch that is older than the already
    * advanced watermark is dropped as late — silent divergence from the
    * batch result. Production default 30 minutes assumes near-ordered
    * ingestion; a historical replay must pass the corpus span (the same
    * rule attributionJoin documents for its 90-day default).
    */
  def dedupStream(events: DataFrame, tsCol: String = "ts",
      keyCols: Seq[String] = Seq("event_id"),
      delay: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream attribution join — the remaining streaming operator
    * class after aggregation (session windows), arbitrary state
    * (labeler), and stateful filtering (dedup): every purchase joins
    * back to the views that preceded it by at most `horizon` for the
    * same user, as an INNER interval join of two streams. Both sides
    * buffer state; the event-time range condition + watermarks let the
    * engine expire a buffered row once the other stream's watermark
    * passes its join window, so state tracks the horizon, not the
    * stream. The watermark delay must cover the source's disorder: rows
    * later than it are dropped from the join, which is the documented
    * completeness/latency trade every stream-stream join makes.
    */
  def attributionJoin(events: DataFrame, delay: String = "90 days",
      horizon: String = "1 hour"): DataFrame =
    attributionJoinImpl(events, delay, horizon, "inner")

  /** LEFT OUTER stream-stream join — the harder variant: a view with no
    * purchase in its horizon must still emit (with a null purchase), but
    * only once the engine KNOWS no match can arrive — i.e. when both
    * sides' watermarks have passed the view's join window. Unlike the
    * inner join (results complete regardless of watermark), outer
    * results are only flushed by watermark movement, so the driver-gated
    * query plants far-future sentinel rows on BOTH input branches (the
    * same no-more-data signal streaming_session_agg uses) and a short
    * delay; a real deployment gets the same effect from the stream
    * simply continuing.
    */
  def attributionJoinOuter(events: DataFrame, delay: String = "30 minutes",
      horizon: String = "1 hour"): DataFrame =
    attributionJoinImpl(events, delay, horizon, "left_outer")

  private def attributionJoinImpl(events: DataFrame, delay: String,
      horizon: String, joinType: String): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("__p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", delay)
    views.join(purchases,
        col("user_id") === col("__p_user") &&
        col("p_ts") >= col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("user_id"), col("view_id"), col("purchase_id"))
  }

  case class EvCents(user_id: Long, event_id: Long, cents: Long)
  case class UserTotals(user_id: Long, n_events: Long, cents_sum: Long)
  /** Deliberately PUBLIC: this is a codegen boundary, not an API leak.
    * As a `private` case class, Janino's accessibility filter rejects
    * the accessor candidates when compiling the state encoder's
    * generated serializer ("No applicable constructor/method found …
    * candidates are: public long n()"), and Spark silently falls back
    * to interpreted encoding — a per-micro-batch ERROR stack in every
    * bench tail (r9) and a slower state path. Any class an Encoder
    * touches must be visible to generated code.
    */
  case class Tot(n: Long, s: Long)

  /** Per-user running totals on Spark 4's `transformWithState` — the
    * arbitrary-state API that supersedes flatMapGroupsWithState (typed
    * named state slots, TTL, timers; RocksDB-backed). Each micro-batch
    * emits the user's UPDATED running (count, cents) — totals are
    * monotonic, so a consumer takes max per user for the final figure
    * regardless of how the source was split into batches. The labeler
    * keeps the flatMapGroupsWithState surface covered; this covers its
    * successor.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvCents, UserTotals] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[Tot] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[Tot]("totals",
        org.apache.spark.sql.Encoders.product[Tot],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EvCents],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get() else Tot(0L, 0L)
      var n = prev.n; var s = prev.s
      rows.foreach { r => n += 1; s += r.cents }
      totals.update(Tot(n, s))
      Iterator.single(UserTotals(key, n, s))
    }
  }

  /** [[RunningTotalsProcessor]] per user. Like every transformWithState
    * operator, it needs the RocksDB state-store provider set on the
    * session: transformWithState refuses the default HDFS-backed store.
    */
  def runningTotals(events: Dataset[EvCents]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[UserTotals])
  }

  case class FunnelEv(user_id: Long, ts_us: Long, step: Int, event_id: Long)
  case class FunnelStarts(starts: Seq[Long])
  case class FunnelStage(user_id: Long, funnel_stage: Long)

  /** Streaming [[graft.ops.Sessionize.windowFunnel]]: the per-user
    * latest-chain-start fold carried as transformWithState state — the
    * per-stage running maxes ARE the fold's whole state (k longs), so
    * the stream never buffers events. Each batch's rows for a key are
    * sorted by (ts, event_id) before folding (within-batch disorder is
    * absorbed); ACROSS batches the fold is order-sensitive like any
    * funnel, so the arrival contract is event-time-ordered batches
    * (the log-stream reality; the batch job is the answer for
    * re-sorting history). Emitted stages are MONOTONE — latestStart
    * entries only ever increase — so max per user over the emitted
    * rows is the final answer under any batch split that respects the
    * contract.
    */
  class FunnelProcessor(nSteps: Int, windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, FunnelEv, FunnelStage] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[FunnelStarts] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[FunnelStarts]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelStarts],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FunnelEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelStage] = {
      val starts =
        if (st.exists()) st.get().starts.toArray
        else Array.fill(nSteps)(Long.MinValue)
      rows.toArray.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        val s = r.step
        if (s == 0) {
          if (r.ts_us > starts(0)) starts(0) = r.ts_us
        } else if (s > 0 && s < nSteps && starts(s - 1) != Long.MinValue &&
            r.ts_us - starts(s - 1) <= windowUs &&
            starts(s - 1) > starts(s)) {
          starts(s) = starts(s - 1)
        }
      }
      st.update(FunnelStarts(starts.toSeq))
      val stage = starts.lastIndexWhere(_ != Long.MinValue) + 1
      Iterator.single(FunnelStage(key, stage.toLong))
    }
  }

  /** [[FunnelProcessor]] per user; needs the RocksDB state-store
    * provider, as [[runningTotals]] does. Feed it one file per trigger
    * (`maxFilesPerTrigger = 1`) and a multi-file staging exercises the
    * cross-batch state carry.
    */
  def funnelStream(events: Dataset[FunnelEv], nSteps: Int,
      windowUs: Long): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(nSteps, windowUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[FunnelStage])
  }

  def sessionId(user: Long, startUs: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"$user-$startUs".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
