package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming sessionization via
  * `flatMapGroupsWithState` — the arbitrary-state API for semantics
  * `session_window` can't express (here: emitting each closed session
  * exactly once, in append mode, as soon as the watermark closes it).
  *
  * Semantics match the batch `session_window(ts, 30 min)` exactly,
  * INCLUDING events that arrive out of order across micro-batches
  * (as long as the watermark admits them — the same contract every
  * watermarked Spark aggregation has):
  *   - state per user is the SET of open sessions (intervals), not just
  *     the latest one; each batch folds its events in as single-event
  *     intervals and re-runs one sorted merge sweep (boundary
  *     INCLUSIVE: an event at precisely last+gap merges — see
  *     Temporal.streamSession and the pinned TemporalSpec rule);
  *   - an event BEFORE an open session's start extends the start
  *     backward (or bridges two open sessions, which then merge) — the
  *     case a single-open-session design silently gets wrong;
  *   - a session is emitted only when the event-time watermark passes
  *     last+gap (so no admissible future event can still merge into
  *     it), via GroupStateTimeout.EventTimeTimeout or eagerly on the
  *     next data batch, whichever comes first. State is bounded by the
  *     watermark like any windowed aggregation.
  *
  * Scale design: state is a handful of small intervals per active user
  * (one, except under out-of-order arrival) in executor-local state
  * stores, keyed by the shuffle on user_id; per-batch work is a sort of
  * that user's batch slice only. Money math is exact: per-event values
  * quantize to cents (HALF_UP, same as CAST(x AS DECIMAL(18,2))) and
  * accumulate in Long, so the emitted total is bit-equal to the batch
  * decimal sum regardless of merge order.
  */
object SessionStream {

  /** One event after event-time derivation. `ts_utc` is the
    * watermark-tagged column (the unsupported-operation checker requires
    * it present in the stateful operator's input); `ts_us` is the same
    * instant as µs since epoch for exact state arithmetic.
    */
  case class SEvent(user_id: Long, ts_utc: java.sql.Timestamp, ts_us: Long,
      value: Double)

  /** One open session: timestamps in µs, money in cents. */
  case class Open(start_us: Long, last_us: Long, n: Long, cents: Long)

  /** Per-user state: every session the watermark has not yet closed. */
  case class OpenList(sessions: Seq[Open])

  /** An emitted (closed) session — matches Temporal.streamSession's
    * output row shape.
    */
  case class Closed(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total_value: Double)

  private val GapUs = 30L * 60 * 1000000
  private val GapMs = 30L * 60 * 1000

  private[streaming] def cents(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def close(user: Long, s: Open): Closed =
    Closed(user,
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
        java.time.Duration.of(s.start_us, java.time.temporal.ChronoUnit.MICROS))),
      s.n, s.cents / 100.0)

  /** The state-transition function: fold this batch's events into the
    * open-session set with one sorted interval-merge sweep, then emit
    * every session the current watermark has closed (no admissible
    * future event can reach past the watermark to extend it).
    * Handles both the data path and the EventTimeTimeout path — a
    * timeout is just a data-less invocation at a higher watermark.
    */
  private[streaming] def updateUser(user: Long, events: Iterator[SEvent],
      state: GroupState[OpenList]): Iterator[Closed] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val existing = state.getOption.map(_.sessions).getOrElse(Seq.empty)
    val units = events.map(e => Open(e.ts_us, e.ts_us, 1L, cents(e.value))).toSeq
    val merged = (existing ++ units).sortBy(s => (s.start_us, s.last_us))
      .foldLeft(List.empty[Open]) {
        // inclusive boundary: next.start at exactly cur.last+gap merges
        case (cur :: done, next) if next.start_us - cur.last_us <= GapUs =>
          Open(cur.start_us, math.max(cur.last_us, next.last_us),
            cur.n + next.n, cur.cents + next.cents) :: done
        case (acc, next) => next :: acc
      }.reverse
    // a session is closed once the watermark is strictly past last+gap:
    // a later event at exactly last+gap (inclusive merge) carries
    // ts >= watermark, so wm > last+gap proves no merge can still happen
    val (closed, open) = merged.partition(s => s.last_us + GapUs < wmUs)
    if (open.isEmpty) state.remove()
    else {
      state.update(OpenList(open))
      // re-arm the timeout at the earliest close point (ms — GroupState
      // timeouts are millisecond-granular; rounding UP keeps the
      // inclusive boundary: never time out early)
      state.setTimeoutTimestamp(
        (open.map(_.last_us).min + GapUs + 999) / 1000)
    }
    closed.map(close(user, _)).iterator
  }

  /** Streaming per-user sessionization over the events file source.
    * Emits one row per CLOSED session (append semantics).
    */
  def sessions(spark: SparkSession, inputDir: String,
      watermark: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    EventsStream.source(spark, inputDir)
      .withWatermark("ts_utc", watermark)
      .select(col("user_id"), col("ts_utc"),
        unix_micros(col("ts_utc")).as("ts_us"), col("value"))
      .as[SEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenList, Closed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(updateUser)
      .toDF()
  }
}
