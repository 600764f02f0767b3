package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SCD Type-2 versioning: the incremental twin of
  * `Etl.scd2`. The batch operator run-collapses a CDC-shaped stream
  * with lag/lead windows; this one maintains the same collapse
  * per-key as events arrive, emitting one append-mode CHANGE row per
  * new dimension version (the changelog a MERGE INTO consumes; the
  * closing `valid_to` of a version is the next change's `valid_from`,
  * exactly as the batch lead() derives it).
  *
  * Correctness under out-of-order arrival: run-collapse is
  * order-SENSITIVE (the same multiset of events in a different order
  * yields different versions), so events are BUFFERED in state until
  * the watermark passes them — only then is their order final (a
  * late event below the watermark would be dropped by Spark before
  * reaching the operator; an admissible one has ts >= watermark).
  * Each invocation finalizes the prefix strictly below the current
  * watermark in (ts, event_id) order against the last emitted tier,
  * and re-arms an EventTimeTimeout so buffered events flush when the
  * watermark moves without new data for the key.
  *
  * Scale design: state per user is the finalized last tier (one
  * value, kept for the key's lifetime — the dimension's current
  * version, exactly what a warehouse table would hold) plus the
  * watermark-bounded buffer of in-flight events; the shuffle is the
  * same single user_id exchange the batch window pays. Per-batch work
  * sorts only the key's buffered slice.
  */
object ScdStream {

  case class CEvent(user_id: Long, ts_utc: java.sql.Timestamp, ts_us: Long,
      event_id: Long, value: Double)

  case class Pending(ts_us: Long, event_id: Long, tier: String)

  /** `lastTier` is empty until the first finalized event. */
  case class ScdState(pending: Seq[Pending], lastTier: String)

  case class Change(user_id: Long, event_id: Long, tier: String,
      valid_from: java.sql.Timestamp)

  /** The batch operator's tier derivation (Etl.tiered), verbatim. */
  private[streaming] def tierOf(v: Double): String =
    if (v < 50) "low" else if (v < 200) "mid" else "high"

  private def usToTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
      java.time.Duration.of(us, java.time.temporal.ChronoUnit.MICROS)))

  private[streaming] def updateUser(user: Long, events: Iterator[CEvent],
      state: GroupState[ScdState]): Iterator[Change] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption.getOrElse(ScdState(Seq.empty, ""))
    val all = st.pending ++
      events.map(e => Pending(e.ts_us, e.event_id, tierOf(e.value)))
    // strict <: an admissible new event may still carry ts == watermark
    // and tie-break BEFORE a pending event at the same microsecond
    val (ready, keep) = all.partition(_.ts_us < wmUs)
    var last = st.lastTier
    val out = Seq.newBuilder[Change]
    for (p <- ready.sortBy(p => (p.ts_us, p.event_id)))
      if (p.tier != last) {
        last = p.tier
        out += Change(user, p.event_id, p.tier, usToTs(p.ts_us))
      }
    // lastTier persists for the key's lifetime (it IS the dimension's
    // current version); only the event buffer is watermark-bounded
    state.update(ScdState(keep, last))
    if (keep.nonEmpty)
      state.setTimeoutTimestamp(keep.map(_.ts_us).min / 1000L + 1L)
    out.result().iterator
  }

  /** Streaming version-change feed over the events file source. */
  def versions(spark: SparkSession, inputDir: String,
      watermark: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    EventsStream.source(spark, inputDir)
      .withWatermark("ts_utc", watermark)
      .select(col("user_id"), col("ts_utc"),
        unix_micros(col("ts_utc")).as("ts_us"), col("event_id"), col("value"))
      .as[CEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, Change](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(updateUser)
      .toDF()
  }
}
