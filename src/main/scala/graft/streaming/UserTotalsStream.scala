package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Running per-user totals via `transformWithState` — Spark 4's
  * arbitrary-state API (the successor to flatMapGroupsWithState):
  * typed named state handles (`ValueState`/`ListState`/`MapState`,
  * each with optional TTL) in a RocksDB-backed column-family store,
  * explicit timers instead of a single timeout slot, and per-state
  * eviction instead of whole-key removal.
  *
  * The op itself is the live-profile aggregate every event pipeline
  * keeps: per user, how many events and how much cent-exact value so
  * far — emitted in update mode whenever a micro-batch touches the
  * user. State is one small row per user in the executor-local
  * RocksDB store (the provider transformWithState requires — it needs
  * column families, which the HDFS-backed store lacks), so state size
  * scales with |users|, not with the stream.
  */
object UserTotalsStream {

  case class UEvent(user_id: Long, value: Double)
  case class UserTotal(user_id: Long, n_events: Long, total_cents: Long)

  class TotalsProcessor extends StatefulProcessor[Long, UEvent, UserTotal] {
    @transient private var totals: ValueState[UserTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal](
        "totals", Encoders.product[UserTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UEvent],
        timerValues: TimerValues): Iterator[UserTotal] = {
      var cur =
        if (totals.exists()) totals.get()
        else UserTotal(key, 0L, 0L)
      rows.foreach { e =>
        cur = UserTotal(key, cur.n_events + 1,
          cur.total_cents + SessionStream.cents(e.value))
      }
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Streaming per-user running totals over the events file source.
    * Emits the updated total for every user a micro-batch touches.
    *
    * Side effect: sets the SESSION's
    * `spark.sql.streaming.stateStore.providerClass` to RocksDB, so every
    * stream started on this session afterwards (HDFS-backed-store
    * pipelines included) runs on RocksDB too. Callers that mix pipelines
    * on one session must save and restore the key around this call, as
    * perfbench's harness and StreamingSpec's totals test do (the
    * StreamReplaySpec totals tests do not).
    */
  def totals(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    // transformWithState needs the column-family-capable store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    EventsStream.source(spark, inputDir)
      .select(col("user_id"), col("value"))
      .as[UEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }
}
