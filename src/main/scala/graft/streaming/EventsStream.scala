package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming pipeline over the events table (SURVEY.md §2.1
  * I4, §3.4): file source → event-time derivation → watermark → the SAME
  * tumbling-window aggregation Temporal.streamTumble runs in batch.
  * Batch is the backfill path, streaming is the live path, one logical
  * plan definition — the core Spark-native streaming design.
  *
  * Scale notes: the file source lists incrementally (no re-scan of seen
  * files); state is per (window, event_type) in the executor-local state
  * stores, bounded by the watermark which evicts windows older than
  * max(event time) - delay. Late rows beyond the watermark are dropped
  * before the aggregation (pinned in StreamingSpec via the
  * numRowsDroppedByWatermark metric).
  */
object EventsStream {

  /** Events schema RESOLVED from the files already in `inputDir`
    * (streaming sources require an explicit schema; a one-off batch read
    * of the directory at stream-definition time makes the source
    * schema-adaptive — the corpus has shipped `ts` both as INT64 nanos
    * and as timestamp[us], see Tables.tsUtc). Later files appended to a
    * running stream share the resolved schema by construction.
    */
  def resolvedSchema(spark: SparkSession, inputDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(inputDir).schema
  }

  /** `ts_utc` column for the schema resolved from `inputDir`. */
  private def tsUtcFor(schema: StructType) =
    graft.sources.Tables.tsUtc(schema("ts").dataType)

  /** The events file source every graft.streaming pipeline reads: schema
    * resolved from `inputDir`, `ts_utc` derived, and at most one new
    * file per micro-batch unless `throttled` is false. Installs
    * [[LocalCheckpointFileManager]] for the session first, so the
    * query's offset/commit logs, state stores and sink metadata skip
    * the process-fork path on local checkpoints.
    */
  private[streaming] def source(spark: SparkSession, inputDir: String,
      throttled: Boolean = true): DataFrame = {
    LocalCheckpointFileManager.install(spark)
    val schema = resolvedSchema(spark, inputDir)
    val reader = spark.readStream.schema(schema)
    (if (throttled) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(inputDir)
      .withColumn("ts_utc", tsUtcFor(schema))
  }

  /** Streaming exact-dedup of re-synced events: the same payload
    * arriving again (offline-sync retries — the ETL reference's
    * re-delivery case) is dropped by event_id, with state bounded by
    * the watermark: `dropDuplicatesWithinWatermark` keeps an id only
    * until the watermark passes its event time + delay, so dedup state
    * does NOT grow with the stream, unlike plain dropDuplicates.
    * Pinned in StreamingSpec: intra-watermark duplicates dropped across
    * micro-batches, state rows evicted as the watermark advances.
    */
  def dedupedEvents(spark: SparkSession, inputDir: String,
      watermark: String = "10 minutes"): DataFrame = {
    source(spark, inputDir)
      .withWatermark("ts_utc", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("ts_utc"), col("user_id"),
        col("event_type"), col("value"))
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * signups within the preceding 7 days — the streaming analog of the
    * batch as-of join (C8). Both sides carry watermarks and the join
    * condition bounds signup time to [purchase - 7 days, purchase], so
    * each side's state store evicts rows the other side can no longer
    * match (the time-range bound is what makes unbounded two-stream
    * state finite). Inner join ⇒ rows emit as soon as both sides have
    * arrived; equality with the batch formulation pinned in
    * StreamingSpec.
    */
  /** LEFT OUTER variant of [[purchaseAttribution]]: purchases with NO
    * signup in the window emit null-padded — the "unattributed
    * purchase" feed. Outer results cannot emit eagerly: a left row is
    * held in state until the watermark passes its purchase time (only
    * then can no future signup with s_ts <= p_ts arrive), so
    * null-padded rows surface one watermark advance later than inner
    * matches — the bounded-state/bounded-delay trade stream-stream
    * outer joins make. Equality with the batch left join on the
    * watermark-closed prefix is pinned in StreamingSpec.
    */
  def purchaseAttributionLeft(spark: SparkSession, inputDir: String,
      watermark: String = "10 minutes"): DataFrame =
    purchaseAttribution(spark, inputDir, watermark, "leftOuter")

  def purchaseAttribution(spark: SparkSession, inputDir: String,
      watermark: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    def side(tpe: String, prefix: String): DataFrame =
      source(spark, inputDir, throttled = false)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("ts_utc").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", watermark)
    side("purchase", "p").join(side("signup", "s"),
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"),
      joinType)
      .select(col("p_id").as("purchase_id"), col("p_user").as("user_id"),
        col("p_ts").as("purchase_ts"), col("s_ts").as("signup_ts"))
  }

  /** Micro-batch JDBC upsert — the streaming form of the ETL "load into
    * reporting tables over JDBC" path. Used as
    * `writeStream.outputMode("update").foreachBatch(upsertBatchToJdbc(url, table))`
    * over a windowed aggregation: update mode emits each window's NEW
    * total whenever a batch changes it, and the keyed upsert
    * (update-then-insert inside one transaction per partition) makes
    * replays idempotent — re-writing a window with the same total is a
    * no-op, the standard exactly-once recipe for non-transactional
    * stores. Connections open once per PARTITION (executor-side, like
    * any JDBC writer), never per row; the tiny aggregated batch is
    * coalesced so a 5-row delta doesn't open 32 connections.
    *
    * CAVEAT — `coalesce(1)` is a SINGLE-WRITER bound: every micro-batch
    * serializes through one task/one connection. That is the right
    * trade for this demo sink (an embedded Derby table fed a handful of
    * changed windows per batch), but if the windowed aggregate's delta
    * ever grew large, drop the coalesce and let each partition run its
    * own transaction — the per-partition-transaction pattern the batch
    * JDBC writer already uses; the upsert is keyed, so partition-level
    * retries stay idempotent.
    *
    * Expects `batch` columns (window_start timestamp, event_type
    * string, n_events long) matching the target table's key (ws, et).
    */
  def upsertBatchToJdbc(url: String, table: String)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.coalesce(1).foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        val up = conn.prepareStatement(
          s"UPDATE $table SET n_events = ? WHERE window_start = ? AND event_type = ?")
        val ins = conn.prepareStatement(
          s"INSERT INTO $table VALUES (?, ?, ?)")
        rows.foreach { r =>
          val ws = r.getTimestamp(0)
          val et = r.getString(1)
          val n = r.getLong(2)
          up.setLong(1, n); up.setTimestamp(2, ws); up.setString(3, et)
          if (up.executeUpdate() == 0) {
            ins.setTimestamp(1, ws); ins.setString(2, et); ins.setLong(3, n)
            ins.executeUpdate()
          }
        }
        conn.commit()
      } finally conn.close()
    }
  }

  /** Per-file arrival telemetry for [[auditArrivalOrder]]: modification
    * time (what FileStreamSource orders pickup by) against the file's
    * event-time range (what the watermark advances by).
    */
  case class FileArrival(path: String, mtimeMs: Long,
      minTsMicros: Long, maxTsMicros: Long, rows: Long)

  /** Result of [[auditArrivalOrder]]. `mtimeTies` = files sharing an
    * mtime with another file (pickup order among them is filesystem-
    * arbitrary); `inversions` = strictly-later-mtime files whose event
    * range ends BEFORE an earlier file's (arrival order contradicts
    * event order even without ties). `worstCaseLateRows` = rows of
    * files that are ENTIRELY below the simulated watermark under the
    * adversarial tie-break (lower bound on spurious-late);
    * `atRiskRows` additionally counts partially-straddling files
    * (upper bound).
    */
  case class ArrivalAudit(files: Seq[FileArrival], mtimeTies: Int,
      inversions: Int, worstCaseLateRows: Long, atRiskRows: Long,
      totalRows: Long) {
    def worstCaseLateFraction: Double =
      if (totalRows == 0) 0.0 else worstCaseLateRows.toDouble / totalRows
  }

  private def watermarkMicros(spark: SparkSession, watermark: String): Long =
    spark.range(1).select(expr(s"INTERVAL '$watermark'")).head().get(0) match {
      // Spark 4 parses day-time interval literals to DayTimeIntervalType
      // (externally java.time.Duration); mixed-unit strings fall back to
      // CalendarIntervalType
      case d: java.time.Duration => d.toNanos / 1000L
      case iv: org.apache.spark.unsafe.types.CalendarInterval =>
        require(iv.months == 0,
          s"month-based watermark '$watermark' not auditable")
        iv.microseconds + iv.days * 86400000000L
      case other => throw new IllegalArgumentException(
        s"watermark '$watermark' parsed to unauditable ${other.getClass}")
    }

  /** Ingestion-order guard (r15 StreamProbe finding, encoded as code):
    * FileStreamSource picks files up in MODIFICATION-TIME order, ties
    * broken arbitrarily — so a one-job multi-file write (every part
    * stamped the same mtime) can deliver the max-event-time file
    * first, race the watermark to end-of-stream, and declare the rest
    * of the corpus late (measured 91.6% of 10M rows spuriously late at
    * the 100× probe). This audit reads per-file event-time ranges (one
    * distributed scan, grouped by `input_file_name`), joins driver-side
    * file mtimes, and SIMULATES the watermark over the adversarial
    * pickup order (mtime asc, then max event time desc within a tie):
    * rows of files wholly below the simulated watermark are the
    * worst-case spurious-late count a real run could produce.
    */
  def auditArrivalOrder(spark: SparkSession, inputDir: String,
      watermark: String = "10 minutes"): ArrivalAudit = {
    val schema = resolvedSchema(spark, inputDir)
    val perFile = spark.read.schema(schema).parquet(inputDir)
      .withColumn("ts_utc", tsUtcFor(schema))
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("ts_utc"))).as("mn"),
        max(unix_micros(col("ts_utc"))).as("mx"),
        count(lit(1)).as("n"))
      .collect()
    val files = perFile.map { r =>
      val uri = new java.net.URI(r.getString(0))
      val p = java.nio.file.Paths.get(uri)
      FileArrival(p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis,
        r.getLong(1), r.getLong(2), r.getLong(3))
    }.toSeq
    val byMtime = files.groupBy(_.mtimeMs)
    val ties = byMtime.valuesIterator.filter(_.size > 1).map(_.size).sum
    val strictOrder = files.sortBy(f => (f.mtimeMs, f.path))
    val inversions = strictOrder.sliding(2).count {
      case Seq(a, b) => a.mtimeMs < b.mtimeMs && b.maxTsMicros < a.maxTsMicros
      case _         => false
    }
    // Adversarial pickup: within an mtime tie the max-range file lands
    // first. Watermark semantics mirror Structured Streaming's: updated
    // AFTER each batch to max(seen event time) − delay; a file is
    // spuriously late if its rows sit below the watermark set by files
    // picked up before it.
    val delay = watermarkMicros(spark, watermark)
    val adversarial = files.sortBy(f => (f.mtimeMs, -f.maxTsMicros, f.path))
    var wm = Long.MinValue
    var lateRows = 0L
    var atRisk = 0L
    adversarial.foreach { f =>
      if (f.maxTsMicros < wm) lateRows += f.rows
      else if (f.minTsMicros < wm) atRisk += f.rows
      wm = wm.max(f.maxTsMicros - delay)
    }
    ArrivalAudit(strictOrder, ties, inversions, lateRows,
      lateRows + atRisk, files.map(_.rows).sum)
  }

  /** Throws unless the directory's worst-case spurious-late fraction is
    * within `maxLateFraction` — call before starting a file-source
    * stream over a directory some batch job wrote (the one-job
    * same-mtime layout is exactly the trap). Returns the audit for
    * telemetry on success.
    */
  def requireMonotoneArrival(spark: SparkSession, inputDir: String,
      watermark: String = "10 minutes",
      maxLateFraction: Double = 0.0): ArrivalAudit = {
    val a = auditArrivalOrder(spark, inputDir, watermark)
    if (a.worstCaseLateFraction > maxLateFraction)
      throw new IllegalStateException(
        f"arrival-order audit: worst-case ${a.worstCaseLateFraction * 100}%.1f%% " +
          f"of rows (${a.worstCaseLateRows}/${a.totalRows}) would be declared " +
          f"late under mtime-tie pickup (${a.mtimeTies} tied files, " +
          f"${a.inversions} inversions) — re-stamp with stampArrivalOrder " +
          "or write files in event-time order")
    a
  }

  /** Repairs a directory written by a one-job batch (same-mtime parts):
    * re-stamps file mtimes strictly ascending in MIN EVENT TIME order,
    * so FileStreamSource's pickup order matches event time and the
    * watermark trails instead of racing (what a real ingestion layout
    * provides by construction). Uses the same per-file scan as the
    * audit; mtimes are synthetic (epoch-anchored) — only their ORDER
    * matters to the source.
    */
  def stampArrivalOrder(spark: SparkSession, inputDir: String): Unit = {
    val schema = resolvedSchema(spark, inputDir)
    val perFile = spark.read.schema(schema).parquet(inputDir)
      .withColumn("ts_utc", tsUtcFor(schema))
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("ts_utc"))).as("mn"))
      .collect()
      .map(r => (java.nio.file.Paths.get(new java.net.URI(r.getString(0))),
        r.getLong(1)))
      .sortBy(_._2)
    perFile.zipWithIndex.foreach { case ((p, _), i) =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
    }
  }

  /** Streaming 1-hour tumbling counts per event type.
    *
    * @param watermark late-data tolerance (e.g. Some("10 minutes")); None
    *   disables the watermark (needed for complete-mode equality tests —
    *   complete mode retains all state anyway).
    */
  def tumblingCounts(spark: SparkSession, inputDir: String,
      watermark: Option[String] = Some("10 minutes")): DataFrame = {
    val src = source(spark, inputDir)
    val marked = watermark.fold(src)(w => src.withWatermark("ts_utc", w))
    marked
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
  }
}
