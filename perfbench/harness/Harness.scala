package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. `run.py` builds the inputs, starts this
  * main with `key=value` arguments, and reads the JSON it writes to
  * `out=`. Every timing is taken here, around calls into graft's public
  * functions; the per-layer numbers of a traced run (`trace=1`) come
  * from listeners this file attaches, never from code inside graft.
  *
  * Modes: `setup` (session + warm-up job only), `oracle` (dump the
  * query inventory and its oracle SQL), and the workloads `inventory`,
  * `scaled_tpch` and `stream_replay`.
  */
object Harness {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * epoch-ms times Spark's listener events carry. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, name: String, qid: String, parent: Int,
      start: Double, end: Double)

  /** In-memory span store. While a traced span runs, its id is the
    * `perfbench.span` local property, so Spark's job-start events name the
    * span that was open when the job started. */
  final class Spans(tracing: Boolean, spark: SparkSession) {
    val all = mutable.ArrayBuffer.empty[Span]
    private var next = 0
    def add(name: String, qid: String, parent: Int, s: Double, e: Double): Unit =
      put(Span(reserve(), name, qid, parent, s, e))
    def reserve(): Int = synchronized { next += 1; next }
    def put(sp: Span): Unit = synchronized { all += sp }
    def timed[T](name: String, qid: String, parent: Int)(body: => T): (T, Double, Double) = {
      val id = reserve()
      if (tracing) spark.sparkContext.setLocalProperty("perfbench.span", id.toString)
      val s = nowMs
      try {
        val r = body
        val e = nowMs
        put(Span(id, name, qid, parent, s, e))
        (r, s, e)
      } catch { case t: Throwable =>
        put(Span(id, name, qid, parent, s, nowMs)); throw t
      } finally {
        if (tracing) spark.sparkContext.setLocalProperty("perfbench.span", null)
      }
    }
  }

  /** Scheduler- and catalyst-side recorder for the traced run. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    final case class Job(id: Int, start: Double, var end: Double, span: Int)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.HashMap.empty[Int, Int]
    val stages = mutable.ArrayBuffer.empty[(Int, Int, Double, Double)]
    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    @volatile var events = 0L
    @volatile var window: (Double, Double) = (Double.MaxValue, Double.MaxValue)
    private def inWindow(t: Double) = t >= window._1 && t <= window._2
    private def bump(k: String, v: Double): Unit = counts(k) += v

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(0)
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, span)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += ((i.stageId, stageJob.getOrElse(i.stageId, -1), s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      val info = e.taskInfo
      if (info != null && inWindow(info.finishTime.toDouble)) {
        bump("exec.tasks", 1)
        if (!info.successful) bump("exec.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          bump("exec.task_run_ms", m.executorRunTime.toDouble)
          bump("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          bump("exec.task_gc_ms", m.jvmGCTime.toDouble)
          bump("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
          bump("exec.shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble)
          bump("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          bump("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          bump("sink.rows_written", m.outputMetrics.recordsWritten.toDouble)
          bump("sink.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
    private def record(qe: QueryExecution): Unit = synchronized {
      events += 1
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    /** Listener events arrive asynchronously: wait until no event has
      * arrived for `quietMs` and every started job has ended. */
    def drain(quietMs: Long = 300, timeoutMs: Long = 15000): Unit = {
      val until = System.currentTimeMillis() + timeoutMs
      var last = -1L
      var ok = false
      while (!ok && System.currentTimeMillis() < until) {
        Thread.sleep(quietMs)
        val seen = events
        ok = seen == last && synchronized(jobs.values.forall(!_.end.isNaN))
        last = seen
      }
    }
  }

  // ---------------------------------------------------------------- JSON
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  /** One JSON-safe value for the result-digest dump. */
  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: java.math.BigDecimal => num(n.doubleValue)
    case n: Number => num(n.doubleValue)
    case t: java.sql.Timestamp =>
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => q(d.toString)
    case d: java.time.LocalDate => q(d.toString)
    case s: scala.collection.Seq[_] => arr(s.map(cell))
    case other => q(other.toString)
  }

  // ------------------------------------------------------------- session
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same warm-up as graft.Bench: first-job scheduler and codegen init
    // belong to set-up, not to whichever operation runs first.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  private def releaseBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def firstLine(t: Throwable): String =
    s"${t.getClass.getSimpleName}: " +
      Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString

  // ---------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val mode = opt("mode")
    val out = Paths.get(opt("out"))
    val work = opt("work")
    val cpus = opt.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = session(cpus, work)
    val readyMs = nowMs
    val fields = mutable.ArrayBuffer[(String, String)](
      "ready_epoch_ms" -> num(readyMs), "cpus" -> cpus.toString)
    mode match {
      case "setup" =>
      case "oracle" =>
        fields += "queries" -> arr(graft.SparkEntry.queries.keys.toSeq.sorted.map(q))
        fields += "oracle_sql" -> obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> q(v) })
      case w =>
        val tracing = opt.getOrElse("trace", "0") == "1"
        val passes = opt("passes").toInt
        val names = Files.readAllLines(Paths.get(opt("queries"))).asScala.toSeq
          .map(_.trim).filter(_.nonEmpty)
        val run = new Run(spark, w, tracing, cpus, passes, names, opt, work)
        fields ++= run.go()
    }
    fields ++= Jvm.snapshot()
    Files.createDirectories(out.getParent)
    Files.writeString(out, obj(fields.toSeq))
    // Every file this JVM wrote is under `work`, which run.py removes, so
    // Spark's orderly shutdown (seconds per JVM, two JVMs a run) is skipped.
    Runtime.getRuntime.halt(0)
  }

  /** JVM-wide numbers read at exit. */
  object Jvm {
    import java.lang.management.ManagementFactory
    def snapshot(): Seq[(String, String)] = {
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      val code = pools.filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      val heapPeak = pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      val hwm = scala.util.Try(scala.io.Source.fromFile("/proc/self/status")
        .getLines().find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(Double.NaN)).getOrElse(Double.NaN)
      Seq(
        "jvm.gc_ms" -> num(ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime.toDouble).sum),
        "jvm.jit_ms" -> num(ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble),
        "jvm.code_cache_used_mb" -> num(code.map(_.getUsage.getUsed).sum / 1048576.0),
        "jvm.code_cache_reserved_mb" -> num(code.map(p =>
          math.max(p.getUsage.getMax, p.getUsage.getCommitted)).sum / 1048576.0),
        "jvm.heap_used_peak_mb" -> num(heapPeak / 1048576.0),
        "peak_rss_mb" -> num(hwm))
    }
  }

  /** One workload run: the timed loop, the untimed output dump, and (when
    * tracing) the spans and per-layer counters. */
  final class Run(spark: SparkSession, workload: String, tracing: Boolean,
      cpus: Int, passes: Int, names: Seq[String], opt: Map[String, String],
      work: String) {
    private val spans = new Spans(tracing, spark)
    private val tracer = new Tracer
    if (tracing) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    private val ops = mutable.ArrayBuffer.empty[String]
    private val checks = mutable.ArrayBuffer.empty[String]
    private val extra = mutable.ArrayBuffer.empty[(String, String)]
    private val queries = graft.SparkEntry.queries

    private def op(pass: Int, name: String, constructMs: Double, actionMs: Double,
        rows: Long, err: String, more: (String, String)*): Unit =
      ops += obj(Seq("pass" -> pass.toString, "name" -> q(name),
        "construct_ms" -> num(constructMs), "action_ms" -> num(actionMs),
        "rows" -> rows.toString, "error" -> (if (err == null) "null" else q(err))) ++ more)

    /** construct → action under one `query` root span. */
    private def timeQuery(pass: Int, name: String, dir: String,
        action: DataFrame => Long): Unit = {
      val qid = s"$workload/$pass/$name"
      val root = spans.reserve()
      val kindsBefore = graft.sources.Materialize.buildTimes.keySet
      val t0 = nowMs
      var cMs = Double.NaN
      var aMs = Double.NaN
      var rows = -1L
      var err: String = null
      try {
        val (df, cs, ce) = spans.timed("construct", qid, root)(queries(name)(spark, dir))
        cMs = ce - cs
        val (n, as, ae) = spans.timed("action", qid, root)(action(df))
        aMs = ae - as
        rows = n
      } catch { case t: Throwable =>
        err = firstLine(t)
        System.err.println(s"[perfbench] $qid failed: $err")
      }
      spans.put(Span(root, "query", qid, 0, t0, nowMs))
      val built = graft.sources.Materialize.buildTimes.keySet -- kindsBefore
      op(pass, name, cMs, aMs, rows, err,
        "built" -> arr(built.toSeq.sorted.map(q)))
      releaseBlocks(spark)
    }

    def go(): Seq[(String, String)] = {
      val artifactsBefore = graft.sources.Materialize.buildTimes
      val winStart = nowMs
      tracer.window = (winStart, Double.MaxValue)
      workload match {
        case "inventory" | "scaled_tpch" => queryPasses(opt("corpus"))
        case "stream_replay" => stream()
      }
      val winEnd = nowMs
      tracer.window = (winStart, winEnd)
      val built = graft.sources.Materialize.buildTimes
      val builtDelta = built.map { case (k, s) => k -> (s - artifactsBefore.getOrElse(k, 0.0)) }
        .filter(_._2 > 0)
      val artifacts = Seq(
        "sources.materialize_builds" -> builtDelta.size.toString,
        "sources.materialize_build_s" -> num(builtDelta.values.sum),
        "sources.artifact_bytes" -> num(artifactBytes().toDouble))
      // Output dumps and checks, after the window.
      workload match {
        case "scaled_tpch" => dumpResults(Paths.get(opt("dump")))
        case "stream_replay" => streamChecks()
        case "inventory" if opt.get("recall").contains("1") => extra ++= recall(opt("corpus"))
        case _ =>
      }
      val base = Seq("window_start_ms" -> num(winStart), "window_end_ms" -> num(winEnd),
        "ops" -> arr(ops), "checks" -> arr(checks)) ++ artifacts ++ extra
      if (!tracing) base
      else {
        tracer.drain()
        base ++ traceFields(winStart, winEnd)
      }
    }

    private def artifactBytes(): Long = {
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      if (!Files.isDirectory(tmp)) 0L
      else Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_artifacts_"))
        .map(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum).sum
    }

    /** A cold pass, then `passes` warm passes. */
    private def queryPasses(dir: String): Unit =
      (0 to passes).foreach(p => names.foreach(n => timeQuery(p, n, dir, action(n))))

    /** The last collected result of each query, for the digest check. */
    private val collected = mutable.HashMap.empty[String, (Array[String], Array[Row])]

    /** `count()` as graft.Bench times it; TPC-H results are collected
      * instead, so the final sort and projection run as a user sees them. */
    private def action(name: String): DataFrame => Long =
      if (workload != "scaled_tpch") _.count()
      else { df =>
        val rows = df.collect()
        collected(name) = (df.columns, rows)
        rows.length.toLong
      }

    /** The streaming pipelines graft ships, replayed with AvailableNow. */
    private def pipelines(in: String): Seq[(String, () => DataFrame)] = Seq(
      "tumbling_counts" -> (() => graft.streaming.EventsStream.tumblingCounts(spark, in)),
      "deduped_events" -> (() => graft.streaming.EventsStream.dedupedEvents(spark, in)),
      "sessions" -> (() => graft.streaming.SessionStream.sessions(spark, in)),
      "scd_versions" -> (() => graft.streaming.ScdStream.versions(spark, in)),
      "user_totals" -> (() => graft.streaming.UserTotalsStream.totals(spark, in)))

    private val providerKey = "spark.sql.streaming.stateStore.providerClass"
    private val checked = Set("tumbling_counts", "sessions")

    private def stream(): Unit = {
      val in = s"${opt("corpus")}/events.parquet"
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      (0 to passes).foreach(p =>
        pipelines(in).foreach { case (name, build) => replay(p, name, build) })
    }

    private def replay(pass: Int, name: String, build: () => DataFrame): Unit = {
      val qid = s"$workload/$pass/$name"
      val root = spans.reserve()
      val t0 = nowMs
      // totals() switches the session to the RocksDB store provider;
      // restore the session's own value so the next pipeline is unaffected.
      val provider = spark.conf.getOption(providerKey)
      var err: String = null
      var progs: Array[StreamingQueryProgress] = Array.empty
      var cMs = Double.NaN
      var aMs = Double.NaN
      try {
        val (df, cs, ce) = spans.timed("construct", qid, root)(build())
        cMs = ce - cs
        val (p, as, ae) = spans.timed("action", qid, root) {
          // Deduplicated events land in Parquet, the ETL live path and the
          // benchmark's sink layer. In the first pass the pipelines that have
          // a batch twin write to the memory sink, so their output can be
          // checked after the window; the rest go to `noop`.
          val sink =
            if (name == "deduped_events")
              df.writeStream.format("parquet").option("path", s"${opt("sink")}/$pass")
            else if (pass == 0 && checked.contains(name))
              df.writeStream.format("memory").queryName(s"out_$name")
            else df.writeStream.format("noop")
          val sq = sink.option("checkpointLocation", s"$work/ckpt/$pass/$name")
            .trigger(Trigger.AvailableNow()).start()
          sq.awaitTermination()
          sq.recentProgress
        }
        aMs = ae - as
        progs = p
        progs.filter(_.numInputRows > 0).foreach { pr =>
          val s = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
          spans.add("batch", qid, root, s, s + pr.batchDuration.toDouble)
        }
      } catch { case t: Throwable =>
        err = firstLine(t)
        System.err.println(s"[perfbench] $qid failed: $err")
      } finally {
        provider match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
      }
      spans.put(Span(root, "query", qid, 0, t0, nowMs))
      val data = progs.filter(_.numInputRows > 0)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val batches = data.map { p =>
        val st = Option(p.stateOperators).toSeq.flatten
        obj(Seq("rows" -> p.numInputRows.toString,
          "trigger_ms" -> num(dur(p, "triggerExecution")),
          "add_batch_ms" -> num(dur(p, "addBatch")),
          "query_planning_ms" -> num(dur(p, "queryPlanning")),
          "wal_commit_ms" -> num(dur(p, "walCommit") + dur(p, "commitOffsets")),
          "state_commit_ms" -> num(st.map(_.commitTimeMs.toDouble).sum),
          "state_rows" -> num(st.map(_.numRowsTotal.toDouble).sum),
          "state_mem_mb" -> num(st.map(_.memoryUsedBytes.toDouble).sum / 1048576.0),
          "late_dropped_rows" -> num(st.map(_.numRowsDroppedByWatermark.toDouble).sum)))
      }
      op(pass, name, cMs, aMs, progs.map(_.numInputRows).sum, err,
        "batches" -> arr(batches))
    }

    /** Stream output on the watermark-closed prefix must equal its batch
      * twin, as graft's streaming specs check; results go to `checks`. */
    private def streamChecks(): Unit = {
      val dir = opt("corpus")
      val maxTs = graft.sources.Tables.events(spark, dir).agg(max(col("ts_utc")))
        .collect()(0).getTimestamp(0).toInstant
      // Output the final watermark surely closed: a day before it.
      val closed = maxTs.minus(java.time.Duration.ofMinutes(10 + 24 * 60))
      def check(name: String)(body: => (Boolean, String)): Unit = {
        val (ok, detail) = try body catch { case t: Throwable => (false, firstLine(t)) }
        checks += obj(Seq("name" -> q(name), "ok" -> ok.toString, "detail" -> q(detail)))
      }
      /** Every emitted row is a batch row; every closed batch row was emitted. */
      def prefix(got: DataFrame, want: DataFrame): (Boolean, String) = {
        val key = (r: Row) => r.toSeq.take(2)
        val streamed = got.collect().map(r => key(r) -> r.toSeq).toMap
        val batch = want.collect().map(r => key(r) -> r.toSeq).toMap
        val wrong = streamed.filterNot { case (k, v) => batch.get(k).contains(v) }
        val missing = (batch.keySet -- streamed.keySet).filter(k =>
          k(1).asInstanceOf[java.sql.Timestamp].toInstant.isBefore(closed))
        (streamed.nonEmpty && wrong.isEmpty && missing.isEmpty,
          s"emitted ${streamed.size} of ${batch.size} batch rows, not in batch " +
            s"${wrong.size}, closed but missing ${missing.size}")
      }
      check("stream_tumble") {
        val cols = Seq(col("event_type"), col("window_start").cast("timestamp"), col("n_events"))
        prefix(spark.table("out_tumbling_counts").select(cols: _*),
          graft.SparkEntry.queries("stream_tumble")(spark, dir).select(cols: _*))
      }
      check("stream_session") {
        val cols = Seq(col("user_id"), col("session_start").cast("timestamp"),
          col("n_events"), col("total_value"))
        prefix(spark.table("out_sessions").select(cols: _*),
          graft.SparkEntry.queries("stream_session")(spark, dir).select(cols: _*))
      }
    }

    /** recall@10 of each ANN tier against the exact cosine top-10, the
      * tiers graft.RecallProbe measures; untimed. */
    private def recall(dir: String): Seq[(String, String)] = {
      import graft.operators.{Ann, Ivf, Pca, Pipeline, Pq}
      val exact = Pipeline.udfCosineTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val tiers = Seq[(String, (SparkSession, String) => DataFrame)](
        "knn_ann" -> Ann.knnAnn, "knn_quant" -> Ann.knnQuant, "knn_ivf" -> Ivf.knnIvf,
        "knn_ivfpq" -> Pq.knnIvfPq, "knn_pq" -> Pq.knnPq, "knn_pca" -> Pca.knnPca)
      val per = tiers.map { case (n, f) =>
        val ids = f(spark, dir).collect().map(_.getLong(0))
        releaseBlocks(spark)
        n -> ids.count(exact.contains) / 10.0
      }
      per.map { case (n, r) => s"recall.$n" -> num(r) } :+
        ("ann_recall_at_10" -> num(per.map(_._2).sum / per.size))
    }

    /** The last pass's rows of every query, for the DuckDB digest compare. */
    private def dumpResults(target: Path): Unit = {
      val lines = names.map { n =>
        val rows = collected.get(n).fold(q("no result collected")) { case (cols, rs) =>
          obj(Seq("cols" -> arr(cols.toSeq.map(q)),
            "rows" -> arr(rs.toSeq.map(r => arr(r.toSeq.map(cell))))))
        }
        s"${q(n)}:$rows"
      }
      Files.createDirectories(target.getParent)
      Files.writeString(target, lines.mkString("{", ",\n", "}"))
    }

    // --------------------------------------------------------- tracing
    /** Spans (harness, catalyst phases, jobs, stages) and the per-layer
      * counters derived from them. */
    private def traceFields(winStart: Double, winEnd: Double): Seq[(String, String)] = {
      val harness = spans.all.toSeq
      val containers = harness.filter(s => s.name != "query")
        .sortBy(s => (s.start, -s.end))
      def enclosing(t: Double): Option[Span] =
        containers.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption
      var id = harness.map(_.id).foldLeft(0)(math.max)
      def nextId(): Int = { id += 1; id }
      val byId = harness.map(s => s.id -> s).toMap
      val extraSpans = mutable.ArrayBuffer.empty[Span]
      val (jobs, stages, phases) = tracer.synchronized(
        (tracer.jobs.values.toSeq, tracer.stages.toSeq, tracer.phases.toSeq))
      val inWin = (t: Double) => t >= winStart && t <= winEnd
      phases.filter(p => inWin(p._2)).foreach { case (name, s, e) =>
        enclosing(s).foreach(p => extraSpans += Span(nextId(), name, p.qid, p.id, s, e))
      }
      val jobSpan = mutable.HashMap.empty[Int, Span]
      jobs.filter(j => inWin(j.start)).foreach { j =>
        val parent = byId.get(j.span).orElse(enclosing(j.start))
        val end = if (j.end.isNaN) j.start else j.end
        val sp = Span(nextId(), "job", parent.map(_.qid).getOrElse(""),
          parent.map(_.id).getOrElse(0), j.start, end)
        jobSpan(j.id) = sp
        extraSpans += sp
      }
      stages.foreach { case (_, job, s, e) =>
        jobSpan.get(job).foreach(j => extraSpans += Span(nextId(), "stage", j.qid, j.id, s, e))
      }
      val all = harness ++ extraSpans
      val parentOf = all.map(s => s.id -> s.parent).toMap
      val nameOf = all.map(s => s.id -> s.name).toMap
      def under(s: Span, kind: String): Boolean = {
        var p = s.parent
        while (p != 0 && nameOf.get(p).exists(_ != kind)) p = parentOf.getOrElse(p, 0)
        p != 0
      }
      val jobsAll = extraSpans.filter(_.name == "job")
      def sumMs(n: String) = all.filter(_.name == n).map(s => s.end - s.start).sum
      // Driver gap: action wall not covered by the union of its jobs.
      val actions = all.filter(_.name == "action")
      val childJobs = jobsAll.groupBy(_.parent)
      val gap = actions.map { a =>
        val ivs = childJobs.getOrElse(a.id, Nil).map(j => (j.start max a.start, j.end min a.end))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0.0
        var cur = (Double.NaN, Double.NaN)
        ivs.foreach { iv =>
          if (cur._1.isNaN) cur = iv
          else if (iv._1 <= cur._2) cur = (cur._1, cur._2 max iv._2)
          else { covered += cur._2 - cur._1; cur = iv }
        }
        if (!cur._1.isNaN) covered += cur._2 - cur._1
        (a.end - a.start) - covered
      }.sum
      val batchWall = sumMs("batch")
      val actionWall = if (workload == "stream_replay") batchWall
        else actions.map(s => s.end - s.start).sum
      val c = tracer.synchronized(tracer.counts.toMap).withDefaultValue(0.0)
      val layer = Seq(
        "operators.construct_ms" -> sumMs("construct"),
        "operators.construct_jobs" -> jobsAll.count(under(_, "construct")).toDouble,
        "catalyst.analysis_ms" -> sumMs("analysis"),
        "catalyst.optimization_ms" -> sumMs("optimization"),
        "catalyst.planning_ms" -> sumMs("planning"),
        "exec.jobs" -> jobsAll.size.toDouble,
        "exec.stages" -> extraSpans.count(_.name == "stage").toDouble,
        "exec.driver_gap_ms" -> gap,
        "exec.slot_busy_frac" -> (if (actionWall > 0) c("exec.task_run_ms") / (cpus * actionWall) else 0.0),
        "trace.action_wall_ms" -> actionWall
      ) ++ Seq("exec.tasks", "exec.failed_tasks", "exec.task_run_ms", "exec.task_cpu_ms",
        "exec.task_gc_ms", "exec.input_bytes", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "sink.rows_written",
        "sink.bytes_written").map(k => k -> c(k))
      val spansJson = all.sortBy(_.id).map(s => obj(Seq("id" -> s.id.toString,
        "name" -> q(s.name), "qid" -> q(s.qid), "parent" -> s.parent.toString,
        "start_ms" -> num(s.start), "end_ms" -> num(s.end))))
      val spansPath = Paths.get(opt("spans"))
      Files.createDirectories(spansPath.getParent)
      Files.writeString(spansPath, arr(spansJson))
      layer.map { case (k, v) => k -> num(v) }
    }
  }
}
