package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** `stream_ingest`: an open loop. One generator thread lands seeded
  * metric-event parquet slices on a fixed schedule (each slice is one
  * event-time window, a stated share of its events belong to the
  * previous window and a stated share re-deliver earlier events) while a
  * Structured Streaming query built from `Streams.tumblingAgg` →
  * `Streams.partitionedSink` consumes them.
  *
  * `Streams.dedupWithinWatermark` is not in the chain: it and
  * `tumblingAgg` each declare a watermark on `ts`, and Spark refuses a
  * streaming query that redefines one. Re-delivered events are therefore
  * counted twice, by the stream and by its batch twin alike.
  *
  * An op is one window result. Its latency runs from the due time of
  * the last slice carrying one of its events to the moment its
  * partition is committed at the sink: queue wait included, window
  * length excluded. Between landings the generator polls the sink.
  */
final class StreamIngest(o: Opts) extends Workload {
  private val truth = Json.readTree(s"${o.dir}/in/truth.json")
  private val windowS = o.int("window_s")
  private val intervalMs = o.int("slice_interval_ms")
  private val rowsPerSlice = o.int("rows_per_slice")
  private val warmSlices = o.int("warm_slices")
  private val nSlices = truth.get("slices").asInt() // the flush slice has this index
  private val width = s"$windowS seconds"
  private val lateness = s"${2 * windowS} seconds"
  private val t0Sim = truth.get("t0_sim").asLong() // event time of window 0

  private val staged = s"${o.dir}/in/slices"
  private val landing = s"${o.dir}/landing"
  private val sink = s"${o.dir}/sink"
  private val ckpt = s"${o.dir}/checkpoint"
  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  // window -> index of the last slice carrying an event of it
  private val lastSliceOf: Map[Long, Int] = {
    val m = truth.get("last_slice_of")
    val it = m.fieldNames()
    var out = Map.empty[Long, Int]
    while (it.hasNext) { val k = it.next(); out += k.toLong -> m.get(k).asInt() }
    out
  }
  private val sliceRows = (0 to nSlices).map(truth.get("slice_rows").get(_).asLong())
  private var query: StreamingQuery = _
  private val landed = new AtomicLong(0L)
  private val progress = ArrayBuffer.empty[(StreamingQueryListener.QueryProgressEvent, Long)]
  private val seen = scala.collection.mutable.Map.empty[String, Long] // "ds=../win=.." -> ms
  private val genLagMs = ArrayBuffer.empty[Double]

  def stage(spark: SparkSession): Unit = {
    Seq(landing, sink, ckpt).foreach(Files.rm)
    new File(landing).mkdirs()
  }

  private def land(k: Int): Unit = {
    JFiles.move(new File(s"$staged/slice-$k.parquet").toPath,
      new File(s"$landing/slice-$k.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
    landed.addAndGet(sliceRows(k))
  }

  private def poll(): Unit = {
    val now = System.currentTimeMillis()
    Option(new File(sink).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("ds="))
      .foreach { d =>
        Option(d.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.startsWith("win="))
          .foreach(w => seen.getOrElseUpdate(s"${d.getName}/${w.getName}", now))
      }
  }

  private def partitionOf(window: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(t0Sim + window * windowS, 0, java.time.ZoneOffset.UTC)
    f"ds=${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d/win=${t.getHour}%02d${t.getMinute}%02d"
  }

  /** Lands slices [from, to) on the schedule anchored at `start`. */
  private def runSchedule(from: Int, to: Int, start: Long): Seq[Long] = {
    val due = new Array[Long](to)
    for (k <- from until to) {
      due(k) = start + (k - from).toLong * intervalMs
      while (System.currentTimeMillis() < due(k)) { poll(); Thread.sleep(5) }
      genLagMs += (System.currentTimeMillis() - due(k)).toDouble
      land(k)
    }
    due.toSeq
  }

  private def waitFor(windows: Seq[Long], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!windows.forall(w => seen.contains(partitionOf(w))) && System.currentTimeMillis() < deadline) {
      Check(query.exception.isEmpty, s"stream failed: ${query.exception.map(_.getMessage)}")
      poll(); Thread.sleep(5)
    }
    windows.forall(w => seen.contains(partitionOf(w)))
  }

  def checkPass(spark: SparkSession, capture: PlanCapture): Seq[CheckResult] = {
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += ((e, landed.get())))
    })
    val src = spark.readStream.schema(schema).parquet(landing)
    val agg = Streams.tumblingAgg(src, width, lateness)
    // A fixed trigger period longer than a micro-batch: a window's latency
    // is then about one period plus one batch, where back-to-back
    // batches would compound two to three batch durations.
    query = Streams.partitionedSink(agg, sink, ckpt,
      Trigger.ProcessingTime(o.int("trigger_ms").toLong)).start()
    // warm-up: the first slices' windows commit before the timed phase
    runSchedule(0, warmSlices, System.currentTimeMillis())
    val warmOk = waitFor((0 until warmSlices - 3).map(_.toLong), 60000)
    // the micro-batch's write reports to the listener after its files
    // are in place, so its event can trail the partitions seen above
    var writes = 0
    val deadline = System.currentTimeMillis() + 30000
    while (writes == 0 && System.currentTimeMillis() < deadline) {
      writes += capture.take().count(_.filesWritten > 0)
      if (writes == 0) Thread.sleep(20)
    }
    Seq(CheckResult("warm_windows_committed", warmOk, s"${seen.size} partitions seen"),
      CheckResult("forced_work", writes > 0, s"$writes parquet writes committed"))
  }

  def timed(spark: SparkSession, tracer: Tracer): Timed = {
    // The trigger fires on multiples of its period since the epoch. The
    // schedule is anchored to that clock, with slices landing 40 ms before
    // and 80 ms after each firing (the source lists its directory early in
    // a trigger), so every run's batches carry the same slices.
    val period = o.int("trigger_ms").toLong
    Check(period % intervalMs == 0, "trigger_ms must be a multiple of slice_interval_ms")
    val start = (System.currentTimeMillis() / period + 1) * period + 2 * intervalMs / 3
    while (System.currentTimeMillis() < start) { poll(); Thread.sleep(5) }
    progress.synchronized(progress.clear())
    val landed0 = landed.get()
    val (due, phaseS) = tracer.op(0, "stream") {
      runSchedule(warmSlices, nSlices, start)
    }
    val timedRows = landed.get() - landed0
    // the flush slice lands on schedule and closes every open window;
    // windows it closes earlier than a regular slice would are not sampled
    val flushDue = due(nSlices - 1) + intervalMs
    while (System.currentTimeMillis() < flushDue) { poll(); Thread.sleep(5) }
    land(nSlices)
    val windows = lastSliceOf.collect { case (w, k) if k >= warmSlices && w + 3 <= nSlices => w }
      .toSeq.sorted
    val complete = waitFor(windows, 60000)
    val ops = windows.map { w =>
      seen.get(partitionOf(w)) match {
        case Some(t) => OpSample(s"window-$w", (t - due(lastSliceOf(w))) / 1000.0, ok = true)
        case None => OpSample(s"window-$w", 0.0, ok = false, "window never committed")
      }
    }
    // Throughput is what the stream delivered: the rows landed in the
    // timed phase over the time from the first timed landing to the
    // commit of the last sampled window. A slower stream commits later
    // (and a backlog drains later), so it reads lower; the generator's
    // offered rate is kept beside it.
    val deliveredS = (windows.flatMap(w => seen.get(partitionOf(w))).foldLeft(0L)(math.max) -
      due(warmSlices)) / 1000.0
    val prog = progress.synchronized(progress.toList)
    Timed(ops, timedRows, deliveredS, Map("all_windows_committed" -> complete,
      "offered_rows_s" -> timedRows / phaseS,
      "out_bytes_per_in_byte" -> Files.dataBytes(sink).toDouble / Files.dataBytes(landing),
      "gen_lag_ms_max" -> (if (genLagMs.isEmpty) 0.0 else genLagMs.max),
      "batches" -> prog.length, "progress" -> prog.map { case (e, l) =>
        val p = e.progress
        Map("batch" -> p.batchId, "rows" -> p.numInputRows, "landed" -> l,
          "durations_ms" -> scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
            .map { case (k, v) => k -> v.longValue() })
      }))
  }

  def finalChecks(spark: SparkSession): Seq[CheckResult] = {
    query.stop()
    val flushStart = new java.sql.Timestamp((t0Sim + 86400L) * 1000)
    val batch = Streams.tumblingAgg(spark.read.schema(schema).parquet(landing), width, lateness)
      .filter(col("window_start") < lit(flushStart))
    val streamed = spark.read.parquet(sink).select("window_start", "event_type", "n", "total")
    val missing = batch.exceptAll(streamed).count()
    val extra = streamed.exceptAll(batch).count()
    Seq(CheckResult("sink_equals_batch", missing == 0 && extra == 0,
      s"${streamed.count()} rows streamed; $missing batch rows missing, $extra extra"))
  }

  /** Per-trigger streaming figures from the query's progress events. */
  def streamingLayer(): Map[String, Double] = {
    val prog = progress.synchronized(progress.toList)
    def med(k: String) = {
      val xs = prog.flatMap(p => Option(p._1.progress.durationMs.get(k)).map(_.doubleValue()))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    var processed = 0L
    val backlog = prog.map { case (e, l) => processed += e.progress.numInputRows; (l - processed).toDouble }
    def stateMax(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      prog.map(_._1.progress.stateOperators.map(f).sum).foldLeft(0L)(math.max).toDouble
    val rates = prog.map(_._1.progress.processedRowsPerSecond).filter(_ > 0)
    Map("streaming.trigger_ms" -> med("triggerExecution"), "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"), "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"), "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.batches" -> prog.length.toDouble,
      "streaming.processed_rows_s" -> (if (rates.isEmpty) 0.0 else Stats.median(rates)),
      "streaming.backlog_rows" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "streaming.state_rows" -> stateMax(_.numRowsTotal),
      "streaming.state_mem_bytes" -> stateMax(_.memoryUsedBytes),
      "streaming.gen_lag_s" -> (if (genLagMs.isEmpty) 0.0 else genLagMs.max / 1000.0))
  }
}
