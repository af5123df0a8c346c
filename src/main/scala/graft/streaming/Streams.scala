package graft.streaming

import graft.io.PartitionedWriter
import graft.ops.Scalars
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming twins of the batch time-window operators —
  * SURVEY.md §2.I. The reference's hand-rolled micro-batching (driver
  * `while` loops + truncate-partition re-writes) maps onto:
  *
  *   readStream -> withWatermark -> window()/session_window() aggs ->
  *   foreachBatch(dynamic-partition-overwrite write)
  *
  * which gives the same day-granularity exactly-once the reference
  * engineered by hand (SURVEY §2.I I5), plus real late-data handling.
  * Every transform here takes a DataFrame so the identical plan runs on
  * a batch frame (oracle-checked via QTimeseries) and on a stream
  * (MemoryStream-driven in tests).
  */
final case class UserEvent(event_id: Long, user_id: Long, value: Double)
final case class UserCount(user_id: Long, n: Long)
final case class UserTotal(user_id: Long, total: Double)
final case class TypedEvent(event_id: Long, user_id: Long, t: Long, event_type: String)
final case class FunnelState(stage: Int, reachedAt: Long)
final case class FunnelStage(user_id: Long, stage: Int)
final case class Scd2State(attr: String, from: Long, version: Int)
final case class Scd2Closed(user_id: Long, attr: String, version: Int,
    effective_from: Long, effective_to: Long)

object Streams {

  /** I1+I4 — tumbling counts/sums with event-time watermark. */
  def tumblingAgg(events: DataFrame, width: String = "5 minutes", lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Scalars.dec(col("value"))).cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** I2 streaming twin — watermarked SLIDING (hopping) window
    * aggregate: each event lands in width/slide overlapping windows
    * (state holds width/slide open windows per key instead of one);
    * append mode emits a window once its end clears the watermark.
    */
  def slidingAgg(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes", lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** I-ext — stream-static enrichment join: the static dimension is
    * broadcast into every micro-batch (re-resolved per batch, so a
    * refreshed dim table is picked up on the next trigger). Stateless —
    * no watermark, no store; the scale cost is the dim broadcast, which
    * must stay driver-sized like any broadcast join build side.
    */
  def enrichJoin(stream: DataFrame, dim: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame =
    stream.join(broadcast(dim), cond)

  /** I3 — session windows per user with watermark. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes", lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))

  /** I5 — streaming dedup bounded by the watermark (the streaming form
    * of E4: state stays finite because rows older than the watermark
    * can no longer produce duplicates).
    */
  def dedupWithinWatermark(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state — `flatMapGroupsWithState`: a running per-user
    * event counter with a session-style timeout, the general form every
    * bespoke streaming accumulation reduces to (the windowed aggs above
    * cover the declarative cases). State is one small case class per
    * key; at scale the state store shards by key across executors.
    */
  def runningCounts(events: org.apache.spark.sql.Dataset[UserEvent]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserCount]) => {
          val prev = state.getOption.getOrElse(UserCount(userId, 0L))
          val next = UserCount(userId, prev.n + rows.size)
          state.update(next)
          Iterator(next)
        })
      .toDF()
  }

  /** Spark 4's `transformWithState` successor to the
    * `flatMapGroupsWithState` form above: explicit named state
    * (ValueState/ListState/MapState per key), optional TTL, timers —
    * the API new stateful pipelines should target. Requires the
    * RocksDB state store provider; state shards by key across
    * executors like all stream state.
    */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserTotal] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    @transient private var total: ValueState[Double] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      total = getHandle.getValueState[Double]("total",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[UserTotal] = {
      val sum = rows.map(_.value).sum + (if (total.exists()) total.get() else 0.0)
      total.update(sum)
      Iterator(UserTotal(key, sum))
    }
  }

  /** Streaming twin of `Warehouse.funnelStages` (batch oracle:
    * `q_funnel`): per-user deepest funnel stage as a monotone
    * ValueState, advanced by events of type `steps(stage)` strictly
    * after the previous stage's completion time. Rows are sorted by
    * (t, event_id) within each micro-batch (the iterator carries no
    * order guarantee); across batches the monotone state only protects
    * against RE-advancing — it cannot recover an advance that was
    * missed because a prerequisite event arrived in a later batch
    * (view@10 delivered after click@20 was already processed leaves
    * the user at stage 1 where the batch twin says 2). Precondition:
    * cross-batch delivery must be event-time ordered per key (route
    * through a per-key ordered source, or widen the batch boundary
    * with a watermark-buffered state if the feed can straggle).
    */
  class FunnelProcessor(steps: Seq[String])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, FunnelStage] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[FunnelState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timers: TimerValues): Iterator[FunnelStage] = {
      var cur = if (st.exists()) st.get() else FunnelState(0, Long.MinValue)
      rows.toSeq.sortBy(e => (e.t, e.event_id)).foreach { e =>
        if (cur.stage < steps.length && e.event_type == steps(cur.stage) &&
            (cur.stage == 0 || e.t > cur.reachedAt))
          cur = FunnelState(cur.stage + 1, e.t)
      }
      st.update(cur)
      Iterator(FunnelStage(key, cur.stage))
    }
  }

  /** Per-user funnel stages over a stream — emits each key's deepest
    * stage once per micro-batch that touches it.
    */
  def funnelStages(events: org.apache.spark.sql.Dataset[TypedEvent],
      steps: Seq[String]): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(steps),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Streaming twin of `Warehouse.scd2Build` — the CDC shape: each
    * key's OPEN run is a ValueState; when an event changes the tracked
    * attribute the closed run `[from, to)` is appended downstream with
    * its version number, and the new run opens in state. Events equal
    * to the open run's value extend it silently, exactly like the
    * batch run-collapse. Agreement with the batch builder's closed
    * rows is asserted in `ScaleOpsSpec`.
    */
  class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, Scd2Closed] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    @transient private var open: ValueState[Scd2State] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[Scd2State]("scd2open",
        org.apache.spark.sql.Encoders.product[Scd2State], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timers: TimerValues): Iterator[Scd2Closed] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
      var cur = if (open.exists()) Option(open.get()) else None
      rows.toSeq.sortBy(e => (e.t, e.event_id)).foreach { e =>
        cur match {
          case None => cur = Some(Scd2State(e.event_type, e.t, 1))
          case Some(run) if run.attr != e.event_type =>
            out += Scd2Closed(key, run.attr, run.version, run.from, e.t)
            cur = Some(Scd2State(e.event_type, e.t, run.version + 1))
          case _ => () // same value: the open run extends
        }
      }
      cur.foreach(open.update)
      out.iterator
    }
  }

  /** Streaming SCD2 closed-run feed per user. */
  def scd2Stream(events: org.apache.spark.sql.Dataset[TypedEvent]): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Per-user running value totals via `transformWithState`. */
  def runningTotals(events: org.apache.spark.sql.Dataset[UserEvent]): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Stream-stream event-time interval join (attribution): each right
    * event pairs with the same user's left events from the preceding
    * `within` interval. Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark can expire join
    * state — without the bound, stream-stream join state grows forever.
    * Batch twin (oracle-checked): `q_range_join`.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      within: String = "15 minutes", lateness: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = clicks.withWatermark("ts", lateness)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val r = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("r_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr(s"INTERVAL $within"),
      joinType)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** A8/I5 — exactly-once partitioned sink: each micro-batch stamps
    * (ds, win) from the window start and dynamic-partition-overwrites.
    * The partition key matches the EMISSION granularity: append-mode
    * watermarked aggs emit each closed window exactly once, so a
    * window is always written whole by exactly one batch — replaying
    * that batch rewrites the same (ds, win) partitions (idempotent),
    * while later batches' new windows land in fresh partitions instead
    * of overwriting the day. (Overwriting at bare-ds granularity, the
    * reference's truncate+append loop, is only safe when one batch
    * carries a whole day — its daily-driver assumption, not true of a
    * streaming window feed.)
    */
  def partitionedSink(agg: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // No `isEmpty` guard: it would run the stateful plan (and its
        // state-store commit) once more just to probe. A batch that
        // closes no window writes no file and no partition anyway.
        val stamped = batch
          .withColumn("ds", Scalars.dsOf(col("window_start")))
          .withColumn("win", date_format(col("window_start"), "HHmm"))
        PartitionedWriter.writePartitionedBy(stamped, path, Seq("ds", "win"), compact = false)
      }

  /** Streaming data-contract router: every micro-batch splits into a
    * clean sink and a labeled quarantine ([[graft.ops.Expectations]]),
    * both landed `batch=<id>` dynamic-overwrite so replays are
    * idempotent. `Trigger.AvailableNow` is the operational mode for
    * catch-up runs: drain the whole backlog in rate-limited batches,
    * then STOP — the batch-job-over-a-stream-source shape (a cron'd
    * ingest at 100 TB is exactly this, not a always-on cluster).
    */
  def expectationsRouter(rows: DataFrame, rules: Seq[graft.ops.Expectations.Rule],
      cleanPath: String, quarantinePath: String, checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.cache() // one source scan feeds both routes
          val (clean, quar) = graft.ops.Expectations.split(b, rules)
          clean.withColumn("batch", lit(batchId))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch").parquet(cleanPath)
          quar.withColumn("batch", lit(batchId))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch").parquet(quarantinePath)
          b.unpersist()
          ()
        }
      }

  /** Continuous corpus ingestion with INCREMENTAL near-dup dedup — the
    * streaming form of the production corpus pipeline: each micro-batch
    * is deduped within itself (exact digest, then per-band-bucket
    * REPRESENTATIVES: every doc that is not its bucket's min id drops
    * — the standard MinHashLSH ingest policy, zero iterations) and
    * against the persisted signature index of everything already
    * accepted ([[graft.ops.Dedup.incrementalNewDocsVsBands]]), then
    * accepted docs land under `batch=<id>` (dynamic-overwrite —
    * replays of a failed batch are idempotent on output) and their band
    * rows append to the index. The index append is at-least-once on
    * replay, which is safe: duplicate (band, bucket) rows can only
    * REJECT more, never accept a duplicate. Work per batch scales with
    * the batch; the corpus is only ever touched through its band frame.
    *
    * Policy note: transitive near-dup CHAINS that never share a bucket
    * are deliberately not merged in-batch (that would need the
    * iterative [[graft.ops.Dedup.connectedComponents]] road the batch
    * `dedupClusters` queries prove) — a kept doc attested similar only
    * via an unattested chain is retained, and any later doc colliding
    * with EITHER survivor is still rejected by the index.
    */
  def corpusIngest(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, seeds: Int = 8): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          import graft.ops.Dedup
          val spark = batch.sparkSession
          // Optional stage-wall split (VERDICT r9 item 6): set
          // GRAFT_INGEST_PROF=1 to force+time each stage boundary.
          // Zero-cost when unset — the frames stay lazy and collapse
          // into the two terminal writes exactly as before.
          val prof = sys.env.contains("GRAFT_INGEST_PROF")
          var lastT = System.nanoTime()
          def lap(name: String, force: => Long): Unit = if (prof) {
            val n = force
            val now = System.nanoTime()
            System.err.println(
              f"[ingest] batch$batchId $name%-18s ${(now - lastT) / 1e9}%6.2f s (n=$n)")
            lastT = now
          }
          // intra-batch: exact dedup then LSH clusters, keep min id
          val exact = Dedup.exactByHash(batch, "text", "doc_id")
            .select(col("keep_id").as("doc_id")).join(batch, Seq("doc_id"))
          lap("exact_dedup", exact.count())
          val sig = Dedup.minhashSignature(exact, "text", "doc_id", seeds).cache()
          lap("minhash_sig", sig.count())
          // non-hub in any (band, bucket) -> drop; edges' id_a IS that set
          val clusterDrops = Dedup.minhashClusterEdges(sig, "doc_id", seeds, 1)
            .select(col("id_a").as("doc_id")).distinct()
          val batchClean = sig.join(clusterDrops, Seq("doc_id"), "left_anti")
          lap("lsh_intra", batchClean.count())
          // vs the persisted index of everything already accepted
          val indexExists = new java.io.File(indexPath).exists()
          val accepted =
            if (indexExists)
              Dedup.incrementalNewDocsVsBands(batchClean,
                spark.read.parquet(indexPath), "doc_id", seeds, 1)
            else batchClean.select(col("doc_id"))
          lap("index_probe", accepted.count())
          // accepted ids ⊆ exact keep ids ⊆ batch ids and the payload is
          // the batch row either way, so join the BATCH, not `exact` —
          // re-deriving exact here re-ran its content-hash shuffle +
          // self-join inside the output write (measured as a full extra
          // pass per micro-batch at sf10)
          accepted.join(batch, Seq("doc_id"))
            .withColumn("batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch").parquet(outPath)
          lap("land_output", -1L)
          Dedup.writeSignatureIndex(
            batchClean.join(accepted.select("doc_id"), Seq("doc_id"), "left_semi"),
            "doc_id", seeds, 1, indexPath, append = indexExists)
          lap("index_append", -1L)
          sig.unpersist()
          ()
        }
      }
}
