package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Streaming twins driven by MemoryStream: the same plans as the
  * batch-checked QTimeseries queries, under OutputMode + watermark.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def evs = Seq(
    Ev(1, Timestamp.valueOf("2024-01-01 00:01:00"), 1, "click", 1.0),
    Ev(2, Timestamp.valueOf("2024-01-01 00:02:00"), 1, "click", 2.0),
    Ev(3, Timestamp.valueOf("2024-01-01 00:06:00"), 2, "view", 3.0),
    Ev(2, Timestamp.valueOf("2024-01-01 00:02:00"), 1, "click", 2.0), // exact duplicate
    Ev(4, Timestamp.valueOf("2024-01-01 01:00:00"), 2, "view", 4.0)   // advances watermark
  )

  test("I1 streaming: tumbling agg over MemoryStream matches batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingAgg(mem.toDF()).writeStream
      .format("memory").queryName("tumbling_out").outputMode("complete").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .select($"window_start".cast("string"), $"event_type", $"n", $"total")
        .as[(String, String, Long, Double)].collect().toSet
      val batch = Streams.tumblingAgg(evs.toDF())
        .select($"window_start".cast("string"), $"event_type", $"n", $"total")
        .as[(String, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed.contains(("2024-01-01 00:00:00", "click", 3L, 5.0)))
    } finally q.stop()
  }

  test("J2 streaming: map-only IVF assignment routes arriving vectors, zero state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val centroids = Seq((0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)))
      .toDF("cluster_id", "centroid")
    // ivfAssign is stateless (inlined centroids, native l2sq kernel), so
    // the SAME operator runs on a stream: the ingest half of a
    // continuously maintained ANN index
    val assigned = graft.ops.Similarity.ivfAssign(
      mem.toDF().toDF("vec_id", "embedding"),
      "embedding", "vec_id", centroids, "centroid", "cluster_id")
    val q = assigned.writeStream.format("memory").queryName("ivf_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, Array(1f, 1f)), (2L, Array(9f, 9f)))
      q.processAllAvailable()
      mem.addData((3L, Array(6f, 6f))) // second batch: closer to (10,10)
      q.processAllAvailable()
      val got = spark.table("ivf_stream").select($"vec_id", $"cluster_id")
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
      // append mode, no watermark, no agg: the plan must carry NO state store
      assert(q.lastProgress.stateOperators.isEmpty,
        s"expected a stateless streaming plan: ${q.lastProgress}")
    } finally q.stop()
  }

  test("I5 streaming: dropDuplicatesWithinWatermark removes the replayed event") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(mem.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L, 4L)) // duplicate event_id=2 dropped
    } finally q.stop()
  }

  test("stream-static join: stream rows enrich against a batch dimension") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = mem.toDF().join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select($"event_id", $"tier").as[(Long, Option[String])].collect().toMap
      assert(got(1L).contains("gold") && got(3L).contains("silver"))
    } finally q.stop()
  }

  test("stream-stream interval join: purchase attributes to click within 15 min") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val q = Streams.attributionJoin(clicks.toDF(), buys.toDF()).writeStream
      .format("memory").queryName("attr_out").outputMode("append").start()
    try {
      clicks.addData(
        Ev(1, Timestamp.valueOf("2024-01-01 00:01:00"), 1, "click", 0.0),
        Ev(2, Timestamp.valueOf("2024-01-01 00:30:00"), 2, "click", 0.0))
      buys.addData(
        Ev(10, Timestamp.valueOf("2024-01-01 00:05:00"), 1, "purchase", 9.0), // 4 min after click 1
        Ev(11, Timestamp.valueOf("2024-01-01 00:50:00"), 2, "purchase", 9.0)) // 20 min after click 2
      q.processAllAvailable()
      // advance both watermarks so all joinable state resolves
      clicks.addData(Ev(3, Timestamp.valueOf("2024-01-01 02:00:00"), 9, "click", 0.0))
      buys.addData(Ev(12, Timestamp.valueOf("2024-01-01 02:00:00"), 9, "purchase", 0.0))
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .select($"click_id", $"purchase_id").as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 10L)))  // inside the 15-min bound
      assert(!got.contains((2L, 11L))) // outside the bound
    } finally q.stop()
  }

  test("checkpoint recovery: restarted sink query resumes without duplicating windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = tmpDir("stream_recover_out")
    val ckpt = tmpDir("stream_recover_ckpt")
    Seq(out, ckpt).foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    def start() = Streams.partitionedSink(Streams.tumblingAgg(mem.toDF()), out, ckpt).start()
    val q1 = start()
    mem.addData(evs: _*)
    q1.processAllAvailable()
    mem.addData(Ev(9, Timestamp.valueOf("2024-01-01 02:00:00"), 9, "view", 0.0))
    q1.processAllAvailable() // closes the 00:00/00:05/01:00 windows
    val afterFirst = spark.read.parquet(out).count()
    q1.stop()
    val q2 = start() // resumes from the checkpointed offsets + state
    try {
      mem.addData(Ev(10, Timestamp.valueOf("2024-01-01 05:00:00"), 9, "view", 0.0))
      q2.processAllAvailable() // closes the 02:00 window only
      val rows = spark.read.parquet(out)
        .select($"window_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSeq
      // exactly one new window landed; nothing replayed or duplicated
      assert(rows.length == afterFirst + 1, s"rows after restart: $rows")
      val keys = rows.map(r => (r._1, r._2))
      assert(keys.distinct.length == keys.length, s"duplicate windows: $rows")
    } finally q2.stop()
  }

  test("streaming corpus ingest: dedups within batch and against the growing index") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val mem = MemoryStream[(Long, String)]
    val idx = tmpDir("ingest_idx"); val out = tmpDir("ingest_out"); val ckpt = tmpDir("ingest_ckpt")
    Seq(idx, out, ckpt).foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    val q = Streams.corpusIngest(
      mem.toDF().toDF("doc_id", "text"), idx, out, ckpt).start()
    try {
      // batch 0: base, an exact in-batch dup of it, and an unrelated doc
      mem.addData((1L, base), (4L, base),
        (3L, "completely different words about spark query engines and column pruning"))
      q.processAllAvailable()
      // batch 1: exact dup of base, near-dup of base, and a novel doc
      mem.addData((5L, base), (6L, base.replace("today", "tonight")),
        (7L, "entirely novel content on partition pruning strategies and shuffle hygiene"))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select($"batch".cast("long"), $"doc_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(landed(0L) == Set(1L, 3L)) // in-batch exact dup 4 dropped
      assert(landed(1L) == Set(7L))     // 5 and 6 rejected by the index
    } finally q.stop()
  }

  test("A8/I5 streaming: foreachBatch sink lands ds-partitioned parquet exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = tmpDir("stream_sink_out")
    val ckpt = tmpDir("stream_sink_ckpt")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val q = Streams.partitionedSink(Streams.tumblingAgg(mem.toDF()), out, ckpt).start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      // watermark must pass the windows before append-mode emits them
      mem.addData(Ev(9, Timestamp.valueOf("2024-01-01 05:00:00"), 9, "click", 0.0))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
      assert(landed.columns.contains("ds"))
      val byDs = landed.groupBy($"ds").count().as[(String, Long)].collect().toMap
      assert(byDs.keySet == Set("20240101")) // all five evs are 2024-01-01
      // the closed 5-minute windows: 00:00 (2 rows incl. replayed dup), 00:05, 01:00
      assert(landed.select($"n").as[Long].collect().sum == 5L)
    } finally q.stop()
  }

  test("partitionedSink: a batch that closes no window writes no file and no partition") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = tmpDir("stream_quiet_out")
    val ckpt = tmpDir("stream_quiet_ckpt")
    Seq(out, ckpt).foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    def files =
      if (!new java.io.File(out).exists()) Set.empty[String]
      else org.apache.commons.io.FileUtils.listFiles(new java.io.File(out), null, true).asScala
        .map(_.getPath).filter(_.contains("part-")).toSet
    def partitions = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("ds="))
      .flatMap(d => d.listFiles().filter(_.getName.startsWith("win=")).map(w => s"${d.getName}/${w.getName}"))
      .toSet
    val q = Streams.partitionedSink(Streams.tumblingAgg(mem.toDF()), out, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      def batch(e: Ev*): Unit = {
        val before = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
        mem.addData(e: _*)
        q.processAllAvailable()
        assert(q.lastProgress.batchId > before, "no micro-batch ran")
      }
      // one open window, watermark short of its end: nothing closes
      batch(Ev(1, Timestamp.valueOf("2024-01-01 00:01:00"), 1, "click", 1.0),
        Ev(2, Timestamp.valueOf("2024-01-01 00:02:00"), 1, "click", 2.0))
      assert(files.isEmpty && partitions.isEmpty, s"quiet batch wrote $files")
      // the watermark passes 00:05: the 00:00 window lands
      batch(Ev(3, Timestamp.valueOf("2024-01-01 01:00:00"), 2, "view", 4.0))
      val (landedFiles, landedParts) = (files, partitions)
      assert(landedParts == Set("ds=20240101/win=0000") && landedFiles.nonEmpty)
      // the watermark moves again but closes no window
      batch(Ev(4, Timestamp.valueOf("2024-01-01 01:01:00"), 2, "view", 1.0))
      assert(files == landedFiles && partitions == landedParts)
    } finally q.stop()
  }

  test("AvailableNow expectations router: drains the backlog, splits sinks, then stops") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Expectations.Rule
    val mem = MemoryStream[Ev]
    val cleanDir = tmpDir("router_clean"); val quarDir = tmpDir("router_quar")
    val ckpt = tmpDir("router_ckpt")
    Seq(cleanDir, quarDir, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    mem.addData(evs: _*) // backlog BEFORE start — AvailableNow must drain it
    val rules = Seq(
      Rule("value_le_3", col("value") <= 3.0),
      Rule("known_type", col("event_type").isin("click", "view")))
    val q = Streams.expectationsRouter(mem.toDF(), rules, cleanDir, quarDir, ckpt).start()
    try {
      // AvailableNow terminates on its own once the backlog is drained
      assert(q.awaitTermination(60000), "AvailableNow query should stop by itself")
      val clean = spark.read.parquet(cleanDir)
      val quar = spark.read.parquet(quarDir)
      // evs: values 1,2,3 pass; value=4 breaks value_le_3; the replayed
      // duplicate (value=2) passes — streaming dedup is a separate stage
      assert(clean.count() == 4L)
      val labels = quar.select($"event_id", $"violations").as[(Long, String)].collect().toMap
      assert(labels == Map(4L -> "value_le_3"))
    } finally q.stop()
  }

  /** Last reported state-row total and the cumulative eviction count —
    * the metrics that turn "watermark bounds state" from a semantics
    * argument into a measured fact (VERDICT r6 item 4).
    */
  private def stateMetrics(q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(ps.nonEmpty, "expected a stateful streaming plan")
    (ps.last.stateOperators.map(_.numRowsTotal).sum,
      ps.map(_.stateOperators.map(_.numRowsRemoved).sum).sum)
  }

  test("state bound: watermark EVICTS dedup state (numRowsRemoved > 0, total = live keys)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(mem.toDF()).writeStream
      .format("memory").queryName("dedup_state_out").outputMode("append").start()
    try {
      mem.addData(evs: _*) // 4 distinct keys within 00:01-01:00
      q.processAllAvailable()
      // advance the watermark far past every earlier key, then run one
      // more batch: eviction applies on the batch AFTER the watermark
      // moves (it is computed at batch end)
      mem.addData(Ev(9, Timestamp.valueOf("2024-01-01 03:00:00"), 9, "click", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(10, Timestamp.valueOf("2024-01-01 03:01:00"), 9, "click", 0.0))
      q.processAllAvailable()
      val (total, removed) = stateMetrics(q)
      assert(removed >= 4L, s"watermark should evict the 4 early keys, removed=$removed")
      assert(total <= 2L, s"state must hold only keys inside the watermark, total=$total")
    } finally q.stop()
  }

  test("state bound: closed session windows leave the store (total = open sessions)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionAgg(mem.toDF()).writeStream
      .format("memory").queryName("session_state_out").outputMode("append").start()
    try {
      mem.addData(evs: _*) // sessions: user1 ×1, user2 ×2 (54-min gap)
      q.processAllAvailable()
      mem.addData(Ev(9, Timestamp.valueOf("2024-01-01 03:00:00"), 9, "click", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(10, Timestamp.valueOf("2024-01-01 03:01:00"), 9, "click", 0.0))
      q.processAllAvailable()
      val (total, removed) = stateMetrics(q)
      assert(removed >= 3L, s"3 closed sessions should leave the store, removed=$removed")
      assert(total <= 2L, s"only user 9's open session may remain, total=$total")
    } finally q.stop()
  }

  test("I3 streaming: session windows close once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionAgg(mem.toDF()).writeStream
      .format("memory").queryName("session_out").outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      mem.addData(Ev(9, Timestamp.valueOf("2024-01-01 03:00:00"), 9, "click", 0.0))
      q.processAllAvailable() // push watermark far past all sessions
      val got = spark.table("session_out")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 3L))) // user 1: three events within one 30-min gap session
    } finally q.stop()
  }
}
