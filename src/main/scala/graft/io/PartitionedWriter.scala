package graft.io

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ds-partitioned parquet sink — SURVEY.md §2.A (A6-A11), the
  * re-expression of the reference's `writeTable` utility
  * (`Ingestion Data (MySQL).py:33-65` / `Processing Data.py:33-65`).
  *
  * Differences from the reference, by design:
  *  - Idempotent re-ingest is dynamic partition overwrite, not
  *    `TRUNCATE TABLE ... PARTITION` + append (A8): one atomic writer
  *    call replaces exactly the partitions present in the frame.
  *  - Output sizing uses Catalyst's plan statistics instead of the
  *    write-a-10%-sample-and-stat-it dance (A10) — the reference's
  *    version silently never ran (undefined `pathf`, SURVEY §0.1/5).
  *  - AQE's coalescePartitions handles the shuffle side; this utility
  *    only fixes the final file count.
  */
object PartitionedWriter {

  val targetFileBytes: Long = 128L * 1024 * 1024 // 128 MiB, as the reference (SQL:44)

  /** A10 — size-adaptive compaction: repartition so output files land
    * near 128 MiB, estimated from the optimized plan's stats (parquet
    * row-count + size, filter selectivity applied by Catalyst).
    */
  /** Upper bound on compaction fan-out; 2^20 files of 128 MiB = 128 TiB,
    * beyond which a single write should be split anyway.
    */
  val maxOutputFiles: Int = 1 << 20

  def sizeAdaptive(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Sources without stats (e.g. in-memory datasets) report Catalyst's
    // "unknown" sentinel (defaultSizeInBytes = Long.MaxValue): naively
    // dividing it asks for billions of partitions. Leave such frames
    // as-is — AQE coalescing still right-sizes the shuffle side.
    if (bytes >= BigInt(Long.MaxValue) / 2) df
    else {
      val n = ((bytes + targetFileBytes - 1) / targetFileBytes).toInt
      df.repartition(math.min(math.max(1, n), maxOutputFiles))
    }
  }

  /** A6/A7/A8 — partitioned parquet write. `overwritePartitions=true`
    * gives the truncate-partition-then-append semantics (replace only
    * the ds values present in `df`); false appends.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCol: String = "ds",
      overwritePartitions: Boolean = true,
      compact: Boolean = true): Unit =
    writePartitionedBy(df, path, Seq(partitionCol), overwritePartitions, compact)

  /** How long [[writePartitionedCounted]] waits for its row count. */
  val rowCountTimeout: FiniteDuration = 60.seconds

  /** [[writePartitioned]] (dynamic overwrite, compacted) that returns
    * the number of rows written. The count is an `Observation` on the
    * written frame, so it rides the write's own job: nothing re-lists or
    * re-reads `path`. It arrives on the listener bus just after the
    * write returns; if it has not arrived within [[rowCountTimeout]],
    * this throws instead of guessing.
    */
  def writePartitionedCounted(df: DataFrame, path: String): Long = {
    val rows = Observation()
    write(df, path, Seq("ds"), overwritePartitions = true, compact = true, Some(rows))
    observedRows(rows, rowCountTimeout)
  }

  /** The `rows` metric of an observation; throws a `TimeoutException`
    * once `timeout` passes without it.
    */
  def observedRows(rows: Observation, timeout: FiniteDuration): Long =
    Await.result(rows.future, timeout).getAs[Long]("rows")

  /** Multi-column variant: the partition-key granularity must match
    * the unit a producer replays — dynamic overwrite replaces every
    * partition present in `df`, so a batch that carries only PART of a
    * partition's data silently erases the rest (see
    * [[graft.streaming.Streams.partitionedSink]], which sub-partitions
    * by window for exactly this reason).
    */
  def writePartitionedBy(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      overwritePartitions: Boolean = true,
      compact: Boolean = true): Unit =
    write(df, path, partitionCols, overwritePartitions, compact, None)

  private def write(df: DataFrame, path: String, partitionCols: Seq[String],
      overwritePartitions: Boolean, compact: Boolean, rows: Option[Observation]): Unit = {
    // Repartition BY the partition columns: each task owns a disjoint
    // set of partition values, so (a) writers parallelize across tasks
    // instead of one task fanning out every directory, and (b) each
    // partition ends up with one file per owning task, not one per
    // task — the two failure modes of naive partitioned writes at
    // scale. Task count is the max of the 128 MiB size target and the
    // cluster's parallelism.
    val out = if (compact) {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val sizeN =
        if (bytes >= BigInt(Long.MaxValue) / 2) 1
        else ((bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val n = math.min(math.max(sizeN, df.sparkSession.sparkContext.defaultParallelism),
        maxOutputFiles)
      df.repartition(n, partitionCols.map(col): _*)
    } else df
    val mode = if (overwritePartitions) SaveMode.Overwrite else SaveMode.Append
    // Per-write option, not the session conf: setting the session value
    // would turn every later plain overwrite in the session dynamic.
    // The count is observed above the repartition, in the write's own
    // stage: below it, AQE drops the observing stage from the final
    // plan once that stage comes back empty, and no count arrives.
    rows.fold(out)(o => out.observe(o, count(lit(1)).as("rows")))
      .write.mode(mode).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)
    // Dynamic partition overwrite commits per-partition directory and
    // does NOT leave the root _SUCCESS marker a static write does. The
    // staging gates ("is this dataset complete?") key on that marker —
    // without it every gated consumer silently RE-STAGED the dataset
    // on each run (the round-8 bench regression: IVF searches rebuilt
    // their index, the watermark demo rewrote its sink, inside every
    // timed body). Stamp it explicitly once the write has returned.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(out.sparkSession.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(root, "_SUCCESS"), true).close()
  }

  /** Row-level upsert (hand-rolled MERGE) on a partitioned parquet
    * dataset: for the partitions PRESENT in the batch, existing rows
    * whose key appears in the batch are replaced, other existing rows
    * survive, and new keys append — all in one dynamic-overwrite
    * rewrite of only the affected partitions. Untouched partitions are
    * never read or written. Contract: `keyCol` identifies a row within
    * its partition (a key that MOVES partitions leaves the old row in
    * the old partition — that is partition-level CDC's known limit;
    * full-table merges need a table format with a transaction log).
    */
  def upsertByKey(batch: DataFrame, path: String, keyCol: String,
      partitionCol: String = "ds"): Unit = {
    val spark = batch.sparkSession
    val parts = batch.select(partitionCol).distinct()
      .collect().map(_.get(0).toString) // driver-sized: partitions in ONE batch
    val existing =
      if (new java.io.File(path).exists())
        spark.read.parquet(path)
          .filter(col(partitionCol).isin(parts.toSeq: _*))
      else batch.limit(0)
    val survivors = existing.join(
      batch.select(col(keyCol), col(partitionCol)),
      Seq(keyCol, partitionCol), "left_anti")
    writePartitioned(survivors.unionByName(batch), path, partitionCol,
      overwritePartitions = true, compact = false)
  }

  /** A9 — high-watermark: max partition value of an existing dataset.
    * The reference's `SHOW PARTITIONS` + sort + collect
    * (`Ingestion Data (MySQL).py:23-31`) becomes a directory listing —
    * genuinely metadata-only: no parquet footer is opened, no job runs.
    * (A `read.parquet().agg(max(ds))` "metadata" query still lists and
    * schema-merges every file — 10+ s on a 2400-partition path.)
    */
  def maxPartition(spark: SparkSession, path: String, partitionCol: String = "ds"): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val prefix = s"$partitionCol="
      val vals = fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(s => s.getPath.getName.stripPrefix(prefix))
      if (vals.isEmpty) None else Some(vals.max)
    }
  }
}
