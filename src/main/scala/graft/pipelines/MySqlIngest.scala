package graft.pipelines

import graft.io.PartitionedWriter
import graft.ops.Scalars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Re-expression of the reference's incremental MySQL ingestion driver
  * (`Ingestion Data (MySQL).py:85-188`):
  *
  *   watermark (max existing ds) -> hourly half-open clock windows ->
  *   source read with pushed-down range -> Decimal(20,0) counter cast
  *   -> ds derivation (+7 h WIB) -> idempotent partitioned write
  *
  * The source is a function `(loClock, hiClock) => DataFrame` — in
  * production `Sources.jdbcPushdown` with the subquery baked; in tests
  * a filtered fixture frame. Differences from the reference, by design:
  *  - no `count()` actions mid-loop (the reference re-reads the JDBC
  *    source three times per slice — SURVEY §3.1); an empty window
  *    simply contributes no rows to the one write;
  *  - day-rollover idempotence is dynamic partition overwrite, not
  *    TRUNCATE+append (A8);
  *  - all hourly slices for a day union into ONE write (the reference
  *    writes 24 times/day).
  */
object MySqlIngest {

  /** Conform one slice: uint64-safe value cast + WIB ds stamp
    * (`Ingestion Data (MySQL).py:171-173`).
    */
  def conform(slice: DataFrame): DataFrame =
    slice
      .withColumn("value", Scalars.asCounter(col("value")))
      .withColumn("ds", Scalars.dsOf((col("clock") + 25200L).cast("timestamp")))

  /** Ingest all hourly windows in [startClock, endClock). Returns the
    * row count of the WHOLE dataset at `outPath` after the write, every
    * ds partition included — not the rows this call landed. That total
    * is what an incremental run is checked against (earlier days plus
    * today), and the write alone does not know it, so `run` re-reads
    * the dataset once after its single write.
    */
  def run(spark: SparkSession,
      source: (Long, Long) => DataFrame,
      startClock: Long, endClock: Long,
      outPath: String): Long = {
    val hours = (startClock until endClock by 3600L).map(a => (a, math.min(a + 3600L, endClock)))
    val slices = hours.map { case (a, b) => conform(source(a, b)) }
    val all = slices.reduce(_ unionByName _)
    PartitionedWriter.writePartitioned(all, outPath)
    spark.read.parquet(outPath).count()
  }

  /** A9 — resume point for the next run: latest ingested partition. */
  def watermark(spark: SparkSession, outPath: String): Option[String] =
    try PartitionedWriter.maxPartition(spark, outPath)
    catch { case _: org.apache.spark.sql.AnalysisException => None } // first run: no table yet
}
