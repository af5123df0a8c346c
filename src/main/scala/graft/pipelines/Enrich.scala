package graft.pipelines

import graft.io.PartitionedWriter
import graft.ops.{Relational, Scalars}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Re-expression of the reference's daily enrichment + pivot driver
  * (`Processing Data.py:85-253`):
  *
  *   4-table join (fact ds-pruned, dims broadcast) -> regex/substring
  *   derivations -> single-pass in/out pivot -> throughput sum, WIB
  *   shift, date parts -> wide projection -> partitioned write
  *
  * Key plan differences vs the reference (SURVEY §3.3):
  *  - the pivot is one conditional aggregation
  *    ([[Relational.pivotSinglePass]]) — ONE pass over the enriched
  *    rows. The reference's temp-view self-join re-executes the whole
  *    4-table join per direction branch;
  *  - dims are broadcast, so the fact rows shuffle once for the pivot's
  *    group-by and once more for the write's compaction repartition
  *    ([[PartitionedWriter.writePartitionedCounted]]);
  *  - `d.ds = '<day>'` partition pruning still reaches the fact scan.
  */
object Enrich {

  /** The enrichment join + derivations (`Processing Data.py:154-183`).
    * Frames use the FIXTURES.md §2.4 schemas: remotes(a), hosts(b),
    * items(c), fact(d).
    */
  def enrich(remotes: DataFrame, hosts: DataFrame, items: DataFrame, fact: DataFrame,
      day: String): DataFrame = {
    val derived = items
      .withColumn("description", Scalars.extractParenthesized(col("name")))
      .withColumn("interface", Scalars.beforeFirst(col("name"), ":"))
      .withColumn("direction", Scalars.extractDirection(col("key_")))
    Relational.enrichJoin(
      fact.filter(col("ds") === day),
      Seq(
        (derived.filter(col("direction").isin("in", "out")), col("item") === derived("item_id")),
        (hosts, derived("host") === hosts("host_name")),
        (remotes, hosts("ip") === remotes("remote_ip"))))
      .withColumn("display_key", Scalars.dashConcat(col("tipe"), col("remote_ip"), col("remote")))
      .withColumn("waktu", date_format(
        date_trunc("minute", (col("clock") + 25200L).cast("timestamp")), "yyyy-MM-dd HH:mm:00"))
  }

  /** Single-pass pivot + final metrics (`Processing Data.py:190-237`). */
  def pivotAndDerive(enriched: DataFrame, day: String): DataFrame = {
    val keys = Seq("host_name", "description", "waktu", "remote", "kanca", "kanwil",
      "latitude", "longitude", "interface", "display_key")
    val pivoted = Relational.pivotSinglePass(enriched, keys, "direction", Seq("in", "out"),
        col("value").cast("double"), max)
      .withColumnRenamed("in", "throughput_in")
      .withColumnRenamed("out", "throughput_out")
    val derived = pivoted
      .withColumn("throughput_bps",
        coalesce(col("throughput_in"), lit(0.0)) + coalesce(col("throughput_out"), lit(0.0)))
      .withColumn("tanggal_bulan_tahun", substring(col("waktu"), 1, 10))
      .withColumn("jam", substring(col("waktu"), 12, 2))
      .withColumn("menit", substring(col("waktu"), 15, 2))
      .withColumn("ds", lit(day))
    derived.select((keys.map(col) ++ Seq(col("throughput_in"), col("throughput_out"),
      col("throughput_bps"), col("tanggal_bulan_tahun"), col("jam"), col("menit"), col("ds"))): _*)
  }

  /** Enrich + pivot `day` into `outPath`; returns the rows written,
    * observed on the write (the output is not re-read).
    */
  def run(remotes: DataFrame, hosts: DataFrame, items: DataFrame, fact: DataFrame,
      day: String, outPath: String): Long =
    PartitionedWriter.writePartitionedCounted(
      pivotAndDerive(enrich(remotes, hosts, items, fact, day), day), outPath)
}
