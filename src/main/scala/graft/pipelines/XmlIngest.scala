package graft.pipelines

import graft.io.{PartitionedWriter, Sources}
import graft.ops.Scalars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Re-expression of the reference's XML/HTTP ingestion driver
  * (`Ingestion Data (XML).py:32-167`), as a pure function pipeline:
  *
  *   fetch (injectable) -> one CSV parse of all payloads w/ explicit
  *   schema -> allowlist semi-join -> conform (parse time, +7 h WIB
  *   shift, date parts, ds stamp) -> ds-partitioned parquet write
  *
  * Intended semantics per SURVEY §0.1 (the reference's published code
  * has typo'd column names `transaksi`/`trhoughput` and an overwritten
  * `waktu`): the six requested columns are `aplikasi, titik,
  * transactions, delay, throughput, waktu` plus derived ds/date parts.
  *
  * Scale: the reference fetches serially on the driver; here the fetch
  * is behind [[Sources.Fetcher]], so slices can fan out (one task per
  * slice via a slice table) without touching conform/write. The
  * payloads of a day are parsed together (headers dropped on the
  * driver, [[Sources.csvPayloads]]), so the plan and the job count stay
  * the same at 6 slices or at the reference's 288.
  */
object XmlIngest {

  val responseSchema: StructType = StructType(Seq(
    StructField("aplikasi", StringType), StructField("titik", StringType),
    StructField("transactions", DoubleType), StructField("delay", DoubleType),
    StructField("throughput", DoubleType), StructField("waktu", StringType),
    StructField("appId_String", StringType)))

  /** Conform the parsed response rows: allowlist semi-join, then parse
    * time, +7 h WIB shift, date parts and ds stamp.
    */
  def conform(raw: DataFrame, allowlist: DataFrame, ds: String): DataFrame = {
    val allowed = raw.join(broadcast(allowlist),
      raw("appId_String") === allowlist("app_string"), "left_semi")
    // `waktu` arrives as ISO text here (the reference's ctime-like
    // `E MMM d HH:mm:ss z yyyy` needs the legacy parser on Spark 4 —
    // SURVEY §7.5/1; the parse seam is this one to_timestamp call).
    val stamped = allowed
      .withColumn("waktu_ts", Scalars.shiftToWib(to_timestamp(col("waktu"), "yyyy-MM-dd HH:mm:ss")))
      .withColumn("waktu", date_format(col("waktu_ts"), "dd-MM-yyyy HH:mm:ss"))
      .withColumn("ds", lit(ds))
    Scalars.datePartsOfDmy(col("waktu"))
      .foldLeft(stamped) { case (df, (name, c)) => df.withColumn(name, c) }
      .select("aplikasi", "titik", "transactions", "delay", "throughput",
        "waktu", "waktu_string", "tahun", "bulan", "tanggal", "jam", "menit", "ds")
  }

  /** Full slice loop: fetch every request, parse all payloads in one CSV
    * pass, conform once over the union, write once, and return the rows
    * the write landed (observed on the write; the output is not
    * re-read). One write per batch of slices (the reference wrote per
    * 5-min slice: 288 tiny writes/day; batching is the first 100 TB
    * fix), and a fixed number of Spark jobs whatever the slice count.
    */
  def run(spark: SparkSession, fetcher: Sources.Fetcher, requests: Seq[String],
      allowlist: DataFrame, ds: String, outPath: String): Long =
    if (requests.isEmpty) 0L
    else {
      val raw = Sources.csvPayloads(spark, requests.map(fetcher.fetch), responseSchema)
      PartitionedWriter.writePartitionedCounted(conform(raw, allowlist, ds), outPath)
    }
}
