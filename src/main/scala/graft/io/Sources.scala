package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source connectors — SURVEY.md §2.A (A1-A5).
  *
  * Schema rule (SURVEY §1.2): every schemaless edge (CSV, JDBC-free
  * demo, API payloads) takes an explicit StructType — the reference
  * relies on pandas/JDBC inference, which is a correctness hazard.
  */
object Sources {

  /** A1 — JDBC source with a hand-pushed subquery, the reference's
    * incremental-read idiom (`Ingestion Data (MySQL).py:156-169`): the
    * whole range predicate travels to the database as a `dbtable`
    * subquery, so only one hour of rows ever crosses the wire.
    *
    * `partitionColumn`/bounds split the read across executors — the
    * reference reads on a single connection (no partitionColumn), which
    * is the first thing that breaks at scale; callers should pass the
    * clock column + window bounds.
    */
  def jdbcPushdown(
      spark: SparkSession,
      url: String,
      subquery: String,
      user: String,
      password: String,
      driver: String = "com.mysql.cj.jdbc.Driver",
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"($subquery) AS pushed")
      .option("user", user)
      .option("password", password)
      .option("driver", driver)
    partitionColumn.fold(base) { case (c, lo, hi, n) =>
      base.option("partitionColumn", c)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", n)
    }.load()
  }

  /** A3 — CSV with explicit schema (no inference; header tolerated).
    * The reference reads its app-id allowlist this way via pandas
    * (`Ingestion Data (XML).py:41`).
    */
  def csvWithSchema(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** A3-robust — schema'd CSV read that QUARANTINES malformed rows
    * instead of failing the job or silently nulling fields: PERMISSIVE
    * mode routes each unparseable line whole into `_corrupt`, so a
    * 100 TB ingest survives the inevitable bad records and keeps them
    * auditable. The schema passed here should NOT include the corrupt
    * column; it is appended.
    */
  def csvQuarantine(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .csv(path)

  /** A2 — the HTTP XML-query fetch seam (`Ingestion Data
    * (XML).py:91-127`). The transport is injectable so the transform
    * pipeline is testable without a network and the fetch can later
    * become a parallel DataSource V2 without touching callers; the
    * reference hardwires a serial driver-side `requests.post` loop,
    * which caps ingest throughput at one slice per round-trip.
    */
  trait Fetcher { def fetch(requestBody: String): String }

  /** Parse CSV payloads (as returned by the XML-query API) into rows
    * using the given explicit schema, in ONE pass of Spark's CSV reader
    * over an in-memory dataset — same parser as file CSV, no pandas
    * staging. Each payload carries its own header; it is dropped here on
    * the driver the way the reader's `header` option drops it (every
    * line equal to the payload's first non-blank line). Reading with
    * that option instead runs one header probe per payload (a driver
    * action), so a day's Spark actions would grow with its payloads.
    */
  def csvPayloads(spark: SparkSession, payloads: Seq[String], schema: StructType): DataFrame = {
    import spark.implicits._
    val lines = payloads.flatMap { p =>
      val ls = p.split("\n").toSeq
      ls.find(_.trim.nonEmpty).fold(ls)(header => ls.filter(_ != header))
    }
    spark.read.schema(schema).csv(spark.createDataset(lines))
  }
}
