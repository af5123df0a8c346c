package graft

import graft.ops.{Relational, Scalars}
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are assembled from per-area modules under
  * [[graft.queries]]; every operator in SURVEY.md §2 has one entry here,
  * and every entry that is SQL-expressible carries a DuckDB oracle.
  */
object SparkEntry {

  /** Flagship query: the reference's daily enrichment + pivot pipeline
    * (`Processing Data.py:154-237`) re-expressed on the TPC-H-ish star —
    * multi-way dimension join (C1), regex/substring derivations (D1-D4),
    * two-valued pivot via full-outer join USING (C2), +7 h WIB shift and
    * date parts (D4/D6/D9), wide final projection (B1), ds stamp (D12).
    * Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables(spark, "/root/testdata/sf0.001")

    // Dimension enrichment (PROC's a/b/c dims -> customer/nation/region).
    val enriched = Relational.enrichJoin(
      t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey")),
      Seq(
        (t.customer, col("o_custkey") === col("c_custkey")),
        (t.nation, col("c_nationkey") === col("n_nationkey")),
        (t.region, col("n_regionkey") === col("r_regionkey"))))
      .withColumn("priority_class", regexp_extract(col("o_orderpriority"), "^([0-9]+)-(.*)$", 2))
      .withColumn("direction", when(col("l_returnflag") === "R", lit("out")).otherwise(lit("in")))

    // Pivot in/out (PROC:190-207) — single row per (orderkey, nation).
    // Single-pass conditional aggregation: ONE shuffle, vs the
    // reference's full-outer self-join which re-executes the whole
    // enrichment per direction branch (SURVEY §3.3). The self-join form
    // itself is gate-checked by q_pivot_full_join.
    val pivoted = Relational.pivotSinglePass(
      enriched.select(col("o_orderkey"), col("n_name"), col("o_orderdate"),
        col("direction"), Scalars.dec(col("l_quantity")).as("qty")),
      Seq("o_orderkey", "n_name", "o_orderdate"), "direction", Seq("in", "out"), col("qty"), sum)
      .withColumnRenamed("in", "qty_in").withColumnRenamed("out", "qty_out")

    // Derived metrics + WIB timestamp columns (PROC:209-215).
    val stamped = pivoted
      .withColumn("qty_total", coalesce(col("qty_in"), lit(0)) + coalesce(col("qty_out"), lit(0)))
      .withColumn("waktu", date_format(Scalars.shiftToWib(col("o_orderdate")), "dd-MM-yyyy HH:mm:ss"))
      .withColumn("ds", Scalars.dsOf(col("o_orderdate")))
    val withParts = Scalars.datePartsOfDmy(col("waktu"))
      .foldLeft(stamped) { case (df, (name, c)) => df.withColumn(name, c) }

    withParts.select("o_orderkey", "n_name", "qty_in", "qty_out", "qty_total",
      "waktu", "waktu_string", "tahun", "bulan", "tanggal", "jam", "menit", "ds")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QRelational.queries ++ QAggregates.queries ++ QScalars.queries ++
      QTimeseries.queries ++ QIo.queries ++ QText.queries ++
      QSimilarity.queries ++ QMultimodal.queries ++ QAsOf.queries ++ QExtras.queries ++ QScale.queries ++ QSql.queries ++ QTpch.queries ++ QAnalytics.queries ++ QStreaming.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QRelational.oracles ++ QAggregates.oracles ++ QScalars.oracles ++
      QTimeseries.oracles ++ QIo.oracles ++ QText.oracles ++
      QSimilarity.oracles ++ QMultimodal.oracles ++ QAsOf.oracles ++ QExtras.oracles ++ QScale.oracles ++ QSql.oracles ++ QTpch.oracles ++ QAnalytics.oracles ++ QStreaming.oracles

  /** Untimed setup actions for queries that read staged/pre-built
    * data (sinks, manifests, ANN indexes): Bench/Verify run these once
    * BEFORE the query loop so those queries measure the read path, not
    * the one-time write it depends on. Keyed by query name.
    */
  def stages: Map[String, (SparkSession, String) => Unit] =
    QIo.stages ++ QScale.stages ++ QSimilarity.stages ++ QAnalytics.stages ++
      QText.stages ++ QStreaming.stages
}
