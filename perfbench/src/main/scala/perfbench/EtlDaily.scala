package perfbench

import graft.io.Sources
import graft.pipelines.{Enrich, MySqlIngest, XmlIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `etl_daily`: one simulated day of the reference's three drivers per
  * op, each landing ds-partitioned parquet in a scratch warehouse.
  * Every op reloads the same day, so the dynamic partition overwrite
  * keeps the work identical from op to op.
  */
final class EtlDaily(o: Opts) extends Workload {
  private val slices = o.int("xml_slices")
  private val priorDays = o.int("prior_days")
  private val truth = Json.readTree(s"${o.dir}/in/truth.json")
  private val ds = truth.get("ds").asText()
  // the UTC clocks of the WIB (+7 h) day `ds`
  private val dayStart = truth.get("day_start").asLong()
  private val dayEnd = dayStart + 86400L

  private val in = s"${o.dir}/in"
  private val wh = s"${o.dir}/warehouse"
  private val xmlOut = s"$wh/xml"
  private val mysqlOut = s"$wh/history"
  private val enrichOut = s"$wh/enriched"

  private val allowed = (0 until 6).map(i => s"APP$i")
  private val payloads: Map[String, String] = {
    val p = Json.readTree(s"$in/payloads.json")
    (0 until slices).map(i => s"req-$i" -> p.get(s"req-$i").asText()).toMap
  }
  private val expXmlRows = truth.get("xml_rows").asLong()
  private val expXmlTx = BigInt(truth.get("xml_tx").asText())
  private val expHistRows = truth.get("history_rows").asLong()
  private val expHistSum = BigInt(truth.get("history_sum").asText())
  private val expEnrichRows = truth.get("enriched_rows").asLong()
  private val expBps = BigInt(truth.get("bps_sum").asText())
  private val inputRows = truth.get("input_rows_per_op").asLong()
  private val inputBytes = truth.get("input_bytes_per_op").asLong()

  private var history: DataFrame = _
  private var remotes, hostsDf, items, allowlist: DataFrame = _

  def stage(spark: SparkSession): Unit = {
    import spark.implicits._
    history = spark.read.parquet(s"$in/history")
    // The dimensions are served the way the reference's JDBC dimension
    // tables are: as relations that report no size estimate. Parquet-
    // backed dimensions carry file-size statistics, and Enrich.run's
    // compaction then sizes its output from the product of the join
    // inputs' sizes, which at these dimension sizes requests ~2^20
    // output partitions (one op would run for many minutes).
    def dim(name: String) = {
      val df = spark.read.parquet(s"$in/$name.parquet")
      spark.createDataFrame(df.rdd, df.schema)
    }
    remotes = dim("remotes")
    hostsDf = dim("hosts")
    items = dim("items")
    allowlist = allowed.toDF("app_string")
  }

  private def oneDay(tracer: Tracer): Long = {
    val fetcher = new Sources.Fetcher {
      def fetch(req: String): String = tracer.span("io", "fetch")(payloads(req))
    }
    val requests = (0 until slices).map(s => s"req-$s")
    val source = (a: Long, b: Long) => tracer.span("io", "history_source") {
      history.filter(col("hour") === ((a - dayStart) / 3600).toInt && col("clock") >= a && col("clock") < b)
        .select("itemid", "clock", "value")
    }
    val nx = tracer.span("pipelines", "xml_ingest") {
      XmlIngest.run(history.sparkSession, fetcher, requests, allowlist, ds, xmlOut)
    }
    Check(nx == expXmlRows, s"xml_ingest landed $nx rows for ds=$ds, generator sent $expXmlRows")
    val nh = tracer.span("pipelines", "mysql_ingest") {
      MySqlIngest.run(history.sparkSession, source, dayStart, dayEnd, mysqlOut)
    }
    Check(nh == expHistRows * (1 + priorDays),
      s"mysql_ingest holds $nh rows, generator sent ${expHistRows * (1 + priorDays)}")
    val ne = tracer.span("pipelines", "enrich") {
      val fact = history.sparkSession.read.parquet(mysqlOut).withColumnRenamed("itemid", "item")
      Enrich.run(remotes, hostsDf, items, fact, ds, enrichOut)
    }
    Check(ne == expEnrichRows, s"enrich wrote $ne rows, expected $expEnrichRows")
    inputRows
  }

  def checkPass(spark: SparkSession, capture: PlanCapture): Seq[CheckResult] = {
    val off = new Tracer(spark, on = false)
    oneDay(off)
    val qes = capture.take()
    val parts = qes.map(_.partsWritten).sum
    Seq(CheckResult("forced_work", qes.count(_.filesWritten > 0) >= 3,
      s"${qes.count(_.filesWritten > 0)} parquet writes committed, $parts partitions"))
  }

  def timed(spark: SparkSession, tracer: Tracer): Timed = {
    val ops = Loop.closed(o.seconds, o.int("min_units"), o.int("warm_units"), tracer)(_ => ("day", () => oneDay(tracer)))
    val outBytes = Seq(xmlOut, mysqlOut, enrichOut).map(p => Files.dataBytes(s"$p/ds=$ds")).sum
    Loop.timedOf(ops, Map("out_bytes_per_op" -> outBytes,
      "out_bytes_per_in_byte" -> outBytes.toDouble / inputBytes))
  }

  def finalChecks(spark: SparkSession): Seq[CheckResult] = {
    def perDs(path: String) = spark.read.parquet(path).groupBy("ds").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val x = spark.read.parquet(xmlOut)
    val xtx = BigInt(x.agg(sum(col("transactions").cast("decimal(38,0)")))
      .head().getDecimal(0).toBigInteger)
    val h = spark.read.parquet(mysqlOut).filter(col("ds") === ds)
    val hs = BigInt(h.agg(sum(col("value").cast("decimal(38,0)"))).head().getDecimal(0).toBigInteger)
    val e = spark.read.parquet(enrichOut)
    val eRow = e.agg(sum(col("throughput_bps").cast("decimal(38,0)")),
      sum(when(col("throughput_bps") =!= coalesce(col("throughput_in"), lit(0.0)) +
        coalesce(col("throughput_out"), lit(0.0)), 1).otherwise(0))).head()
    val bps = BigInt(eRow.getDecimal(0).toBigInteger)
    Seq(
      CheckResult("xml_rows_per_ds", perDs(xmlOut) == Map(ds -> expXmlRows), s"${perDs(xmlOut)}"),
      CheckResult("xml_transactions_sum", xtx == expXmlTx, s"$xtx vs $expXmlTx"),
      CheckResult("history_rows_per_ds", perDs(mysqlOut).get(ds).contains(expHistRows) &&
        perDs(mysqlOut).size == 1 + priorDays, s"${perDs(mysqlOut)}"),
      CheckResult("history_value_sum", hs == expHistSum, s"$hs vs $expHistSum"),
      CheckResult("enriched_rows_per_ds", perDs(enrichOut) == Map(ds -> expEnrichRows), s"${perDs(enrichOut)}"),
      CheckResult("throughput_bps_sum", bps == expBps, s"$bps vs $expBps"),
      CheckResult("throughput_bps_is_in_plus_out", eRow.getLong(1) == 0L, s"${eRow.getLong(1)} rows differ"))
  }
}
