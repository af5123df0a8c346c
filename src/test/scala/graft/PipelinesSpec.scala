package graft

import graft.io.{PartitionedWriter, Sources}
import graft.pipelines.{Enrich, MySqlIngest, XmlIngest}
import org.apache.spark.sql.functions._

/** End-to-end pipeline tests over FIXTURES.md §2-shaped crafted data. */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("XmlIngest: fetch -> allowlist -> conform -> partitioned write") {
    val payload =
      """aplikasi,titik,transactions,delay,throughput,waktu,appId_String
        |appA,jakarta,100.0,1.5,2048.0,2024-01-01 20:30:00,A1
        |appB,bandung,50.0,2.5,1024.0,2024-01-01 20:35:00,B2
        |appC,medan,10.0,9.9,512.0,2024-01-01 20:40:00,ZZ""".stripMargin
    val fetcher = new Sources.Fetcher { def fetch(req: String): String = payload }
    val allow = Seq("A1", "B2").toDF("app_string")
    val out = tmpDir("xml_ingest")
    val n = XmlIngest.run(spark, fetcher, Seq("req1"), allow, "20240101", out)
    assert(n == 2) // ZZ filtered by the allowlist semi-join
    val row = spark.read.parquet(out).filter($"aplikasi" === "appA").head()
    assert(row.getAs[String]("waktu") == "02-01-2024 03:30:00") // +7h crosses midnight
    assert(row.getAs[String]("tahun") == "2024" && row.getAs[String]("jam") == "03")
    assert(row.getAs[String]("ds") == "20240101")
  }

  /** Spark jobs and SQL executions started from this thread while
    * `body` runs. An action over an in-memory dataset (such as the CSV
    * reader's header probe) runs on the driver without a job, so both
    * are counted. The listener shares the bus queue the write's row
    * count arrives on, so every start has reached it once a counted
    * write returns.
    */
  private def actionsOf[T](body: => T): (T, (Int, Int)) = {
    val group = s"actions-${java.util.UUID.randomUUID()}"
    val jobs, executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.jobGroupId.contains(group) => executions.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "actionsOf")
    try (body, (jobs.get(), executions.get()))
    finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("XmlIngest: one CSV pass — 288 payloads start as many actions as 2, headers never land") {
    val header = "aplikasi,titik,transactions,delay,throughput,waktu,appId_String"
    // 5-min slices of one day, each with its own header line; every
    // other payload repeats its header mid-body, as the reader's
    // `header` option would also drop
    def payload(i: Int): String = {
      val t = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(5L * i)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val rows = Seq(s"app$i,site$i,$i.0,1.0,2.0,$t,A1", s"app$i,site$i,1.0,1.0,2.0,$t,ZZ")
      (header +: (if (i % 2 == 0) rows :+ header else rows)).mkString("\n")
    }
    // the allowlist would admit a header row that reached the data
    val allow = Seq("A1", "appId_String").toDF("app_string")
    def ingest(n: Int) = {
      val fetcher = new Sources.Fetcher { def fetch(req: String): String = payload(req.toInt) }
      val out = tmpDir(s"xml_ingest_$n")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val (landed, actions) = actionsOf(
        XmlIngest.run(spark, fetcher, (0 until n).map(_.toString), allow, "20240101", out))
      (landed, actions, spark.read.parquet(out))
    }
    val (n2, actions2, _) = ingest(2)
    val (n288, actions288, out288) = ingest(288)
    assert(n2 == 2 && n288 == 288) // one allowlisted row per payload
    assert(out288.count() == 288)
    assert(out288.filter($"aplikasi" === "aplikasi" || $"transactions".isNull).count() == 0)
    assert(out288.agg(sum($"transactions")).head().getDouble(0) == (0 until 288).sum.toDouble)
    val parsed = Sources.csvPayloads(spark, (0 until 288).map(payload), XmlIngest.responseSchema)
    assert(parsed.count() == 2 * 288 && parsed.filter($"aplikasi" === "aplikasi").count() == 0)
    assert(actions288 == actions2,
      s"(jobs, SQL executions): $actions288 over 288 payloads, $actions2 over 2")
  }

  test("XmlIngest: an empty request list, or no allowlisted row, lands nothing and returns 0") {
    val none = new Sources.Fetcher { def fetch(req: String): String = fail("no fetch expected") }
    val out = tmpDir("xml_ingest_empty")
    assert(XmlIngest.run(spark, none, Nil, Seq("A1").toDF("app_string"), "20240101", out) == 0L)
    // the write's row count still arrives when the write lands no row
    val other = new Sources.Fetcher {
      def fetch(req: String): String =
        "aplikasi,titik,transactions,delay,throughput,waktu,appId_String\n" +
          "app,site,1.0,1.0,2.0,2024-01-01 00:00:00,ZZ"
    }
    assert(XmlIngest.run(spark, other, Seq("r0"), Seq("A1").toDF("app_string"), "20240101", out) == 0L)
  }

  test("writePartitionedCounted: a row count that never arrives throws within its bound") {
    import scala.concurrent.duration._
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException](
      PartitionedWriter.observedRows(org.apache.spark.sql.Observation(), 200.millis))
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
  }

  test("MySqlIngest: hourly slices, decimal cast, ds derivation, idempotent rerun") {
    val fixture = Seq(
      (1L, 1704100000L, BigDecimal("18446744073709551615")), // uint64 max survives
      (2L, 1704103600L, BigDecimal("42")),
      (3L, 1704107200L, BigDecimal("7"))
    ).toDF("itemid", "clock", "value")
    val source = (a: Long, b: Long) => fixture.filter($"clock" >= a && $"clock" < b)
    val out = tmpDir("mysql_ingest")
    val n1 = MySqlIngest.run(spark, source, 1704100000L, 1704110800L, out)
    val n2 = MySqlIngest.run(spark, source, 1704100000L, 1704110800L, out) // rerun: same result
    assert(n1 == 3 && n2 == 3)
    val vals = spark.read.parquet(out).select($"value".cast("string")).as[String].collect().toSet
    assert(vals.contains("18446744073709551615"))
    assert(MySqlIngest.watermark(spark, out).contains("20240101"))
  }

  test("MySqlIngest: watermark drives the next incremental window (no re-read, no dupes)") {
    // day 1 = 2024-01-01 WIB, day 2 = 2024-01-02 WIB (clock+7h governs ds)
    // WIB day 20240101 = UTC clocks [1704042000, 1704128400)
    val fixture = Seq(
      (1L, 1704100000L, BigDecimal(1)),  // 2024-01-01 WIB
      (2L, 1704110000L, BigDecimal(2)),  // 2024-01-01 WIB
      (3L, 1704186000L, BigDecimal(3))   // 2024-01-02 WIB
    ).toDF("itemid", "clock", "value")
    val source = (a: Long, b: Long) => fixture.filter($"clock" >= a && $"clock" < b)
    val out = tmpDir("mysql_resume")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    MySqlIngest.run(spark, source, 1704100000L, 1704114000L, out)
    assert(MySqlIngest.watermark(spark, out).contains("20240101"))
    // resume from the watermark boundary: only the unseen window reads
    MySqlIngest.run(spark, source, 1704114000L, 1704190000L, out)
    val ids = spark.read.parquet(out).select($"itemid").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L)) // complete, no duplicates
    assert(MySqlIngest.watermark(spark, out).contains("20240102"))
  }

  // Four hours from an hour boundary, three readings per hour, in an
  // hour-partitioned parquet table (the shape of a Zabbix `history`).
  private val hourBase = 1704099600L
  private lazy val hourDir = {
    val dir = tmpDir("mysql_hourly")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    (0 until 12).map(k => (k.toLong, hourBase + 1200L * k, BigDecimal(k), k / 3))
      .toDF("itemid", "clock", "value", "hour").write.partitionBy("hour").parquet(dir)
    dir
  }
  private def inHour(df: org.apache.spark.sql.DataFrame, a: Long, b: Long) =
    df.filter($"hour" === ((a - hourBase) / 3600).toInt && $"clock" >= a && $"clock" < b)
      .select("itemid", "clock", "value")
  private def fileScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("MySqlIngest: one scan for a shared hour-partitioned relation; per-hour relations still union") {
    val shared = spark.read.parquet(hourDir)
    val sharedSource = (a: Long, b: Long) => inHour(shared, a, b)
    // a new relation per hour, as a JDBC pushdown source makes
    val perHourSource = (a: Long, b: Long) => inHour(spark.read.parquet(hourDir), a, b)
    val end = hourBase + 3 * 3600L
    val unionOfHours = (hourBase until end by 3600L)
      .map(a => MySqlIngest.conform(sharedSource(a, a + 3600L))).reduce(_ unionByName _)
    val fused = MySqlIngest.hourly(sharedSource, hourBase, end).get
    val unioned = MySqlIngest.hourly(perHourSource, hourBase, end).get
    assert(fileScans(unionOfHours).size == 3 && fileScans(unioned).size == 3)
    // the OR of the hours still prunes the table's fourth hour
    assert(fileScans(fused).map(_.partitionFilters.nonEmpty) == Seq(true))
    val expected = sortedRows(unionOfHours)
    assert(expected.size == 9 && sortedRows(fused) == expected && sortedRows(unioned) == expected)
    assert(fused.schema == unionOfHours.schema)
  }

  test("MySqlIngest: a source that ignores its bounds lands each in-range row once") {
    val fixture = (-2 until 12).map(k => (k.toLong, hourBase + 1200L * k, BigDecimal(k)))
      .toDF("itemid", "clock", "value")
    val out = tmpDir("mysql_unbounded")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    assert(MySqlIngest.run(spark, (_, _) => fixture, hourBase, hourBase + 3 * 3600L, out) == 9)
    val ids = spark.read.parquet(out).select($"itemid").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 9L))
  }

  test("MySqlIngest: an empty range or an empty first run writes nothing and returns the table's count") {
    val fixture = Seq((1L, hourBase, BigDecimal(1))).toDF("itemid", "clock", "value")
    val source = (a: Long, b: Long) => fixture.filter($"clock" >= a && $"clock" < b)
    val out = tmpDir("mysql_empty")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    assert(MySqlIngest.run(spark, source, hourBase, hourBase, out) == 0L) // no table
    // first run whose windows hold no row
    assert(MySqlIngest.run(spark, source, hourBase + 3600L, hourBase + 7200L, out) == 0L)
    assert(MySqlIngest.run(spark, source, hourBase, hourBase + 3600L, out) == 1L)
    assert(MySqlIngest.run(spark, source, hourBase + 7200L, hourBase + 3600L, out) == 1L)
  }

  test("Enrich: the pivot is one aggregation exchange and equals groupBy().pivot()") {
    val keys = Seq("host_name", "description", "waktu", "remote", "kanca", "kanwil",
      "latitude", "longitude", "interface", "display_key")
    val enriched = Seq(
      ("both", "in", Some(1)), ("both", "in", Some(7)), ("both", "out", Some(2)),
      ("in_only", "in", Some(3)), ("out_only", "out", Some(4)),
      ("null_in", "in", None), ("null_in", "out", Some(5)), ("all_null", "out", None)
    ).toDF("host_name", "direction", "v").select(
      $"host_name", lit("WAN").as("description"), lit("2024-01-01 16:20:00").as("waktu"),
      lit("SiteA").as("remote"), lit("KancaX").as("kanca"), lit("KanwilY").as("kanwil"),
      lit(-6.2).as("latitude"), lit(106.8).as("longitude"), lit("eth0").as("interface"),
      $"host_name".as("display_key"), $"direction", $"v".cast("decimal(20,0)").as("value"))
    val got = Enrich.pivotAndDerive(enriched, "20240101")
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(got.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.size == 1, got.queryExecution.executedPlan.toString)
    val pivoted = enriched.groupBy(keys.map(col): _*)
      .pivot("direction", Seq("in", "out"))
      .agg(max(col("value").cast("double")))
      .select((keys.map(col) :+ $"in".as("throughput_in") :+ $"out".as("throughput_out")): _*)
    val mine = got.select((keys :+ "throughput_in" :+ "throughput_out").map(col): _*)
    assert(mine.schema.map(_.dataType) == pivoted.schema.map(_.dataType))
    assert(sortedRows(mine) == sortedRows(pivoted) && sortedRows(mine).size == 5)
    val byHost = got.collect().map(r => r.getAs[String]("host_name") ->
      (Option(r.getAs[java.lang.Double]("throughput_in")), Option(r.getAs[java.lang.Double]("throughput_out")))).toMap
    assert(byHost("both") == (Some(7.0), Some(2.0)) && byHost("null_in") == (None, Some(5.0)))
  }

  test("Enrich: 4-table join + regex derive + single-pass pivot (PROC semantics)") {
    val remotes = Seq(("10.0.0.1", "tipe", "KancaX", "KanwilY", "SiteA", -6.2, 106.8))
      .toDF("remote_ip", "tipe", "kanca", "kanwil", "remote", "latitude", "longitude")
    val hosts = Seq(("router1", "10.0.0.1")).toDF("host_name", "ip")
    val items = Seq(
      (101L, "eth0: uplink (WAN Link)", "net.if.in[eth0]", "router1"),
      (102L, "eth0: uplink (WAN Link)", "net.if.out[eth0]", "router1"),
      (103L, "cpu load", "system.cpu.load", "router1") // no direction -> dropped
    ).toDF("item_id", "name", "key_", "host")
    val fact = Seq(
      (101L, BigDecimal(1000), 1704100800L, "20240101"),
      (102L, BigDecimal(2000), 1704100800L, "20240101"),
      (103L, BigDecimal(50), 1704100800L, "20240101"),
      (101L, BigDecimal(9999), 1704100800L, "20231231") // wrong day -> pruned
    ).toDF("item", "value", "clock", "ds")

    val out = tmpDir("enrich")
    val n = Enrich.run(remotes, hosts, items, fact, "20240101", out)
    assert(n == 1) // in+out pivot onto one row
    assert(n == spark.read.parquet(out).filter($"ds" === "20240101").count())
    val row = spark.read.parquet(out).head()
    assert(row.getAs[String]("description") == "WAN Link")
    assert(row.getAs[String]("interface") == "eth0")
    assert(row.getAs[Double]("throughput_in") == 1000.0)
    assert(row.getAs[Double]("throughput_out") == 2000.0)
    assert(row.getAs[Double]("throughput_bps") == 3000.0)
    assert(row.getAs[String]("display_key") == "tipe - 10.0.0.1 - SiteA")
    assert(row.getAs[String]("jam") == "16") // 09:20 UTC + 7h = 16:20 WIB
  }

  test("PartitionedWriter: dynamic overwrite replaces only present partitions") {
    val out = tmpDir("writer_dynamic")
    val day1 = Seq((1, "20240101"), (2, "20240101"), (3, "20240102")).toDF("id", "ds")
    PartitionedWriter.writePartitioned(day1, out, compact = false)
    // rewrite day 2 only, with different content
    val day2v2 = Seq((99, "20240102")).toDF("id", "ds")
    PartitionedWriter.writePartitioned(day2v2, out, compact = false)
    val got = spark.read.parquet(out).select("id", "ds").as[(Int, String)].collect().toSet
    assert(got == Set((1, "20240101"), (2, "20240101"), (99, "20240102")))
    assert(PartitionedWriter.maxPartition(spark, out).contains("20240102"))
  }

  test("PartitionedWriter: dynamic overwrite is per write; the session conf stays as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    val out = tmpDir("writer_conf")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    PartitionedWriter.writePartitioned(
      Seq((1, "20240101"), (2, "20240102")).toDF("id", "ds"), out, compact = false)
    assert(spark.conf.get(key) == before)
    // a later plain overwrite in the same session still truncates
    Seq((9, "20240102")).toDF("id", "ds").write.mode("overwrite").partitionBy("ds").parquet(out)
    val got = spark.read.parquet(out).select("id", "ds").as[(Int, String)].collect().toSet
    assert(got == Set((9, "20240102")))
  }

  test("upsertByKey: replaces matched keys, keeps the rest, appends new, spares other partitions") {
    val out = tmpDir("upsert")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    PartitionedWriter.upsertByKey(
      Seq((1, "a", "d1"), (2, "b", "d1"), (9, "z", "d2")).toDF("id", "v", "ds"),
      out, "id")
    // second batch touches only d1: update key 2, add key 3
    PartitionedWriter.upsertByKey(
      Seq((2, "b2", "d1"), (3, "c", "d1")).toDF("id", "v", "ds"), out, "id")
    val got = spark.read.parquet(out).select($"id", $"v", $"ds")
      .as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "a", "d1"), (2, "b2", "d1"), (3, "c", "d1"), (9, "z", "d2")))
  }

  test("runAudited: observe counters ride the materializing action, stage counts consistent") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val (out, metrics) = graft.pipelines.CorpusClean.runAudited(docs)
    val emitted = out.count()
    val m = metrics()
    assert(m("emitted") == emitted, s"observed ${m("emitted")} != action count $emitted")
    assert(m("survivors") >= m("near_deduped"), s"dedup cannot add rows: $m")
    assert(m("near_deduped") >= m("emitted"), s"quality gate cannot add rows: $m")
    assert(m("survivors") <= docs.count())
    // the audited run changes nothing about the data itself
    assert(emitted == graft.pipelines.CorpusClean.run(docs).count())
  }

  test("csvQuarantine: malformed rows land whole in _corrupt, clean rows parse") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("csv-quarantine")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part.csv"),
      "id,qty\n1,10\nnot-a-number,oops,extra\n3,30\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("qty", IntegerType)))
    // Spark disallows querying ONLY the corrupt column off the raw
    // file (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache the parse first
    val got = graft.io.Sources.csvQuarantine(spark, dir, schema).cache()
    val clean = got.filter($"_corrupt".isNull).select($"id", $"qty")
      .as[(Int, Int)].collect().toSet
    val bad = got.filter($"_corrupt".isNotNull).select($"_corrupt").as[String].collect()
    assert(clean == Set((1, 10), (3, 30)))
    assert(bad.toSeq == Seq("not-a-number,oops,extra")) // audit trail, job survived
  }

  test("TrainingPrep.runV2: durable stage boundaries match localCheckpoint byte-for-byte") {
    // The reliability-grade 100 TB form (stage outputs persisted to
    // storage, restartable) must be a pure persistence swap — same
    // rows, same values, nothing about the composed result may depend
    // on WHERE the stage boundary lives.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    val dir = tmpDir("runv2-durable")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val local = graft.pipelines.TrainingPrep.runV2(docs)
      .collect().map(_.toString).sorted
    val durable = graft.pipelines.TrainingPrep.runV2(docs,
        stageDir = Some(dir))
      .collect().map(_.toString).sorted
    assert(local.length > 0 && local.sameElements(durable))
    // and the durable form really did persist all three stage frames
    (0 to 2).foreach { i =>
      assert(new java.io.File(s"$dir/stage$i/_SUCCESS").exists(), s"stage$i missing")
    }
  }
}
