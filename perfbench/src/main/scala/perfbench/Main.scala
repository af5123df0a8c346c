package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM. run.py launches it and turns the raw
  * result it writes (`--out`) into the reported metrics.
  *
  *   --workload etl_daily|query_sweep|stream_ingest
  *   --seed N --seconds S --trace 0|1 --cores N --dir RUN_DIR
  *   --config perfbench/config.json --out RESULT.json
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val uptimeAtMain = ManagementFactory.getRuntimeMXBean.getUptime
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val cfg = Json.readTree(a("config"))
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("dir"), a("cores").toInt, cfg)
    val w: Workload = o.workload match {
      case "etl_daily" => new EtlDaily(o)
      case "query_sweep" => new QuerySweep(o)
      case "stream_ingest" => new StreamIngest(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def loadAvg() = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()

    // Set-up, repeated: session build, warm-up and the workload's
    // staging. The first, cold one is mostly JVM class loading and JIT
    // and is reported apart; `setup_s` is taken over the warm ones.
    var spark: SparkSession = null
    val allSetupS = (0 until cfg.get("setup_reps").asInt()).map { _ =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.build(o.cores, o.dir)
      Session.warm(spark)
      w.stage(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val (coldSetupS, setupS) = (allSetupS.head, allSetupS.tail)
    Log(s"setup done: $allSetupS")
    // The tracer listens from here on, so a streaming query started by
    // the check pass inherits its listeners; what the check pass records
    // is discarded.
    val tracer = new Tracer(spark, o.trace)
    val capture = new PlanCapture(spark)
    val c0 = System.nanoTime()
    val checkPass = w.checkPass(spark, capture)
    val checkPassS = (System.nanoTime() - c0) / 1e9
    capture.close()
    tracer.discard()
    Log(s"check pass done in $checkPassS s")
    val heap = new HeapSampler
    heap.sample()
    val timed = w.timed(spark, tracer)
    tracer.close()
    heap.sample()
    Log(s"timed phase done: ${timed.ops.length} ops")
    val finalChecks = w.finalChecks(spark)
    Log("final checks done")

    val (layers, selfMs) =
      if (!o.trace) (Map.empty[String, Double], Map.empty[String, Long])
      else {
        val stream = w match { case s: StreamIngest => Some(s); case _ => None }
        val perOp = stream.map(_ => timed.diagnostics("batches").toString.toDouble)
          .getOrElse(tracer.ops.length.toDouble)
        val traced = timed.ops.filter(_.ok).map(_.wallS)
        val m = Layers.metrics(tracer.ops.toSeq, o.cores, perOp) ++
          stream.map(_.streamingLayer()).getOrElse(Map.empty) ++
          w.layerExtras(spark) ++
          Map("trace.op_p50_s" -> (if (traced.isEmpty) 0.0 else Stats.median(traced)))
        val self = tracer.ops.map(Layers.selfTimes).foldLeft(Map.empty[String, Long]) { (acc, x) =>
          x.foldLeft(acc) { case (a2, (k, v)) => a2.updated(k, a2.getOrElse(k, 0L) + v) }
        }
        (m, self)
      }
    val opWallMs = tracer.ops.map(_.spans.headOption.map(s => s.endMs - s.startMs).getOrElse(0L)).sum

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver") }
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cores" -> o.cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg(),
      "jvm" -> Map("version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "args" -> scala.jdk.CollectionConverters.ListHasAsScala(
          ManagementFactory.getRuntimeMXBean.getInputArguments).asScala.toList),
      "spark" -> Map("version" -> spark.version, "conf" -> conf),
      "jvm_uptime_at_main_ms" -> uptimeAtMain, "main_s" -> (System.nanoTime() - mainStart) / 1e9,
      "cold_setup_s" -> coldSetupS, "setup_s" -> setupS, "check_pass_s" -> checkPassS,
      "checks" -> (checkPass ++ finalChecks).map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "ops" -> timed.ops.map(s => Map("name" -> s.name, "wall_s" -> s.wallS, "ok" -> s.ok,
        "error" -> s.error, "items" -> s.items)),
      "items" -> timed.items, "busy_s" -> timed.busyS,
      "peak_heap_mb" -> heap.peakMb, "heap_samples_mb" -> heap.samples.toList,
      "diagnostics" -> timed.diagnostics,
      "layers" -> layers, "self_time_ms" -> selfMs, "traced_op_wall_ms" -> opWallMs,
      "traced_ops" -> tracer.ops.map(t => Map("op" -> t.op, "name" -> t.name, "job_group" -> t.group,
        "groups_seen" -> t.groups, "wall_s" -> t.wallS, "jobs" -> t.jobs, "stages" -> t.stages.length,
        "self_time_ms" -> Layers.selfTimes(t),
        "spans" -> t.spans.map(x => Map("name" -> x.name, "layer" -> x.layer, "parent" -> x.parent,
          "start_ms" -> x.startMs, "end_ms" -> x.endMs)))))
    Json.write(a("out"), result)
    // Nothing is left to flush: halt instead of paying Spark's shutdown.
    Runtime.getRuntime.halt(0)
  }
}
