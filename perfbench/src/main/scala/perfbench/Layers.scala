package perfbench

/** Turns the traced run's per-op records into the per-layer metrics and
  * the per-layer self times.
  */
object Layers {
  type Iv = (Long, Long)

  private def merge(xs: Seq[Iv]): Seq[Iv] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  private def len(xs: Seq[Iv]): Long = merge(xs).map(x => x._2 - x._1).sum
  private def clip(xs: Seq[Iv], a: Long, b: Long): Seq[Iv] =
    xs.map { case (c, d) => (math.max(a, c), math.min(b, d)) }.filter(x => x._2 > x._1)

  /** Self time per layer of one op, in ms: each span's duration minus
    * what its child spans and the stages running inside it cover; stage
    * time not under a child span is the `ops` layer's. The parts sum to
    * the op span's duration.
    */
  def selfTimes(t: OpTrace): Map[String, Long] = {
    val stages = merge(t.stages.map(s => (s.submitMs, s.endMs)))
    val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    t.spans.zipWithIndex.foreach { case (s, i) =>
      val kids = clip(t.spans.filter(_.parent == i).map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
      val covered = len(kids ++ clip(stages, s.startMs, s.endMs))
      acc(s.layer) += (s.endMs - s.startMs) - covered
      acc("ops") += covered - len(kids)
    }
    acc.toMap
  }

  /** Share of the op wall during which no stage was running. */
  private def driverMs(t: OpTrace): Long = t.spans.headOption.map { root =>
    (root.endMs - root.startMs) - len(clip(t.stages.map(s => (s.submitMs, s.endMs)), root.startMs, root.endMs))
  }.getOrElse(0L)

  def metrics(ops: Seq[OpTrace], cores: Int, perOp: Double): Map[String, Double] = {
    val qes = ops.flatMap(_.qes)
    val st = ops.flatMap(_.stages)
    val n = math.max(perOp, 1.0)
    val wallMs = ops.map(_.wallS * 1000).sum
    def per(x: Double) = x / n
    def spanS(name: String) = {
      val xs = ops.map(_.spans.filter(_.name == name).map(s => (s.endMs - s.startMs) / 1000.0).sum)
        .filter(_ > 0)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val skews = ops.map { t =>
      val r = t.stages.filter(_.taskMs.length >= 2).map { s =>
        s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble)))
      }
      if (r.isEmpty) 1.0 else r.max
    }
    val queryBuild = ops.flatMap(_.spans.filter(_.layer == "queries").map(s => (s.endMs - s.startMs).toDouble))
    val parts = qes.map(_.partsWritten).sum
    val scanTotal = qes.map(_.scanFilesTotal).sum
    Map(
      "session.analysis_ms" -> per(qes.map(_.analysisMs).sum),
      "session.optimization_ms" -> per(qes.map(_.optimizationMs).sum),
      "session.planning_ms" -> per(qes.map(_.planningMs).sum),
      "session.codegen_compiles" -> per(ops.map(_.codegenCompiles).sum.toDouble),
      "session.codegen_ms" -> per(ops.map(_.codegenMs).sum),
      "session.jobs" -> per(ops.map(_.jobs).sum.toDouble),
      "session.driver_self_frac" -> (if (wallMs > 0) ops.map(driverMs).sum / wallMs else 0.0),
      "expressions.hof_nodes" -> per(qes.map(_.hofNodes).sum.toDouble),
      "ops.executor_busy_s" -> per(st.map(_.busyMs).sum / 1000.0),
      "ops.cpu_s" -> per(st.map(_.cpuNs).sum / 1e9),
      "ops.gc_s" -> per(st.map(_.gcMs).sum / 1000.0),
      "ops.core_util" -> (if (wallMs > 0) st.map(_.busyMs).sum / (wallMs * cores) else 0.0),
      "ops.shuffle_write_bytes" -> per(st.map(_.shuffleWrite).sum.toDouble),
      "ops.shuffle_read_bytes" -> per(st.map(_.shuffleRead).sum.toDouble),
      "ops.spill_mem_bytes" -> per(st.map(_.spillMem).sum.toDouble),
      "ops.spill_disk_bytes" -> per(st.map(_.spillDisk).sum.toDouble),
      "ops.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "ops.failed_tasks" -> st.map(_.failedTasks).sum.toDouble,
      "io.bytes_read" -> per(st.map(_.bytesRead).sum.toDouble),
      "io.records_read" -> per(st.map(_.recordsRead).sum.toDouble),
      "io.bytes_written" -> per(st.map(_.bytesWritten).sum.toDouble),
      "io.files_written" -> per(qes.map(_.filesWritten).sum.toDouble),
      "io.files_per_partition" -> (if (parts > 0) qes.map(_.filesWritten).sum.toDouble / parts else 0.0),
      "io.commit_ms" -> per(qes.map(_.jobCommitMs).sum.toDouble),
      "io.fact_files_scanned_frac" ->
        (if (scanTotal > 0) qes.map(_.scanFilesRead).sum.toDouble / scanTotal else 0.0),
      "pipelines.xml_ingest_s" -> spanS("xml_ingest"),
      "pipelines.mysql_ingest_s" -> spanS("mysql_ingest"),
      "pipelines.enrich_s" -> spanS("enrich"),
      "queries.build_ms" -> (if (queryBuild.isEmpty) 0.0 else Stats.median(queryBuild)))
  }
}
