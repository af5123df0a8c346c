package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspection: which native kernels and interpreted lambdas a plan
  * carries, looking through adaptive stages, reused exchanges, cached
  * relations and subqueries.
  */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      // the input plan too: AQE may replace a branch that already ran
      // (an empty join side) in the final plan
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan, a.inputPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  private def flat(es: Seq[Expression]): Seq[Expression] = es.flatMap(_.collect { case x => x })

  /** `graft_*` for native kernels, `hof:<name>` for interpreted lambdas. */
  def kernelTags(es: Seq[Expression]): Set[String] = flat(es).collect {
    case e if e.getClass.getName.startsWith("graft.expressions.") => e.prettyName
    case h: HigherOrderFunction => "hof:" + h.prettyName
  }.toSet

  def physicalKernels(p: SparkPlan): Set[String] = kernelTags(nodes(p).flatMap(_.expressions))
  def hofNodes(p: SparkPlan): Int =
    flat(nodes(p).flatMap(_.expressions)).count(_.isInstanceOf[HigherOrderFunction])
  def logicalKernels(p: LogicalPlan): Set[String] =
    kernelTags(p.collectWithSubqueries { case n => n.expressions }.flatten)
}

/** What one executed query reported to the QueryExecutionListener. */
final case class QeInfo(func: String, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, kernels: Set[String], hofNodes: Int, filesWritten: Long,
    partsWritten: Long, bytesWritten: Long, jobCommitMs: Long, scanFilesRead: Long,
    scanFilesTotal: Long, error: String)

object QeInfo {
  def of(func: String, qe: QueryExecution, error: String): QeInfo = {
    val phases = qe.tracker.phases
    def ph(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan = qe.executedPlan
    val ns = Plans.nodes(plan)
    val writes = ns.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def wm(k: String) = writes.map(_.get(k).map(_.value).getOrElse(0L)).sum
    val scans = ns.collect {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty =>
        (f.metrics.get("numFiles").map(_.value).getOrElse(0L),
          f.relation.location.inputFiles.length.toLong)
    }
    QeInfo(func, ph("analysis"), ph("optimization"), ph("planning"),
      Plans.physicalKernels(plan), Plans.hofNodes(plan), wm("numFiles"), wm("numParts"),
      wm("numOutputBytes"), wm("jobCommitTime"), scans.map(_._1).sum, scans.map(_._2).sum, error)
  }
}

/** Collects every executed query's info until drained. */
final class QeCollector extends QueryExecutionListener {
  private val buf = ArrayBuffer.empty[QeInfo]
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val i = QeInfo.of(func, qe, "")
    buf.synchronized(buf += i)
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = {
    val i = try QeInfo.of(func, qe, e.getClass.getName)
      catch { case _: Throwable => QeInfo(func, 0, 0, 0, Set.empty, 0, 0, 0, 0, 0, 0, 0, e.getClass.getName) }
    buf.synchronized(buf += i)
  }
  def drain(): Seq[QeInfo] = buf.synchronized { val r = buf.toList; buf.clear(); r }
}

/** One completed stage with its task-level totals. */
final case class StageRec(submitMs: Long, endMs: Long, numTasks: Int, busyMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spillMem: Long,
    spillDisk: Long, bytesRead: Long, recordsRead: Long, bytesWritten: Long,
    taskMs: Seq[Long], failedTasks: Int)

/** Stage, task and job events from the scheduler. */
final class StageCollector extends SparkListener {
  private final class Acc {
    var busy, cpu, gc, shW, shR, spM, spD, inB, inR, outB = 0L
    var failed = 0
    val durs = ArrayBuffer.empty[Long]
  }
  private val open = scala.collection.mutable.Map.empty[(Int, Int), Acc]
  private val done = ArrayBuffer.empty[StageRec]
  private var jobs = 0
  private var groups = Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => groups += g)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = open.getOrElseUpdate((e.stageId, e.stageAttemptId), new Acc)
    a.durs += e.taskInfo.duration
    a.busy += e.taskInfo.duration
    if (!e.taskInfo.successful) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpu += m.executorCpuTime
      a.gc += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spM += m.memoryBytesSpilled
      a.spD += m.diskBytesSpilled
      a.inB += m.inputMetrics.bytesRead
      a.inR += m.inputMetrics.recordsRead
      a.outB += m.outputMetrics.bytesWritten
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = open.remove((i.stageId, i.attemptNumber())).getOrElse(new Acc)
    done += StageRec(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, a.busy, a.cpu, a.gc, a.shW, a.shR, a.spM, a.spD, a.inB, a.inR, a.outB,
      a.durs.toList, a.failed)
  }
  /** (stages completed, jobs started, job groups seen) since the last drain. */
  def drain(): (Seq[StageRec], Int, Set[String]) = synchronized {
    val r = (done.toList, jobs, groups)
    done.clear(); jobs = 0; groups = Set.empty
    r
  }
}

/** A span recorded by the benchmark around a call into one layer. */
final case class Span(name: String, layer: String, parent: Int, startMs: Long, endMs: Long)

/** Everything the traced run learned about one op. */
final case class OpTrace(op: Int, name: String, group: String, wallS: Double,
    spans: Seq[Span], stages: Seq[StageRec], jobs: Int, groups: Set[String],
    qes: Seq[QeInfo], codegenCompiles: Long, codegenMs: Double)

/** The traced run: spans at each layer boundary the benchmark crosses,
  * plus scheduler, query and codegen counters, kept in memory per op and
  * written out when the run ends. With `on = false` every call is a
  * pass-through and no listener is registered.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val stages = new StageCollector
  private val qes = new QeCollector
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  val ops = ArrayBuffer.empty[OpTrace]
  private val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  if (on) {
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(qes)
  }

  def close(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(stages)
    spark.listenerManager.unregister(qes)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.length
      spans += Span(name, layer, stack.headOption.getOrElse(-1), System.currentTimeMillis(), 0L)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endMs = System.currentTimeMillis())
      }
    }

  /** Runs one op under its own job group; in the traced run the op's
    * listener events are drained and filed under it afterwards.
    */
  def op[T](id: Int, name: String)(body: => T): (T, Double) = {
    val group = s"perfbench-op-$id"
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"perfbench $name", interruptOnCancel = false)
    val c0 = codegen.getCount
    val t0 = System.nanoTime()
    var wall = 0.0
    try {
      val r = span("op", name)(body)
      wall = (System.nanoTime() - t0) / 1e9
      (r, wall)
    } finally {
      sc.clearJobGroup()
      if (on) {
        org.apache.spark.PerfbenchBus.drain(sc)
        val (st, nJobs, groups) = stages.drain()
        val dc = codegen.getCount - c0
        ops += OpTrace(id, name, group, wall, spans.toList, st, nJobs, groups,
          qes.drain(), dc, dc * codegen.getSnapshot.getMean)
        spans.clear()
      }
    }
  }

  /** Drops events recorded outside any op (set-up, checks). */
  def discard(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    stages.drain(); qes.drain(); spans.clear()
  }
}

/** Captures executed plans during the untimed check pass, so the
  * forced-work assertion sees what the harness's sink really ran.
  */
final class PlanCapture(spark: SparkSession) {
  private val qes = new QeCollector
  spark.listenerManager.register(qes)
  def take(): Seq[QeInfo] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    qes.drain()
  }
  def close(): Unit = spark.listenerManager.unregister(qes)
}
