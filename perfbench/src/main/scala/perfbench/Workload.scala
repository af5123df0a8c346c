package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class CheckResult(name: String, ok: Boolean, detail: String)

/** What the timed phase produced. `items` is the input the ops consumed
  * (rows, docs or queries); `busyS` the time the program took for it:
  * the summed op walls, or for a stream the time until it had delivered
  * them.
  */
final case class Timed(ops: Seq[OpSample], items: Long, busyS: Double,
    diagnostics: Map[String, Any] = Map.empty)

/** Run-wide options. `dir` is this run's scratch directory. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dir: String, cores: Int, config: com.fasterxml.jackson.databind.JsonNode) {
  def wcfg: com.fasterxml.jackson.databind.JsonNode = config.get("workloads").get(workload)
  def int(k: String): Int = wcfg.get(k).asInt()
  def dbl(k: String): Double = wcfg.get(k).asDouble()
}

/** One benchmark workload. Its inputs, and in `in/truth.json` the values
  * its checks expect, are generated from the seed before the JVM starts
  * (gen.py). The runner calls, in order: set-up (session, warm-up,
  * `stage`) several times, `checkPass` (untimed op with plan capture),
  * `timed`, `finalChecks`, and in the traced run `layerExtras`.
  */
trait Workload {
  def stage(spark: SparkSession): Unit
  def checkPass(spark: SparkSession, capture: PlanCapture): Seq[CheckResult]
  def timed(spark: SparkSession, tracer: Tracer): Timed
  def finalChecks(spark: SparkSession): Seq[CheckResult]
  def layerExtras(spark: SparkSession): Map[String, Double] = Map.empty
}

object Loop {
  /** Closed loop, one client: the next op starts when the previous one
    * returns. First `warmUnits` whole units of the same ops run untimed,
    * so the timed ops start where the JIT has mostly settled (op walls
    * fall by a third over a run's first few ops). Then ops are taken in
    * whole units of `unit` (a query-set pass) until `seconds` have
    * elapsed and at least `minUnits` units ran, so a slow host does not
    * change how many ops a median is taken over. A thrown op or failed
    * output check, warm-up ones included, is recorded by name and
    * exception class and carries no wall.
    */
  def closed(seconds: Double, minUnits: Int, warmUnits: Int, tracer: Tracer, unit: Int = 1)(
      mk: Int => (String, () => Long)): Seq[OpSample] = {
    def failed(name: String, e: Throwable) =
      OpSample(name, 0.0, ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(500))
    val out = ArrayBuffer.empty[OpSample]
    val warm = warmUnits * unit
    for (i <- 0 until warm) {
      val (name, body) = mk(i)
      try body() catch { case e: Throwable => out += failed(name, e) }
    }
    tracer.discard()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (System.nanoTime() < deadline || k % unit != 0 || k < minUnits * unit) {
      val i = warm + k
      val (name, body) = mk(i)
      out += (try {
        val (items, wall) = tracer.op(i, name)(body())
        OpSample(name, wall, ok = true, items = items)
      } catch {
        case e: Throwable => failed(name, e)
      })
      k += 1
    }
    out.toList
  }

  def timedOf(ops: Seq[OpSample], diagnostics: Map[String, Any] = Map.empty): Timed = {
    val ok = ops.filter(_.ok)
    Timed(ops, ok.map(_.items).sum, ok.map(_.wallS).sum, diagnostics)
  }
}
