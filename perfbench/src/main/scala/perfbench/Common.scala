package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSON output through the Jackson that ships with Spark. */
object Json {
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case o: Option[_] => o.map(toJava).orNull
    case a: Array[_] => toJava(a.toSeq)
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[AnyRef]()
      s.foreach(x => j.add(toJava(x)))
      j
    case b: BigInt => b.toString
    case b: BigDecimal => b.toString
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x.asInstanceOf[AnyRef]
  }

  def write(path: String, v: Any): Unit =
    om.writerWithDefaultPrettyPrinter().writeValue(new File(path), toJava(v))

  def readTree(path: String): com.fasterxml.jackson.databind.JsonNode =
    om.readTree(new File(path))
}

/** Order statistics used for every reported timing. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Progress lines on stderr (run.py keeps them in the run's log). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s] $msg")
}

/** One measured operation of a workload. Failed ops carry no wall. */
final case class OpSample(name: String, wallS: Double, ok: Boolean,
    error: String = "", items: Long = 0L)

/** Raised when an op's output does not match what the generator knows. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)
}

/** Session construction, the way the tier-1 suite and Bench size it:
  * `local[n]` with n ≤ nproc and shuffle partitions = n, configured by
  * [[graft.GraftSession]]. Spill, warehouse and temp directories stay
  * inside the run directory.
  */
object Session {
  def build(cores: Int, base: String): SparkSession = {
    val s = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    graft.Tables.clear(s)
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** JIT/codegen warm-up that every workload pays once per session. */
  def warm(s: SparkSession): Unit =
    s.range(200000).selectExpr("sum(id)", "count(distinct id % 97)").collect()
}

/** Live heap, sampled at the start and the end of the timed phase: full
  * collections, with pauses for Spark's ContextCleaner to drop the blocks
  * of collected references, until the heap stops shrinking.
  */
final class HeapSampler {
  val samples = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def usedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def sample(): Unit = {
    var last = usedMb()
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 10) {
      Thread.sleep(50)
      val now = usedMb()
      shrinking = now < last - 1.0
      last = math.min(last, now)
      rounds += 1
    }
    samples += last
  }
  def peakMb: Double = if (samples.isEmpty) 0.0 else samples.max
}

object Files {
  def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** Bytes of the data files under a dataset path (hidden and marker
    * files excluded).
    */
  def dataBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else org.apache.commons.io.FileUtils.listFiles(f, null, true).toArray
      .map(_.asInstanceOf[File])
      .filter(x => !x.getName.startsWith(".") && !x.getName.startsWith("_"))
      .map(_.length()).sum
  }
}

object Sink {
  /** The harness's forcing sink: Spark's `noop` format executes the
    * whole plan (every projected expression) and discards the rows.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
