package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_sweep`: a fixed set of catalogue queries over seeded
  * sf0.01-shaped tables, each op one query forced to the `noop` sink,
  * in whole passes whose order the seed shuffles. The oracle compare of
  * the check-pass outputs runs in run.py (DuckDB).
  */
final class QuerySweep(o: Opts) extends Workload {
  private val sf = s"${o.dir}/in/sf"
  private val checkDir = s"${o.dir}/check"
  private val names: Seq[String] = {
    val q = o.wcfg.get("queries")
    (0 until q.size()).map(q.get(_).asText())
  }
  private val rng = new scala.util.Random(o.seed)
  private val walls = scala.collection.mutable.Map.empty[String, List[Double]]

  def stage(spark: SparkSession): Unit = {
    SparkEntry.stages.filter { case (n, _) => names.contains(n) }.foreach { case (_, fn) => fn(spark, sf) }
    val t = Tables(spark, sf)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem, t.events,
      t.documents, t.embeddings).foreach(_.schema)
  }

  def checkPass(spark: SparkSession, capture: PlanCapture): Seq[CheckResult] = {
    Files.rm(checkDir)
    val checks = names.sorted.flatMap { n =>
      try {
        capture.take()
        val df = SparkEntry.queries(n)(spark, sf)
        val asked = Plans.logicalKernels(df.queryExecution.analyzed)
        // one execution serves both checks: the parquet sink forces the
        // same projection the timed noop sink does
        df.write.mode("overwrite").parquet(s"$checkDir/$n")
        val ran = capture.take().flatMap(_.kernels).toSet
        val evidence =
          if (n == "q_doc_fingerprint") {
            val counted = Plans.physicalKernels(df.groupBy().count().queryExecution.executedPlan)
            // the sink ran the lambda the query asks for; count() drops it
            val pruned = asked.nonEmpty && asked.subsetOf(ran) && asked.intersect(counted).isEmpty
            Seq(CheckResult(s"count_prunes:$n", pruned,
              s"count() plan keeps [${counted.toSeq.sorted.mkString(",")}], sink plan keeps [${ran.toSeq.sorted.mkString(",")}]"))
          } else Nil
        CheckResult(s"forced_work:$n", asked.subsetOf(ran),
          s"asked [${asked.toSeq.sorted.mkString(",")}] ran [${ran.toSeq.sorted.mkString(",")}]") +: evidence
      } catch {
        case e: Throwable => Seq(CheckResult(s"query:$n", false, s"${e.getClass.getName}: ${e.getMessage}".take(300)))
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"$checkDir/oracle_sql.json", oracle)
    checks
  }

  def timed(spark: SparkSession, tracer: Tracer): Timed = {
    var order: Seq[String] = Nil
    val ops = Loop.closed(o.seconds, o.int("min_units"), o.int("warm_units"), tracer, unit = names.length) { i =>
      if (i % names.length == 0) order = rng.shuffle(names)
      val n = order(i % names.length)
      (n, () => {
        val df = tracer.span("queries", n)(SparkEntry.queries(n)(spark, sf))
        tracer.span("io", "noop_sink")(Sink.noop(df))
        1L
      })
    }
    ops.filter(_.ok).foreach(s => walls(s.name) = s.wallS :: walls.getOrElse(s.name, Nil))
    Loop.timedOf(ops, Map("passes" -> ops.length / names.length,
      "per_query_median_s" -> walls.map { case (k, v) => k -> Stats.median(v) }))
  }

  def finalChecks(spark: SparkSession): Seq[CheckResult] = Nil

  override def layerExtras(spark: SparkSession): Map[String, Double] =
    Kernels.rates(Tables(spark, sf).documents.select("text"), o.config.get("kernel_rates"))
}

object Kernels {
  /** rows/s of each configured `graft_*` call over `text`, forced to
    * `noop`; median of three timed calls after one warm call.
    */
  def rates(text: DataFrame, cfg: com.fasterxml.jackson.databind.JsonNode): Map[String, Double] = {
    val rows = text.count().toDouble
    (0 until cfg.size()).map { i =>
      val k = cfg.get(i)
      val name = k.get("name").asText()
      val df = text.selectExpr(k.get("call").asText())
      Sink.noop(df)
      val walls = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); Sink.noop(df); (System.nanoTime() - t0) / 1e9
      }
      s"expressions.$name.rows_per_s" -> rows / Stats.median(walls)
    }.toMap
  }
}
