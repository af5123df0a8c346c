package graft.pipelines

import graft.io.PartitionedWriter
import graft.ops.{Relational, Scalars}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AliasHelper, And, Expression, NamedExpression, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Re-expression of the reference's incremental MySQL ingestion driver
  * (`Ingestion Data (MySQL).py:85-188`):
  *
  *   watermark (max existing ds) -> hourly half-open clock windows ->
  *   source read with pushed-down range -> Decimal(20,0) counter cast
  *   -> ds derivation (+7 h WIB) -> idempotent partitioned write
  *
  * The source is a function `(loClock, hiClock) => DataFrame` — in
  * production `Sources.jdbcPushdown` with the subquery baked; in tests
  * a filtered fixture frame. Differences from the reference, by design:
  *  - no `count()` actions mid-loop (the reference re-reads the JDBC
  *    source three times per slice — SURVEY §3.1); an empty window
  *    simply contributes no rows to the one write;
  *  - day-rollover idempotence is dynamic partition overwrite, not
  *    TRUNCATE+append (A8);
  *  - all hourly slices for a day land in ONE write (the reference
  *    writes 24 times/day), and slices over one shared relation are
  *    read by ONE scan ([[hourly]]).
  */
object MySqlIngest {

  /** Conform one slice: uint64-safe value cast + WIB ds stamp
    * (`Ingestion Data (MySQL).py:171-173`).
    */
  def conform(slice: DataFrame): DataFrame =
    slice
      .withColumn("value", Scalars.asCounter(col("value")))
      .withColumn("ds", Scalars.dsOf((col("clock") + 25200L).cast("timestamp")))

  /** The conformed rows of every hourly window in [startClock,
    * endClock), or None when the range holds no hour. `source` is
    * called once per hour and its slice is clipped to that hour on
    * `clock`, so a source that ignores its bounds still yields each row
    * once. The slices then go through [[fuseScans]]: an hour-partitioned
    * table read 24 times becomes one scan, while a JDBC pushdown source
    * (one relation per hour) still unions its slices. `conform` runs
    * once over the result.
    */
  def hourly(source: (Long, Long) => DataFrame,
      startClock: Long, endClock: Long): Option[DataFrame] = {
    val hours = (startClock until endClock by 3600L).map(a => (a, math.min(a + 3600L, endClock)))
    if (hours.isEmpty) None
    else Some(conform(fuseScans(hours.map { case (a, b) =>
      Relational.rangeScan(source(a, b), "clock", lit(a), lit(b))
    })))
  }

  /** Ingest all hourly windows in [startClock, endClock) in one write.
    * Returns the row count of the WHOLE dataset at `outPath` after the
    * write, every ds partition included — not the rows this call
    * landed. That total is what an incremental run is checked against
    * (earlier days plus today), and the write alone does not know it,
    * so `run` re-reads the dataset once, with the written frame's
    * schema: no footer is opened to infer one, and a first run whose
    * windows hold no row returns 0. An empty range writes nothing and
    * returns the existing dataset's count (0 when there is none).
    */
  def run(spark: SparkSession,
      source: (Long, Long) => DataFrame,
      startClock: Long, endClock: Long,
      outPath: String): Long =
    hourly(source, startClock, endClock) match {
      case Some(day) =>
        PartitionedWriter.writePartitioned(day, outPath)
        spark.read.schema(day.schema).parquet(outPath).count()
      case None => // no ds partition yet: nothing to count
        watermark(spark, outPath).fold(0L)(_ => spark.read.parquet(outPath).count())
    }

  /** One scan per relation. Each slice's analysed plan is collapsed to
    * `Project(fields, Filter(cond, leaf))` over its first node that is
    * not a deterministic Project or Filter; slices with the same leaf
    * and the same fields become that Project over `Filter(OR of their
    * conditions, leaf)`, and the groups union by name. Matching the
    * analysed plans costs no optimizer run per slice.
    *
    * Exact only for slices that select pairwise disjoint rows, as
    * clipped hourly windows do: UNION ALL keeps a row once per slice
    * that selects it, the OR keeps it once. Catalyst's `CombineUnions`
    * cannot assume that, so it keeps one scan per branch.
    */
  private[pipelines] def fuseScans(slices: Seq[DataFrame]): DataFrame = {
    val chains = slices.map(s => (s, Chain.of(s.queryExecution.analyzed)))
    val groups = chains.foldLeft(Vector.empty[Vector[(DataFrame, Chain)]]) { (gs, s) =>
      gs.indexWhere(_.head._2.fusesWith(s._2)) match {
        case -1 => gs :+ Vector(s)
        case i  => gs.updated(i, gs(i) :+ s)
      }
    }
    groups.map {
      case Vector((df, _)) => df
      case g =>
        val c = g.head._2
        val anyHour = g.map(_._2.cond).reduce(Or)
        PlanBridge.ofRows(slices.head.sparkSession, Project(c.fields, Filter(anyHour, c.leaf)))
    }.reduce(_ unionByName _)
  }

  /** A plan as `Project(fields, Filter(cond, leaf))`, aliases inlined so
    * that `fields` and `cond` read only `leaf`'s output.
    */
  private final case class Chain(fields: Seq[NamedExpression], conds: Seq[Expression],
      leaf: LogicalPlan) {
    def cond: Expression = conds.reduce(And)
    def fusesWith(o: Chain): Boolean =
      leaf.deterministic && (leaf fastEquals o.leaf) && Chain.shape(this) == Chain.shape(o)
  }

  private object Chain extends AliasHelper {
    // what each output column computes, whatever the exprIds of the
    // aliases that name it
    def shape(c: Chain) = c.fields.map(f => (f.name, f.dataType, trimAliases(f).canonicalized))

    def of(plan: LogicalPlan): Chain = plan match {
      case Project(list, child) if list.forall(_.deterministic) =>
        val c = of(child)
        val aliases = getAliasMap(c.fields)
        c.copy(fields = list.map(replaceAliasButKeepName(_, aliases)))
      case Filter(cond, child) if cond.deterministic =>
        val c = of(child)
        c.copy(conds = c.conds :+ replaceAlias(cond, getAliasMap(c.fields)))
      case other => Chain(other.output, Nil, other)
    }
  }

  /** A9 — resume point for the next run: latest ingested partition. */
  def watermark(spark: SparkSession, outPath: String): Option[String] =
    try PartitionedWriter.maxPartition(spark, outPath)
    catch { case _: AnalysisException => None } // first run: no table yet
}
