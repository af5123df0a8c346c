package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational operators: projections, filters, joins, sorts, limits, set
  * ops — SURVEY.md §2.B / §2.C / §2.G.
  *
  * Everything here is a thin, documented composition of the declarative
  * DataFrame API so Catalyst keeps full visibility (pushdown, pruning,
  * join strategy, AQE). No RDDs, no collect loops.
  */
object Relational {

  /** B1 — projection by name (reference `Ingestion Data (XML).py:133-139`,
    * `Processing Data.py:218-237`). Column pruning reaches the parquet
    * scan because the select sits directly over the source.
    */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** B3 — half-open range predicate on a time column (reference
    * `Ingestion Data (MySQL).py:158`: `clock >= a AND clock < b`, pushed
    * to the source). On parquet this lands in PushedFilters and prunes
    * row groups via min/max stats.
    */
  def rangeScan(df: DataFrame, c: String, lo: Column, hi: Column): DataFrame =
    df.filter(col(c) >= lo && col(c) < hi)

  /** B6/C4 — allowlist semi-join (reference `Ingestion Data (XML).py:128`
    * does this driver-side in pandas with `.isin`). Distributed form: a
    * left-semi join, broadcast when the allowlist is small — at 100 TB the
    * fact side never moves.
    */
  def semiJoinAllowlist(df: DataFrame, allow: DataFrame, key: String, allowKey: String): DataFrame =
    df.join(broadcast(allow), df(key) === allow(allowKey), "left_semi")

  /** C1 — multi-way inner equi-join with residual theta predicates
    * (reference `Processing Data.py:173-182`: 4-table dimension
    * enrichment). Dimensions are broadcast (explicitly hinted when small)
    * so the fact table never shuffles for the join.
    */
  def enrichJoin(fact: DataFrame, dims: Seq[(DataFrame, Column)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, cond)) => acc.join(broadcast(dim), cond, "inner") }

  /** C2 — the reference's in/out pivot (`Processing Data.py:190-207`):
    * split one metric stream by a two-valued `direction` column and
    * produce one row per key carrying both directions' values, via a
    * full-outer join USING the key columns (null-safe coalesced keys).
    *
    * `Seq`-based join form is essential: a `===` condition would keep two
    * nullable key columns and drop unmatched sides' keys (SURVEY §7.5/3).
    */
  def pivotFullJoin(
      df: DataFrame,
      keys: Seq[String],
      directionCol: String,
      inValue: String,
      outValue: String,
      valueCol: String,
      inAlias: String,
      outAlias: String): DataFrame = {
    val in = df.filter(col(directionCol) === inValue)
      .groupBy(keys.map(col): _*).agg(sum(col(valueCol)).as(inAlias))
    val out = df.filter(col(directionCol) === outValue)
      .groupBy(keys.map(col): _*).agg(sum(col(valueCol)).as(outAlias))
    in.join(out, keys, "full_outer")
  }

  /** C2 idiomatic single-pass alternative: one conditional aggregation,
    * `agg(when(directionCol === d, value))` named `d` for each direction,
    * in one `groupBy` — one shuffle, no self-join. The reference
    * re-executes its whole 4-table join per direction branch
    * (`Processing Data.py:188-207`, see SURVEY §3.3); this form cannot.
    * It gives what `groupBy(keys).pivot(directionCol, directions)
    * .agg(agg(value))` gives (a direction with no row, or only null
    * values, under a key is null), but `pivot` plans two aggregations,
    * i.e. two shuffles.
    */
  def pivotSinglePass(
      df: DataFrame,
      keys: Seq[String],
      directionCol: String,
      directions: Seq[String],
      value: Column,
      agg: Column => Column): DataFrame = {
    val perDirection = directions.map(d => agg(when(col(directionCol) === d, value)).as(d))
    df.groupBy(keys.map(col): _*).agg(perDirection.head, perDirection.tail: _*)
  }

  /** C5 — anti join: rows of `df` with no match in `other`. */
  def antiJoin(df: DataFrame, other: DataFrame, cond: Column): DataFrame =
    df.join(other, cond, "left_anti")

  /** G1/G2 — global top-k: Catalyst plans `TakeOrderedAndProject`, which
    * takes k rows per partition then merges on the driver — no global
    * sort shuffle. The reference's shape: `sort(desc).collect()[0]`
    * (`Ingestion Data (MySQL).py:26-29`).
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** G3 — set operations. */
  def unionAll(a: DataFrame, b: DataFrame): DataFrame  = a.unionByName(b)
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def except(a: DataFrame, b: DataFrame): DataFrame    = a.except(b)

  /** Bin-accelerated interval join for point-in-range matching with NO
    * equi key (price bands, IP ranges, calendar windows): Spark plans
    * the naive inequality join as a nested loop — partitions ×
    * partitions, fatal at scale. Instead, both sides map to bin ids
    * (intervals explode into every bin they overlap), the join becomes
    * an equi-join on the bin, and the exact containment filter runs
    * post-join. Correctness never depends on the bin math (floor is
    * monotone, so no qualifying pair can miss its bin; the filter
    * removes the rest). Pick `binWidth` near the median interval
    * length: the interval-side row amplification is
    * (hi−lo)/binWidth + 1 per interval.
    */
  def binnedRangeJoin(points: DataFrame, ptCol: String, intervals: DataFrame,
      loCol: String, hiCol: String, binWidth: Long): DataFrame = {
    val binnedPts = points.withColumn("__bin",
      floor(col(ptCol) / binWidth.toDouble).cast("bigint"))
    val expanded = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth.toDouble).cast("bigint"),
        floor(col(hiCol) / binWidth.toDouble).cast("bigint"))))
    binnedPts.join(expanded, Seq("__bin"))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) < col(hiCol))
      .drop("__bin")
  }

  /** Fuzzy self-linkage at edit distance ≤ 1, EXACT via FastSS
    * deletion-neighborhood blocking (Bocek et al. 2007): every string
    * emits itself plus its |s| single-deletion variants as block keys;
    * two strings within one edit ALWAYS share a key (substitution →
    * both delete that position; insert/delete → the longer side's
    * deletion hits the shorter), so the equi-join on the key is a
    * complete candidate generator and the final `levenshtein ≤ 1`
    * filter only removes false positives (distinct-position deletions
    * that collide). Contrast with a naive similarity join — a
    * quadratic nested loop Spark would refuse via [[Guard]]: here the
    * work is |s|+1 key rows per record and a shuffle on short string
    * keys, so record-linkage at 100 TB rides an ordinary equi-join.
    * Variant generation is one codegen'd transform+explode (no UDF).
    */
  def fuzzyLinkageD1(df: DataFrame, textCol: String, idCol: String,
      maxLen: Int = 512): DataFrame = {
    val s = col(textCol)
    // EXACT-CLASS CONTRACTION (the Dedup.tfidfCosineTopK pattern, same
    // adaptive switch): deletion keys are pure functions of the STRING,
    // so records with identical text are interchangeable in blocking
    // and in the exact edit-1 check. On a duplication-heavy corpus the
    // record-level key join is quadratic in class size — a string
    // replicated 100× puts 100 identical rows in every one of its
    // |s|+1 key buckets, 10,000× the pairs (measured: OOM at sf10 on
    // the 8 GB heap) — while the class-level join is quadratic only in
    // DISTINCT strings per bucket. The pair OUTPUT is still ∝ the
    // naive result (intra-class pairs are part of the contract), but
    // it streams through generators and joins — never a hash build.
    // Both paths emit IDENTICAL rows; the oracle replays the naive
    // quadratic definition.
    val clsAgg = df.groupBy(s.as("__s"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__cn"))
      .localCheckpoint()
    // pair mass EXCLUDES the null-text class (ADVICE r11): null text
    // explodes to no deletion keys and never pairs, so counting its
    // class would inflate the decision scalar on a null-heavy corpus
    // and pay the class machinery for pairs that cannot exist. nTotal
    // stays the full |df| (the contract threshold's denominator).
    val massRow = clsAgg.agg(sum(col("__cn")).as("n"),
      sum(when(col("__s").isNotNull,
        col("__cn") * (col("__cn") - 1)).otherwise(lit(0L))).as("pm")).head()
    val nTotal = Option(massRow.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val pairMass = Option(massRow.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L) / 2
    def cpBlocks(d: DataFrame) = Option(d).toSeq
      .flatMap(_.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      })
    if (pairMass <= nTotal / 10) {
      // Native kernel emits the neighborhood as 60-bit HASHES: the join
      // shuffles (id, long) rows, never variant strings, and an md5
      // collision can only ADD a candidate the exact filter removes.
      // Cached: the frame is both join sides (minhashCandidates shape).
      val keyed = df.select(col(idCol), s,
        explode(graft.expressions.TextSketchExpressions.deletionHash64(s, maxLen))
          .as("__key")).cache()
      val a = keyed.select(col("__key"), col(idCol).as("id_a"), s.as("s_a"))
      val b = keyed.select(col("__key"), col(idCol).as("id_b"), s.as("s_b"))
      val out = a.join(b, Seq("__key"))
        .filter(col("id_a") < col("id_b"))
        // exact check BEFORE the dedup, via the O(n) bounded predicate
        // (not the O(n²) allocating DP — this runs per candidate): the
        // distinct then dedups only the ~4x smaller surviving set
        .filter(graft.expressions.NormalizeExpressions.withinEdit1(col("s_a"), col("s_b")))
        .withColumn("dist", when(col("s_a") === col("s_b"), 0).otherwise(1))
        .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"), col("dist")).distinct()
        // the direct path runs only when pair mass is low, so the
        // edit-1 result is candidate-bounded: materialize it once,
        // then FREE the superseded keyed cache + clsAgg checkpoint
        // (VERDICT r11 item 3 — no pinned blocks after the consumer)
        .localCheckpoint()
      keyed.unpersist(blocking = false)
      cpBlocks(clsAgg).foreach(_.unpersist(blocking = false))
      out
    } else {
      // Contracted path. Every string emits at least its self-hash, so
      // identical records ALWAYS pair in the naive form — intra-class
      // expansion needs no key-existence guard, only the null guard
      // (null text explodes to nothing and never pairs).
      val members = df.select(col(idCol).as("__m"), s.as("__s"))
        .join(clsAgg.select(col("__s"), col("__rep")), Seq("__s"))
        .select(col("__m"), col("__rep"), col("__s"))
        .localCheckpoint()
      val reps = clsAgg.filter(col("__s").isNotNull)
        .select(col("__rep"), col("__s"))
      val keyed = reps.select(col("__rep"), col("__s"),
        explode(graft.expressions.TextSketchExpressions
          .deletionHash64(col("__s"), maxLen)).as("__key")).cache()
      // class pairs: distinct strings within one edit (rep order is
      // arbitrary but stable — dedup key)
      val clsPairs = keyed.select(col("__key"), col("__rep").as("ra"), col("__s").as("ta"))
        .join(keyed.select(col("__key"), col("__rep").as("rb"), col("__s").as("tb")),
          Seq("__key"))
        .filter(col("ra") < col("rb"))
        .filter(graft.expressions.NormalizeExpressions.withinEdit1(col("ta"), col("tb")))
        .select(col("ra"), col("rb"), col("ta"), col("tb")).distinct()
        .localCheckpoint()
      // ≥2-member class reps as a BOUNDED eager frame so the returned
      // lazy plan never reads clsAgg — which lets clsAgg + keyed free
      // HERE (VERDICT r11 item 3): the output itself (∝ naive pair
      // count, ~10⁹ rows at sf10) streams lazily and is never pinned;
      // the plan reads only the members (doc-sized) and clsPairs +
      // bigReps (class-bounded) checkpoints.
      val bigReps = clsAgg.filter(col("__cn") >= 2 && col("__s").isNotNull)
        .select(col("__rep")).localCheckpoint()
      keyed.unpersist(blocking = false)
      cpBlocks(clsAgg).foreach(_.unpersist(blocking = false))
      // cross-class member pairs: (min, max) id order decides which
      // side's string is s_a, exactly as the record-level join would
      val cross = clsPairs
        .join(members.select(col("__rep").as("ra"), col("__m").as("ma")), Seq("ra"))
        .join(members.select(col("__rep").as("rb"), col("__m").as("mb")), Seq("rb"))
        .select(
          least(col("ma"), col("mb")).as("id_a"),
          greatest(col("ma"), col("mb")).as("id_b"),
          when(col("ma") < col("mb"), col("ta")).otherwise(col("tb")).as("s_a"),
          when(col("ma") < col("mb"), col("tb")).otherwise(col("ta")).as("s_b"),
          lit(1).as("dist"))
      // intra-class pairs: all ordered member pairs of ≥2-member
      // classes, dist 0 (identical strings)
      val mm = members.join(bigReps, Seq("__rep"))
      val intra = mm.select(col("__rep"), col("__m").as("ma"), col("__s"))
        .join(mm.select(col("__rep"), col("__m").as("mb")), Seq("__rep"))
        .filter(col("ma") < col("mb"))
        .select(col("ma").as("id_a"), col("mb").as("id_b"),
          col("__s").as("s_a"), col("__s").as("s_b"), lit(0).as("dist"))
      cross.unionByName(intra)
    }
  }
}
