package graft.exec

import graft.compile.{AggPlan, RuleCompiler}
import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-shot (batch) evaluation of a [[graft.model.Rule]] over a DataFrame.
  *
  * This is the batch face of the engine: the rule compiled to Catalyst
  * expressions by [[graft.compile.RuleCompiler]], applied to a static
  * table. Modes mirror the reference's emission modes
  * (`operator/DynamicQueryFunction.java:91-147`):
  *
  *  - passthrough (no aggregate requested, W4): filter + project;
  *  - global aggregate (no window): plain `groupBy` — the batch-SQL face;
  *  - tumbling (`frequency` absent or `> window`, W2) and
  *    sliding (`0 < frequency <= window`, W3): native `window()`;
  *  - per-event (`frequency == 0`, W1): for *every event*, the aggregate
  *    over the trailing `[t - window, t]` interval (inclusive both ends,
  *    reference `DynamicQueryFunction.java:277-280`) — in batch a range
  *    self-aggregation, executed as a bucketed self-join so it scales:
  *    each probe row touches exactly 2 time buckets instead of the whole
  *    table, and the shuffle is one hash exchange on (keys, bucket).
  *
  * All timestamp math is integer microseconds (`unix_micros`), never
  * doubles: at epoch magnitude a double's ulp is ~0.24 µs, which would make
  * window-boundary membership nondeterministic.
  */
object BatchExec {

  /** Evaluate `rule` over `df`. `tsCol` is the event-time column. */
  def run(rule: Rule, df: DataFrame, tsCol: String = "ts"): DataFrame = {
    val filtered = df.filter(RuleCompiler.filterColumn(rule, Some(df.schema)))
    val hasAgg = rule.isCount || rule.aggregatorFunctionType.isDefined
    if (!hasAgg) filtered
    else if (rule.isPassthrough) globalAgg(rule, filtered)
    else if (rule.isPerEventEmission) perEventSliding(rule, filtered, tsCol)
    else windowed(rule, filtered, tsCol)
  }

  private def finishAgg(rule: Rule, grouped: DataFrame, keep: Seq[Column],
      plan: AggPlan): DataFrame =
    grouped
      .select(keep :+ plan.finalExpr: _*)
      .filter(RuleCompiler.havingColumn(rule))

  /** Windowless aggregate — the plain batch `GROUP BY` face (the reference
    * always windows; batch tables don't have to). */
  private def globalAgg(rule: Rule, df: DataFrame): DataFrame = {
    val plan = RuleCompiler.aggPlan(rule)
    val keys = RuleCompiler.groupColumns(rule)
    val grouped = df.groupBy(keys: _*)
      .agg(plan.aggExprs.head, plan.aggExprs.tail: _*)
    finishAgg(rule, grouped, rule.groupingKeyNames.map(col), plan)
  }

  /** W2/W3: tumbling or sliding windows via Spark's native `window()`.
    * Output: grouping keys, `w_start` (epoch seconds), `agg_value`. */
  private def windowed(rule: Rule, df: DataFrame, tsCol: String): DataFrame = {
    val w = rule.windowMilliseconds.get
    val slide = rule.frequencyMilliseconds.filter(f => f > 0 && f <= w).getOrElse(w)
    val win = window(col(tsCol), s"$w milliseconds", s"$slide milliseconds")
    val plan = RuleCompiler.aggPlan(rule)
    val keys = RuleCompiler.groupColumns(rule)
    val grouped = df.groupBy(win +: keys: _*)
      .agg(plan.aggExprs.head, plan.aggExprs.tail: _*)
      .withColumn("w_start", unix_timestamp(col("window.start").cast("timestamp")))
    val keep = rule.groupingKeyNames.map(col) :+ col("w_start")
    finishAgg(rule, grouped, keep, plan)
  }

  /** W1 (batch analog): per-event trailing-window aggregate, as a native
    * RANGE-frame window function: `AGG(x) OVER (PARTITION BY keys ORDER BY
    * ts_us RANGE BETWEEN w PRECEDING AND CURRENT ROW)` — exactly the
    * reference's `[t-w, t]`-inclusive definition
    * (`DynamicQueryFunction.java:277-280`), including same-timestamp peers.
    *
    * One hash exchange on the grouping keys plus a per-partition sort —
    * strictly less movement than the previous bucketed self-join (which
    * exploded the build side 2× and re-grouped by the *whole event row*,
    * making the shuffle key width O(columns)). Catalyst's sliding window
    * frame processor advances two pointers over the sorted run, so the
    * per-key cost is O(n log n) in events, not O(n·window). Keyless rules
    * degenerate to a single partition — same caveat as any global sort. */
  private def perEventSliding(rule: Rule, df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val wUs = rule.windowMilliseconds.get * 1000L
    val w: WindowSpec = Window
      .partitionBy(rule.groupingKeyNames.map(col): _*)
      .orderBy(col("__ts_us"))
      .rangeBetween(-wUs, Window.currentRow)
    val dec = RuleCompiler.RuleDecimal
    val base = df.withColumn("__ts_us", unix_micros(col(tsCol).cast("timestamp")))
    val withAgg =
      if (rule.isCount)
        base.withColumn(RuleCompiler.AggAlias, count(lit(1)).over(w).cast(dec))
      else {
        val c = col(rule.aggregateFieldName.get).cast(dec)
        rule.aggregatorFunctionType.getOrElse(throw new IllegalArgumentException(
            s"rule ${rule.queryId} has no aggregatorFunctionType")) match {
          case AggregatorType.Sum =>
            base.withColumn(RuleCompiler.AggAlias, sum(c).over(w).cast(dec))
          case AggregatorType.Min =>
            base.withColumn(RuleCompiler.AggAlias, min(c).over(w).cast(dec))
          case AggregatorType.Max =>
            base.withColumn(RuleCompiler.AggAlias, max(c).over(w).cast(dec))
          case AggregatorType.Avg =>
            // exact micro-unit AVG, identical to RuleCompiler.aggPlan:
            // (2s + n) div (2n) = ROUND_HALF_UP at scale 6 (long integer
            // division, so no double rounding at any magnitude)
            base
              .withColumn("__s2",
                lit(2) * sum((c * lit(1000000)).cast("long")).over(w) + count(c).over(w))
              .withColumn("__n2", lit(2) * count(c).over(w))
              .withColumn(RuleCompiler.AggAlias,
                (expr("__s2 div __n2") / lit(1000000.0)).cast(dec))
        }
      }
    withAgg
      .filter(RuleCompiler.havingColumn(rule))
      .select(df.columns.map(col) :+ col(RuleCompiler.AggAlias): _*)
  }

  /** D1: evaluate many windowed rules in one pass — the event×rule fan-out
    * (the reference's "implicit copy" broadcast pattern,
    * `DynamicKeyFunction.java:43-105`). One `(rule_id, group_key, w_start,
    * agg_value)` row per (rule, group, window); the per-rule filters are
    * compiled literals so the single event scan is shared and nothing but
    * matching rows is ever shuffled (filter-before-shuffle, the
    * reference's one hand-built optimization — Catalyst does it for us). */
  def runAll(rules: Seq[Rule], df: DataFrame, tsCol: String = "ts"): DataFrame = {
    require(rules.nonEmpty, "runAll needs at least one rule")
    rules.map { r =>
      require(!r.isPassthrough && !r.isPerEventEmission,
        s"runAll handles windowed rules; rule ${r.queryId} is not")
      run(r, df, tsCol)
        .withColumn("rule_id", lit(r.queryId.getOrElse(-1L)))
        .withColumn("group_key", RuleCompiler.keyStringColumn(r))
        .select("rule_id", "group_key", "w_start", RuleCompiler.AggAlias)
    }.reduce(_ unionByName _)
  }
}
