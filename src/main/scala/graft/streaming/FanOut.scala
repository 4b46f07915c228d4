package graft.streaming

import graft.compile.RuleCompiler
import graft.model.{CompareOp, KeyedEvent, Rule}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** D1-D3 for the streaming path: the event×rule fan-out.
  *
  * For every live rule, events passing the rule's filters are tagged with
  * (ruleId, composite key string) — the reference's "implicit copy"
  * pattern (`DynamicKeyFunction.java:43-105`) — and union the per-rule
  * branches. The filters are compiled literals pushed into each branch,
  * so only matching rows ever reach the downstream shuffle (the
  * reference's hand-built filter-before-shuffle, free here). Catalyst
  * does NOT share the source scan across branches: the compiled side is
  * a union of one scan per rule, so its output has rules × input
  * partitions partitions (96 for 24 rules over a 4-partition batch).
  * [[DynamicActiveEngine]] persists this output and reads it twice, in
  * its curMax job and on the map side of the shuffle that moves these
  * rows, and only these, onto the retained tail's (rule, key)
  * partitioning, so those stages run a task per partition. Everything
  * downstream is bounded apart from the fan-out: the keyed pass runs one
  * task per tail partition, at most the default parallelism.
  *
  * Output is the normalized [[KeyedEvent]]: event-time millis, aggregate
  * input as an exact decimal string, full event payload as JSON.
  */
object FanOut {

  /** Plan-size threshold: at most this many compiled per-rule branches;
    * beyond it [[auto]] switches to the broadcast kernel. The reference
    * evaluates thousands of rules per event — a thousand-branch union
    * would make Catalyst analysis itself the bottleneck. */
  val CompiledRuleLimit = 32

  /** Pick the fan-out strategy by rule count: compiled Column branches
    * (full pushdown/codegen per rule) while the plan stays small, the
    * broadcast interpreted kernel beyond [[CompiledRuleLimit]]. */
  def auto(events: DataFrame, rules: Seq[Rule], tsCol: String = "ts"): Dataset[KeyedEvent] =
    if (rules.size <= CompiledRuleLimit) keyed(events, rules, tsCol)
    else keyedBroadcast(events, rules, tsCol)

  def keyed(events: DataFrame, rules: Seq[Rule], tsCol: String = "ts"): Dataset[KeyedEvent] = {
    implicit val enc = Encoders.product[KeyedEvent]
    require(rules.nonEmpty, "fan-out needs at least one rule")
    rules.map { r =>
      val aggIn = r.aggregateFieldName match {
        case Some(f) if !Rule.isCountSentinel(f) =>
          col(f).cast(RuleCompiler.RuleDecimal).cast("string")
        case _ => lit("")
      }
      // the JSON payload is only consumed by ECA template binding — rules
      // with no alertRules skip the per-event render entirely
      val payload =
        if (r.alertRules.nonEmpty) to_json(struct(events.columns.map(col): _*))
        else lit("")
      events
        .filter(RuleCompiler.filterColumn(r, Some(events.schema)))
        .select(
          lit(r.queryId.getOrElse(-1L)).as("ruleId"),
          RuleCompiler.keyStringColumn(r).as("key"),
          (unix_micros(col(tsCol).cast("timestamp")) / lit(1000)).cast("long")
            .as("tsMillis"),
          coalesce(aggIn, lit("")).as("aggIn"),
          payload.as("payload"))
    }.reduce(_ unionByName _).as[KeyedEvent]
  }

  /** Rules-as-data fan-out: ONE broadcast of the rule set and ONE flatMap
    * — plan size O(1) in rule count, so thousands of live rules cost a
    * per-row loop instead of a thousand-branch union that Catalyst must
    * analyze (the reference's broadcast-state design,
    * `DynamicKeyFunction.java:43-105`, at its native scale).
    *
    * The interpreted kernel reproduces the compiled semantics:
    *  - `=` compares the column's *string cast* (the same `cast("string")`
    *    rendering, computed once per row in codegen);
    *  - other operators compare as BigDecimal over that rendering — the
    *    `CompareOp` kernel, the reference's `applyCompare`. (For FLOAT
    *    columns the two paths can differ past the 8th significant digit:
    *    the compiled path compares the widened binary value, this one the
    *    shortest decimal rendering. DOUBLE/INT/LONG/STRING are identical.)
    *  - the aggregate input is pre-cast to DECIMAL(38,6) per column, so
    *    `aggIn` strings are byte-identical to the compiled path's;
    *  - rows matching no rule are dropped before any shuffle.
    * Field→index resolution happens once on the driver; an unknown field
    * fails fast there, like the compiled path's analysis error. */
  def keyedBroadcast(events: DataFrame, rules: Seq[Rule], tsCol: String = "ts"): Dataset[KeyedEvent] = {
    require(rules.nonEmpty, "fan-out needs at least one rule")
    val names = events.columns.toSeq
    val idx = names.zipWithIndex.toMap
    def at(f: String): Int = idx.getOrElse(f,
      throw new IllegalArgumentException(s"rule field '$f' not in event schema $names"))
    val compiled = rules.flatMap(r => r.queryId.map(id => CompiledRule(
      id,
      r.windowFilterRules.map(f => FilterAt(at(f.field), f.operator, f.value,
        if (f.operator == CompareOp.Equal) None else Some(BigDecimal(f.value)))),
      r.groupingKeyNames,
      r.groupingKeyNames.map(at),
      r.aggregateFieldName.filterNot(Rule.isCountSentinel).map(at),
      r.alertRules.nonEmpty)))
    val spark = events.sparkSession
    val bc = spark.sparkContext.broadcast(compiled)

    // struct→JSON is the single most expensive per-row expression here;
    // pay it only if some live rule actually consumes the payload (the
    // compiled path makes the same gate per rule at `keyed`).
    val anyPayload = compiled.exists(_.payload)
    val payloadCol =
      if (anyPayload) to_json(struct(names.map(col): _*)) else lit("")

    import spark.implicits._
    events
      .select(
        (unix_micros(col(tsCol).cast("timestamp")) / lit(1000)).cast("long").as("__ts"),
        payloadCol.as("__payload"),
        array(names.map(c => col(c).cast("string")): _*).as("__raw"),
        // try_cast: non-numeric columns yield null here instead of an ANSI
        // error — only columns actually used as aggregate input are read
        array(names.map(c =>
          expr(s"CAST(try_cast(`$c` AS ${RuleCompiler.RuleDecimal.sql}) AS STRING)")): _*)
          .as("__dec"))
      .as[(Long, String, Array[String], Array[String])]
      .flatMap { case (ts, payload, raw, dec) =>
        bc.value.iterator.filter { r =>
          r.filters.forall { f =>
            val cell = raw(f.idx)
            cell != null && (f.op match {
              case CompareOp.Equal => cell == f.value
              case op => scala.util.Try(op(BigDecimal(cell), f.decValue.get))
                .getOrElse(false)
            })
          }
        }.map { r =>
          val key =
            if (r.keyIdx.isEmpty) "{}"
            else r.keyNames.zip(r.keyIdx)
              .map { case (n, i) => s"$n=${raw(i)}" }
              .mkString("{", ";", "}")
          KeyedEvent(r.id, key, ts,
            r.aggIdx.map(i => Option(dec(i)).getOrElse("")).getOrElse(""),
            if (r.payload) payload else "")
        }
      }
  }
}

/** One filter with its field pre-resolved to a column index. */
private[streaming] final case class FilterAt(idx: Int, op: CompareOp,
    value: String, decValue: Option[BigDecimal])

/** A rule pre-resolved against one event schema, shipped by broadcast. */
private[streaming] final case class CompiledRule(id: Long,
    filters: Seq[FilterAt], keyNames: Seq[String], keyIdx: Seq[Int],
    aggIdx: Option[Int], payload: Boolean)
