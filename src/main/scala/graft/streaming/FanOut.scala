package graft.streaming

import graft.compile.RuleCompiler
import graft.model.{CompareOp, KeyedEvent, Rule}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** D1-D3 for the streaming path: the event×rule fan-out, rules as data.
  *
  * Every live rule is evaluated against every event from one broadcast
  * of the rule set — the reference's broadcast rule state
  * (`DynamicKeyFunction.java:43-105`). Events passing a rule's filters
  * are tagged with (ruleId, composite key string), the reference's
  * "implicit copy" pattern. The batch is scanned once and runs through
  * one `flatMap`, so the plan does not grow with the rule count and the
  * output has exactly the input's partitions. [[DynamicActiveEngine]]
  * persists this output and reads it twice, in its curMax job and on
  * the map side of the shuffle that moves these rows, and only these,
  * onto the retained tail's (rule, key) partitioning. Rows matching no
  * rule are dropped before that shuffle.
  *
  * Output is the normalized [[KeyedEvent]]: event-time millis, aggregate
  * input as an exact decimal string, full event payload as JSON. */
object FanOut {

  /** Semantics, the same at every rule count:
    *  - a null cell fails every filter;
    *  - `=` compares the column's string cast with the literal (so
    *    `carId = "00270"` respects leading zeros);
    *  - other operators compare as BigDecimal over that rendering — the
    *    `CompareOp` kernel, the reference's `applyCompare`. A cell that
    *    does not parse as a number fails the filter, so a runtime rule
    *    can drop rows but never fail the batch;
    *  - the key renders `{k=v;…}` in key order, `{}` for the global
    *    group, and a null value as `k=null`;
    *  - the aggregate input is the column's DECIMAL(38,6) rendering, ""
    *    for COUNT, a null cell or one that does not parse;
    *  - the JSON payload is rendered only if some live rule has
    *    `alertRules`, and kept only on that rule's rows.
    * Field→index resolution happens once on the driver; an unknown field
    * fails fast there. */
  def keyed(events: DataFrame, rules: Seq[Rule], tsCol: String = "ts"): Dataset[KeyedEvent] = {
    require(rules.nonEmpty, "fan-out needs at least one rule")
    val names = events.columns.toSeq
    val live = rules.filter(_.queryId.isDefined)
    // each row renders only the columns some rule reads: the string cast
    // of filter and key fields, the decimal of aggregate fields
    val rawNames = live.flatMap(r => r.windowFilterRules.map(_.field) ++ r.groupingKeyNames).distinct
    val decNames = live.flatMap(_.aggregateFieldName.filterNot(Rule.isCountSentinel)).distinct
    (rawNames ++ decNames).find(!names.contains(_)).foreach { f =>
      throw new IllegalArgumentException(s"rule field '$f' not in event schema $names")
    }
    val compiled = live.map(r => CompiledRule(
      r.queryId.get,
      r.windowFilterRules.map(f => FilterAt(rawNames.indexOf(f.field), f.operator, f.value,
        if (f.operator == CompareOp.Equal) None else Some(BigDecimal(f.value)))),
      r.groupingKeyNames,
      r.groupingKeyNames.map(rawNames.indexOf),
      r.aggregateFieldName.filterNot(Rule.isCountSentinel).map(decNames.indexOf),
      r.alertRules.nonEmpty))
    val spark = events.sparkSession
    val bc = spark.sparkContext.broadcast(compiled)

    // struct→JSON is the single most expensive per-row expression here;
    // pay it only if some live rule actually consumes the payload
    val anyPayload = compiled.exists(_.payload)
    val payloadCol =
      if (anyPayload) to_json(struct(names.map(col): _*)) else lit("")
    def strings(cs: Seq[Column]): Column =
      if (cs.isEmpty) typedLit(Seq.empty[String]) else array(cs: _*)

    import spark.implicits._
    events
      .select(
        (unix_micros(col(tsCol).cast("timestamp")) / lit(1000)).cast("long").as("__ts"),
        payloadCol.as("__payload"),
        strings(rawNames.map(c => col(c).cast("string"))).as("__raw"),
        // try_cast: a non-numeric cell yields null here instead of an
        // ANSI error
        strings(decNames.map(c =>
          expr(s"CAST(try_cast(`$c` AS ${RuleCompiler.RuleDecimal.sql}) AS STRING)")))
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
