package graftbench

import scala.collection.mutable

import graft.model.{AggregatorType, CompareOp, FilterSpec, QueryState, Rule}
import graft.rules.RuleCodec

/** A plain-Scala evaluation of the dynamic engine's contract, used to
  * check every batch's fired alerts. It shares no evaluation code with
  * the engine: rules are decoded with RuleCodec and nothing else.
  *
  *  - The live set is the ACTIVE rules of an upsert-by-queryId store;
  *    DELETE removes, PAUSE keeps a rule but takes it out of evaluation.
  *  - A batch is fanned out to the rules live at its start. State is the
  *    tail of fanned-out rows a live rule can still read: rows with
  *    ts >= curMax - (window + period), for rules live in that batch.
  *  - Per-event rules (frequency 0) emit for each fresh row the
  *    aggregate over [ts - window, ts]; periodic rules emit aligned
  *    windows whose end falls in (emittedThrough, curMax]; passthrough
  *    rules emit every fresh row. Only rows that pass HAVING are fired.
  *  - A fired parent spawns one child per (parent, car) with `$carId`
  *    bound, live from the next batch; a repeat firing re-merges it.
  *
  * Alerts are compared as (rule signature, key, ts, aggregate), where a
  * child's signature is "parentId/carId" because its queryId is a
  * wall-clock snowflake. */
final class Reference(initial: Seq[String]) {
  private final case class Row(sig: String, key: String, ts: Long, micro: Option[Long],
      carId: Int, fresh: Boolean)
  private final class Live(val sig: String, val rule: Rule) {
    def active: Boolean = rule.queryState == QueryState.Active
  }

  private val store = mutable.LinkedHashMap.empty[String, Live]
  private var tail = Vector.empty[Row]
  private var maxSeen = Long.MinValue
  private var emitted = Long.MinValue
  private val liveCount = mutable.Map.empty[Int, Int]
  private var batchNo = 0
  /** Fired alerts so far by emission kind, and children spawned: the
    * coverage a fixture must reach for the comparison to mean anything. */
  val firedByKind = mutable.Map.empty[String, Int].withDefaultValue(0)
  def spawned: Int = store.keys.count(_.contains("/"))

  submit(initial)

  def submit(lines: Seq[String]): Unit = lines.map(RuleCodec.decode).foreach { r =>
    val sig = r.queryId.get.toString
    r.queryState match {
      case QueryState.Delete => store.remove(sig)
      case _ => store(sig) = new Live(sig, r)
    }
  }

  def liveAfter(k: Int): Int = liveCount.getOrElse(k, -1)

  private def field(e: Ev, f: String): String = f match {
    case "carId" => e.carId.toString
    case "speed" => e.speed.toString
    case "lon" => e.lon.toString
    case "lat" => e.lat.toString
    case other => sys.error(s"no field $other")
  }

  private def cmp(op: CompareOp, c: Int): Boolean = op match {
    case CompareOp.Equal => c == 0
    case CompareOp.NotEqual => c != 0
    case CompareOp.Greater => c > 0
    case CompareOp.Less => c < 0
    case CompareOp.GreaterEqual => c >= 0
    case CompareOp.LessEqual => c <= 0
  }

  private def passes(f: FilterSpec, e: Ev): Boolean =
    if (f.operator == CompareOp.Equal) field(e, f.field) == f.value
    else cmp(f.operator, BigDecimal(field(e, f.field)).compare(BigDecimal(f.value)))

  private def keyOf(r: Rule, e: Ev): String =
    r.groupingKeyNames.map(k => s"$k=${field(e, k)}").mkString("{", ";", "}")

  private def isCount(r: Rule) = r.aggregateFieldName.exists(_.startsWith("COUNT"))
  private def window(r: Rule) = r.windowMilliseconds.getOrElse(0L)
  private def passthrough(r: Rule) = window(r) <= 0
  private def perEvent(r: Rule) = r.frequencyMilliseconds.contains(0L)
  private def slide(r: Rule) =
    r.frequencyMilliseconds.filter(f => f > 0 && f <= window(r)).getOrElse(window(r))

  /** The rule's aggregate over rows, at scale 6 (AVG rounds half up). */
  private def aggregate(r: Rule, rows: Seq[Row]): BigDecimal = {
    val vals = rows.flatMap(_.micro)
    if (isCount(r)) BigDecimal(rows.size)
    else if (vals.isEmpty) BigDecimal(0)
    else {
      val micro = r.aggregatorFunctionType.get match {
        case AggregatorType.Sum => BigDecimal(vals.sum)
        case AggregatorType.Min => BigDecimal(vals.min)
        case AggregatorType.Max => BigDecimal(vals.max)
        case AggregatorType.Avg =>
          (BigDecimal(vals.sum) / BigDecimal(rows.size))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP)
      }
      micro / BigDecimal(1000000)
    }
  }

  private def having(r: Rule, agg: BigDecimal): Boolean =
    (r.limitOperatorType, r.limit) match {
      case (Some(op), Some(lim)) => cmp(op, agg.compare(lim))
      case _ => true
    }

  /** One micro-batch; returns the fired alerts in canonical form. */
  def step(events: Seq[Ev]): Seq[String] = {
    val k = batchNo
    batchNo += 1
    val live = store.values.filter(_.active).toSeq
    if (live.isEmpty) { liveCount(k) = 0; return Nil }
    val fresh = for {
      l <- live
      e <- events if l.rule.windowFilterRules.forall(passes(_, e))
    } yield {
      val micro = l.rule.aggregateFieldName.filterNot(_.startsWith("COUNT"))
        .map(f => (BigDecimal(field(e, f)) * 1000000).toLongExact)
      Row(l.sig, keyOf(l.rule, e), e.ts.getTime, micro, e.carId, fresh = true)
    }
    if (fresh.isEmpty && maxSeen == Long.MinValue) {
      liveCount(k) = live.size; return Nil
    }
    val curMax = (fresh.map(_.ts) :+ maxSeen).max
    val bySig = (tail ++ fresh).groupBy(_.sig)
    val fired = mutable.ArrayBuffer.empty[(Live, Row, BigDecimal)]

    live.foreach { l =>
      val r = l.rule
      val rows = bySig.getOrElse(l.sig, Vector.empty)
      if (passthrough(r)) {
        rows.filter(_.fresh).foreach(x =>
          fired += ((l, x, x.micro.map(m => BigDecimal(m) / 1000000).getOrElse(BigDecimal(0)))))
      } else if (perEvent(r)) {
        rows.groupBy(_.key).values.foreach { g =>
          val sorted = g.sortBy(_.ts)
          sorted.filter(_.fresh).foreach { x =>
            val agg = aggregate(r, sorted.filter(y => y.ts >= x.ts - window(r) && y.ts <= x.ts))
            if (having(r, agg)) fired += ((l, x, agg))
          }
        }
      } else {
        val w = window(r); val s = slide(r)
        rows.groupBy(_.key).values.foreach { g =>
          val starts = g.flatMap { x =>
            val last = x.ts - java.lang.Math.floorMod(x.ts, s)
            Iterator.iterate(last)(_ - s).takeWhile(_ > x.ts - w)
          }.distinct
          starts.foreach { st =>
            val end = st + w
            if (end > emitted && end <= curMax) {
              val agg = aggregate(r, g.filter(y => y.ts >= st && y.ts < end))
              if (having(r, agg)) fired += ((l, g.head.copy(ts = st), agg))
            }
          }
        }
      }
    }

    val liveSigs = live.map(l => l.sig -> l.rule).toMap
    tail = (tail ++ fresh).filter { x =>
      liveSigs.get(x.sig).exists { r =>
        x.ts >= curMax - (window(r) + r.frequencyMilliseconds.filter(_ > 0).getOrElse(0L))
      }
    }.map(_.copy(fresh = false))
    emitted = math.max(emitted, curMax)
    maxSeen = curMax

    // ECA: one child per (parent, bound car), live from the next batch
    fired.filter(_._1.rule.alertRules.nonEmpty).foreach { case (l, x, _) =>
      l.rule.alertRules.foreach { tmpl =>
        val sig = s"${l.sig}/${x.carId}"
        if (!store.contains(sig)) store(sig) = new Live(sig, tmpl.copy(
          queryState = QueryState.Active,
          groupingKeyNames = tmpl.groupingKeyNames.map(_.stripPrefix("$")),
          windowFilterRules = tmpl.windowFilterRules :+
            FilterSpec("carId", CompareOp.Equal, x.carId.toString)))
      }
    }
    liveCount(k) = store.values.count(_.active)
    fired.foreach { case (l, _, _) =>
      val kind = if (passthrough(l.rule)) "passthrough" else if (perEvent(l.rule)) "per_event"
        else "periodic"
      firedByKind(kind) += 1
    }
    fired.map { case (l, x, agg) => Reference.canon(l.sig, x.key, x.ts, agg) }.toSeq
  }
}

object Reference {
  def canon(sig: String, key: String, ts: Long, agg: BigDecimal): String =
    s"$sig|$key|$ts|${agg.bigDecimal.stripTrailingZeros.toPlainString}"
}
