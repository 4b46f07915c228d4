package graft

import graft.model._
import graft.streaming.DynamicActiveEngine
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.sql.Timestamp

/** The dynamic engine against an independent model: a naive scan that
  * recomputes every alert from its definition (reference
  * `DynamicQueryFunction.java:277-297`).
  *
  *  - per-event: each event aggregates its (rule, key) rows with
  *    `ts ∈ [t − w, t]`, up to itself in (ts, payload) order;
  *  - periodic: each aligned window `[start, start + w)` whose end is at
  *    or before the last event time is emitted once.
  *
  * SUM/AVG/MIN/MAX run over the rows holding a value, COUNT counts every
  * row, and an aggregate with no value is null, which fires only when the
  * rule has no HAVING. */
class DynamicEngineModelSpec extends SparkSpec {
  import spark.implicits._

  // aligned to every window and slide drawn below
  private val base = 1700000000000L - (1700000000000L % 30000L)
  private val w = 10000L

  /** (seq, carId, ts, speed): `seq` is the event's position in (ts, seq)
    * order and the first field of its payload, zero-padded, so payload
    * order is seq order. */
  private type Ev = (Int, Int, Long, Option[Double])
  /** (ruleId, key, tsMillis, aggregate, seq of the payload's event) */
  private type Out = (Long, String, Long, Option[String], Option[Int])

  /** Every rule spawns this child when it fires, so the engine renders
    * each event's payload; the child itself never matches an event. */
  private val child = Rule(windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "1000")))

  /** A per-event, tumbling or sliding (10 s every 3 s) rule with SUM, AVG,
    * MIN, MAX or COUNT (`None`) and a random HAVING, or none. */
  private def rule(id: Long): Gen[Rule] = for {
    slide <- Gen.oneOf(Some(0L), None, Some(3000L))
    agg <- Gen.oneOf(None +: AggregatorType.all.map(Some(_)))
    having <- Gen.option(Gen.zip(Gen.oneOf(CompareOp.all), Gen.choose(0, 120)))
  } yield Rule(
    queryId = Some(id),
    groupingKeyNames = Seq("carId"),
    aggregateFieldName = Some(if (agg.isEmpty) Rule.CountSentinel else "speed"),
    aggregatorFunctionType = agg,
    limitOperatorType = having.map(_._1),
    limit = having.map { case (_, l) => BigDecimal(if (agg.isEmpty) l % 5 else l) },
    windowMilliseconds = Some(w),
    frequencyMilliseconds = slide,
    alertRules = Seq(child))

  private val rules: Gen[Seq[Rule]] =
    Gen.choose(1, 4).flatMap(n => Gen.sequence[Seq[Rule], Rule]((1 to n).map(i => rule(i.toLong))))

  /** Events in (ts, seq) order with repeated timestamps and null speeds;
    * car 3 never has a speed. */
  private val events: Gen[Vector[Ev]] = for {
    n <- Gen.choose(20, 40)
    gaps <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 1500)))
    cars <- Gen.listOfN(n, Gen.choose(0, 3))
    speeds <- Gen.listOfN(n,
      Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(0, 240).map(h => Some(h / 2.0))))
  } yield gaps.scanLeft(base)(_ + _).tail.lazyZip(cars).lazyZip(speeds).toVector
    .zipWithIndex.map { case ((ts, car, sp), i) => (i, car, ts, if (car == 3) None else sp) }

  /** 1 to 3 cuts, each between two distinct timestamps: an event must
    * not be evaluated before an event it follows in (ts, payload) order. */
  private def cuts(evs: Vector[Ev]): Gen[Seq[Int]] = {
    val at = (1 until evs.size).filter(i => evs(i)._3 != evs(i - 1)._3)
    Gen.choose(1, math.min(3, at.size)).flatMap(k => Gen.pick(k, at)).map(_.toSeq.sorted)
  }

  private val seqOf = "\"seq\":\"(\\d+)\"".r.unanchored

  private def engine(rules: Seq[Rule], batches: Seq[Seq[Ev]], partitions: Int): List[Out] = {
    val engine = new DynamicActiveEngine()
    rules.foreach(engine.store.merge(_))
    val out = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => out.synchronized { out ++= as })
    batches.foreach { b =>
      val rows = b.map { case (seq, car, ts, sp) => (f"$seq%03d", car, new Timestamp(ts), sp) }
      engine.processBatch(spark.sparkContext.parallelize(rows, partitions)
        .toDF("seq", "carId", "ts", "speed"), "ts")
    }
    val ids = rules.flatMap(_.queryId).toSet
    out.synchronized(out.toList).filter(a => ids(a.ruleId)).map { a =>
      (a.ruleId, a.key, a.tsMillis, Option(a.aggregate), a.payload match {
        case seqOf(s) => Some(s.toInt)
        case _ => None
      })
    }.sorted
  }

  /** The rule's aggregate over `in`, rendered, if it fires; `Some(None)`
    * is a fired null aggregate. */
  private def fire(r: Rule, in: Seq[Ev], countScale: Int): Option[Option[String]] = {
    val vs = in.flatMap(_._4).map(d => JBigDecimal.valueOf(d).setScale(6))
    val agg: Option[JBigDecimal] =
      if (r.isCount) Some(JBigDecimal.valueOf(in.size.toLong).setScale(countScale))
      else if (vs.isEmpty) None
      else Some(r.aggregatorFunctionType.get match {
        case AggregatorType.Sum => vs.reduce(_ add _)
        case AggregatorType.Avg =>
          vs.reduce(_ add _).divide(JBigDecimal.valueOf(vs.size.toLong), 6, RoundingMode.HALF_UP)
        case AggregatorType.Min => vs.reduce(_ min _)
        case AggregatorType.Max => vs.reduce(_ max _)
      })
    val fires = agg.fold(r.limitOperatorType.isEmpty)(a => r.applyLimit(BigDecimal(a)))
    if (fires) Some(agg.map(_.toPlainString)) else None
  }

  private def model(rules: Seq[Rule], evs: Seq[Ev]): List[Out] = {
    val last = evs.map(_._3).max
    rules.toList.flatMap { r =>
      val id = r.queryId.get
      evs.groupBy(_._2).toList.flatMap { case (car, rows) =>
        val key = s"{carId=$car}"
        if (r.isPerEventEmission) rows.flatMap { e =>
          val in = rows.filter(x =>
            x._3 >= e._3 - w && (x._3 < e._3 || (x._3 == e._3 && x._1 <= e._1)))
          fire(r, in, countScale = 0).map(agg => (id, key, e._3, agg, Some(e._1)))
        } else {
          val slide = r.frequencyMilliseconds.getOrElse(w)
          val first = Math.floorDiv(rows.map(_._3).min - w, slide) * slide
          (first to last - w by slide).flatMap { start =>
            val in = rows.filter(x => x._3 >= start && x._3 < start + w)
            if (in.isEmpty) None
            else fire(r, in, countScale = 6).map(agg => (id, key, start, agg, None))
          }
        }
      }
    }.sorted
  }

  test("fired alerts equal a naive per-event and per-window scan") {
    val gen = for {
      rs <- rules
      evs <- events
      cs <- cuts(evs)
      parts <- Gen.oneOf(1, 4)
    } yield (rs, evs, cs, parts)
    // what fired across all cases: the property must not hold vacuously
    val kinds = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(gen) { case (rs, evs, cs, parts) =>
      val sliced = (0 +: cs).zip(cs :+ evs.size).map { case (a, b) => evs.slice(a, b) }
      val want = model(rs, evs)
      want.foreach { case (_, _, _, agg, seq) =>
        kinds += (if (seq.isEmpty) "periodic" else "per-event")
        if (agg.isEmpty) kinds += "null"
      }
      val got = engine(rs, sliced, parts)
      (got == want) :| s"cuts at $cs, $parts partitions, rules $rs, events $evs\n" +
        s"engine only: ${got.diff(want)}\nmodel only: ${want.diff(got)}"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(6)
      .withWorkers(1)
      .withInitialSeed(Seed(20261019L))
    val res = Test.check(params, prop)
    assert(res.passed, res.status)
    assert(kinds == Set("periodic", "per-event", "null"), s"kinds fired: $kinds")
  }

  private val avg = Rule(
    queryId = Some(7L),
    groupingKeyNames = Seq("carId"),
    aggregateFieldName = Some("speed"),
    aggregatorFunctionType = Some(AggregatorType.Avg),
    limitOperatorType = Some(CompareOp.Greater),
    limit = Some(BigDecimal(50)),
    windowMilliseconds = Some(10000L),
    frequencyMilliseconds = Some(0L))

  private def run(rule: Rule, batches: Seq[(Int, Long, Option[Double])]*)
      : List[(String, Long, String)] = {
    val engine = new DynamicActiveEngine()
    engine.store.merge(rule)
    val out = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => out.synchronized { out ++= as })
    batches.foreach { b =>
      engine.processBatch(b.map { case (car, ts, sp) => (car, new Timestamp(ts), sp) }
        .toDF("carId", "ts", "speed"), "ts")
    }
    out.synchronized(out.toList).map(a => (a.key, a.tsMillis, a.aggregate)).sortBy(_._2)
  }

  test("per-event AVG matches brute force across micro-batches") {
    val t = 1700000000000L
    val batch1 = Seq((1, t, 60.0), (1, t + 3000, 40.0), (2, t + 1000, 90.0))
    val batch2 = Seq(
      (1, t + 9000, 80.0),   // window still covers t
      (1, t + 14000, 20.0),  // t and t + 3000 evicted
      (2, t + 20000, 10.0))  // all of batch1 for car 2 evicted
    val all = batch1 ++ batch2
    // brute force: the mean of every event of the car in [t − w, t]
    val want = all.flatMap { case (car, ts, _) =>
      val in = all.filter(e => e._1 == car && e._2 >= ts - 10000 && e._2 <= ts)
      val mean = (in.map(e => BigDecimal(e._3)).sum / in.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if (mean > 50) Some((s"{carId=$car}", ts, mean.bigDecimal.toPlainString)) else None
    }.sortBy(_._2)
    assert(want.map(_._2) == Seq(t, t + 1000, t + 9000))
    assert(run(avg, valued(batch1), valued(batch2)) == want)
  }

  private def valued(b: Seq[(Int, Long, Double)]) = b.map { case (c, t, v) => (c, t, Some(v)) }

  test("per-event AVG over a null speed divides by the events holding one") {
    val mean = avg.copy(limitOperatorType = None, limit = None)
    val t = 1700000000000L
    val evs = Seq((1, t, Some(60.0)), (1, t + 3000, None), (1, t + 9000, Some(80.0)))
    assert(run(mean, evs).map(_._3) == List("60.000000", "60.000000", "70.000000"))
  }

  test("COUNT emits running in-window counts") {
    val count = avg.copy(aggregateFieldName = Some(Rule.CountSentinel),
      aggregatorFunctionType = None, limitOperatorType = None, limit = None)
    val t = 1700000100000L
    val evs = Seq((3, t, 1.0), (3, t + 1000, 1.0), (3, t + 12000, 1.0))
    // 1, 2, then 1: the first two are evicted at +12 s
    assert(run(count, valued(evs)).map(_._3) == List("1", "2", "1"))
    val atLeast2 = count.copy(limitOperatorType = Some(CompareOp.GreaterEqual),
      limit = Some(BigDecimal(2)))
    assert(run(atLeast2, valued(evs)) == List(("{carId=3}", t + 1000, "2")))
  }
}
