package graft

import graft.model._
import graft.streaming.DynamicActiveEngine
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Generated-input parity for the dynamic engine: for a non-spawning
  * rule set (W1 per-event, W2/W3 periodic, W4 passthrough), the fired
  * alerts depend only on the event stream — not on where the stream is
  * cut into micro-batches, nor on how each batch is partitioned. Spawning
  * rules are left out on purpose: a spawned child takes effect at the
  * next batch, so its output legitimately depends on the cuts. */
class DynamicEnginePropSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000000L - (1700000000000L % 10000L)

  private val perEventAvg = Rule(
    queryId = Some(1L),
    groupingKeyNames = Seq("carId"),
    aggregateFieldName = Some("speed"),
    aggregatorFunctionType = Some(AggregatorType.Avg),
    limitOperatorType = Some(CompareOp.Greater),
    limit = Some(BigDecimal(60)),
    windowMilliseconds = Some(10000L),
    frequencyMilliseconds = Some(0L))
  private val perEventCount = Rule(
    queryId = Some(2L),
    groupingKeyNames = Seq("carId"),
    aggregateFieldName = Some(Rule.CountSentinel),
    limitOperatorType = Some(CompareOp.GreaterEqual),
    limit = Some(BigDecimal(2)),
    windowMilliseconds = Some(5000L),
    frequencyMilliseconds = Some(0L))
  private val tumblingSum = Rule(
    queryId = Some(3L),
    groupingKeyNames = Seq("carId"),
    aggregateFieldName = Some("speed"),
    aggregatorFunctionType = Some(AggregatorType.Sum),
    limitOperatorType = Some(CompareOp.Greater),
    limit = Some(BigDecimal(50)),
    windowMilliseconds = Some(10000L))
  private val slidingMax = Rule(
    queryId = Some(4L),
    groupingKeyNames = Seq("carId"),
    aggregateFieldName = Some("speed"),
    aggregatorFunctionType = Some(AggregatorType.Max),
    limitOperatorType = Some(CompareOp.Greater),
    limit = Some(BigDecimal(90)),
    windowMilliseconds = Some(10000L),
    frequencyMilliseconds = Some(5000L))
  private val passthrough = Rule(
    queryId = Some(5L),
    windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "100")))
  private val rules = Seq(perEventAvg, perEventCount, tumblingSum, slidingMax, passthrough)

  private type Ev = (Int, java.sql.Timestamp, Double)

  /** A car-event stream in strictly increasing event time: a cut then
    * never splits two events that a single batch would order by payload. */
  private val events: Gen[Vector[Ev]] = for {
    n <- Gen.choose(20, 50)
    gaps <- Gen.listOfN(n, Gen.choose(1, 1500))
    cars <- Gen.listOfN(n, Gen.choose(0, 2))
    speeds <- Gen.listOfN(n, Gen.choose(0, 120))
  } yield gaps.scanLeft(base)(_ + _).tail.lazyZip(cars).lazyZip(speeds)
    .map((ts, car, sp) => (car, new java.sql.Timestamp(ts), sp.toDouble)).toVector

  /** 1 to 3 cut points, taken in event-time order. */
  private def cuts(n: Int): Gen[Seq[Int]] =
    Gen.choose(1, 3).flatMap(k => Gen.pick(k, 1 until n)).map(_.toSeq.sorted)

  private def fired(batches: Seq[Seq[Ev]], partitions: Int): List[Alert] = {
    val engine = new DynamicActiveEngine()
    rules.foreach(engine.store.merge(_))
    val out = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => out.synchronized { out ++= as })
    batches.foreach { b =>
      engine.processBatch(
        spark.sparkContext.parallelize(b, partitions).toDF("carId", "ts", "speed"), "ts")
    }
    out.synchronized(out.toList)
      .sortBy(a => (a.ruleId, a.key, a.tsMillis, a.aggregate, a.payload))
  }

  test("fired alerts are invariant under batch cuts and input partitioning") {
    val gen = for {
      evs <- events
      cs <- cuts(evs.size)
      parts <- Gen.oneOf(1, 4)
    } yield (evs, cs, parts)
    val prop = Prop.forAllNoShrink(gen) { case (evs, cs, parts) =>
      val sliced = (0 +: cs).zip(cs :+ evs.size).map { case (a, b) => evs.slice(a, b) }
      val oneBatch = fired(Seq(evs), 1)
      val modes = oneBatch.map(_.ruleId).toSet
      ((modes(1L) || modes(2L)) && (modes(3L) || modes(4L)) && modes(5L)) :|
        s"reference run fires every emission mode: $modes" &&
      (fired(Seq(evs), 4) == oneBatch) :| "one batch, 4 partitions" &&
      (fired(sliced, parts) == oneBatch) :| s"cuts at $cs, $parts partitions"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(6)
      .withWorkers(1)
      .withInitialSeed(Seed(20261018L))
    val res = Test.check(params, prop)
    assert(res.passed, res.status)
  }
}
