package graft

import graft.model._
import graft.streaming.DynamicActiveEngine
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Generated-input parity for the dynamic engine: for a non-spawning
  * rule set (W1 per-event, W2/W3 periodic, W4 passthrough), the fired
  * alerts depend only on the event stream — not on where the stream is
  * cut into micro-batches, on how each batch is partitioned, nor on a
  * checkpoint restore between two batches. Spawning
  * rules are left out on purpose: a spawned child takes effect at the
  * next batch, so its output legitimately depends on the cuts. */
class DynamicEnginePropSpec extends SparkSpec {
  import spark.implicits._

  // aligned to every window and slide drawn below
  private val base = 1700000000000L - (1700000000000L % 30000L)

  /** One rule of a drawn shape — per-event, tumbling, sliding with a slide
    * that does not divide the window, passthrough, or COUNT (per-event or
    * periodic) — with a random aggregator, HAVING operator and limit. */
  private def rule(id: Long): Gen[Rule] = for {
    shape <- Gen.oneOf("perEvent", "tumbling", "sliding", "passthrough", "count")
    agg <- Gen.oneOf(AggregatorType.all)
    op <- Gen.oneOf(CompareOp.all)
    limit <- Gen.choose(0, 120)
    perEventCount <- Gen.oneOf(true, false)
    threshold <- Gen.oneOf("40", "80", "100")
  } yield {
    val r = Rule(
      queryId = Some(id),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(agg),
      limitOperatorType = Some(op),
      limit = Some(BigDecimal(limit)),
      windowMilliseconds = Some(10000L))
    shape match {
      case "perEvent" => r.copy(frequencyMilliseconds = Some(0L))
      case "tumbling" => r
      case "sliding" => r.copy(frequencyMilliseconds = Some(3000L))
      case "passthrough" => r.copy(windowMilliseconds = None,
        windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, threshold)))
      case _ => r.copy(aggregateFieldName = Some(Rule.CountSentinel),
        aggregatorFunctionType = None, limit = Some(BigDecimal(limit % 5)),
        frequencyMilliseconds = if (perEventCount) Some(0L) else None)
    }
  }

  private val rules: Gen[Seq[Rule]] =
    Gen.choose(1, 6).flatMap(n => Gen.sequence[Seq[Rule], Rule]((1 to n).map(i => rule(i.toLong))))

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

  /** The fired alerts of one engine over `batches`; with `restartAfter`
    * = k, the engine saves a checkpoint after batch k and a new engine
    * restored from it takes the remaining batches. */
  private def fired(rules: Seq[Rule], batches: Seq[Seq[Ev]], partitions: Int,
      restartAfter: Option[Int] = None): List[Alert] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Alert]
    def start(): DynamicActiveEngine = {
      val engine = new DynamicActiveEngine()
      rules.foreach(engine.store.merge(_))
      engine.onAlerts(as => out.synchronized { out ++= as })
      engine
    }
    var engine = start()
    batches.zipWithIndex.foreach { case (b, i) =>
      engine.processBatch(
        spark.sparkContext.parallelize(b, partitions).toDF("carId", "ts", "speed"), "ts")
      if (restartAfter.contains(i)) {
        val dir = java.nio.file.Files.createTempDirectory("graft-prop-ckpt").toString
        engine.saveCheckpoint(spark, dir)
        engine = start()
        engine.restoreCheckpoint(spark, dir)
      }
    }
    out.synchronized(out.toList)
      .sortBy(a => (a.ruleId, a.key, a.tsMillis, a.aggregate, a.payload))
  }

  test("fired alerts are invariant under batch cuts and input partitioning") {
    val gen = for {
      rs <- rules
      evs <- events
      cs <- cuts(evs.size)
      parts <- Gen.oneOf(1, 4)
    } yield (rs, evs, cs, parts)
    // emission kinds that fired across all cases: the property must not
    // hold vacuously
    val kinds = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(gen) { case (rs, evs, cs, parts) =>
      val sliced = (0 +: cs).zip(cs :+ evs.size).map { case (a, b) => evs.slice(a, b) }
      val oneBatch = fired(rs, Seq(evs), 1)
      for (a <- oneBatch; r <- rs.find(_.queryId.contains(a.ruleId)))
        kinds += (if (r.isPassthrough) "passthrough"
          else if (r.isPerEventEmission) "per-event" else "periodic")
      (fired(rs, Seq(evs), 4) == oneBatch) :| "one batch, 4 partitions" &&
      (fired(rs, sliced, parts) == oneBatch) :| s"cuts at $cs, $parts partitions, rules $rs"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(6)
      .withWorkers(1)
      .withInitialSeed(Seed(20261018L))
    val res = Test.check(params, prop)
    assert(res.passed, res.status)
    assert(kinds == Set("passthrough", "per-event", "periodic"), s"kinds fired: $kinds")
  }

  test("an engine restored from a checkpoint fires what the uninterrupted one fires") {
    val gen = for {
      rs <- rules
      evs <- events
      cs <- cuts(evs.size)
      at <- Gen.choose(0, cs.size - 1)
      parts <- Gen.oneOf(1, 4)
    } yield (rs, evs, cs, at, parts)
    val prop = Prop.forAllNoShrink(gen) { case (rs, evs, cs, at, parts) =>
      val sliced = (0 +: cs).zip(cs :+ evs.size).map { case (a, b) => evs.slice(a, b) }
      val uninterrupted = fired(rs, sliced, parts)
      (fired(rs, sliced, parts, restartAfter = Some(at)) == uninterrupted) :|
        s"restart after batch $at of cuts at $cs, $parts partitions, rules $rs"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(6)
      .withWorkers(1)
      .withInitialSeed(Seed(20261020L))
    val res = Test.check(params, prop)
    assert(res.passed, res.status)
  }
}
