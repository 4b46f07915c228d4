package graft

import graft.active.RuleStore
import graft.model._
import graft.sources.RuleFileSource
import graft.streaming.DynamicActiveEngine
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The dynamic engine's defining behaviors, in the reference's terms:
  * rules live-join a running query (C1/S1/S2), the ECA loop closes inside
  * one run (C4), mixed emission modes dispatch together (W1+W2/W3+W4),
  * and CLEAR_STATE_ALL empties window state mid-stream (C7). */
class DynamicEngineSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(carId: Int, ts: java.sql.Timestamp, speed: Double)
  def ev(carId: Int, tsMs: Long, speed: Double) =
    Ev(carId, new java.sql.Timestamp(tsMs), speed)

  private def runBatches(engine: DynamicActiveEngine,
      batches: Seq[Seq[Ev]]): Unit = {
    val input = MemoryStream[Ev](spark)
    val q = engine.writer(input.toDF(), "ts")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
  }

  test("ECA loop closes in one run: spawned child rule fires an alert (C4)") {
    val child = Rule(
      queryId = Some(99L), // template id; spawn stamps a fresh Snowflake id
      groupingKeyNames = Seq("$carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Max),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(100)),
      windowMilliseconds = Some(60000L),
      frequencyMilliseconds = Some(0L),
      lastTime = Some(-1L))
    val parent = Rule(
      queryId = Some(1L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some(Rule.CountSentinel),
      limitOperatorType = Some(CompareOp.GreaterEqual),
      limit = Some(BigDecimal(2)),
      windowMilliseconds = Some(60000L),
      frequencyMilliseconds = Some(0L),
      alertRules = Seq(child))

    val engine = new DynamicActiveEngine()
    engine.store.merge(parent)
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    val base = 1700000000000L
    runBatches(engine, Seq(
      // batch 1: two events for car 7 -> parent COUNT>=2 fires -> child
      // spawned with filter carId=7, keyed on carId
      Seq(ev(7, base, 50), ev(7, base + 1000, 60)),
      // batch 2: car 7 at speed 150 -> child MAX>100 fires; car 8 matches
      // no child (its parent count is 1, and the spawned filter is carId=7)
      Seq(ev(7, base + 2000, 150), ev(8, base + 2000, 150))))

    val childLive = engine.store.snapshot().filter(_.activeId.contains(1L))
    assert(childLive.size == 1, "exactly one child spawned (C5 dedup)")
    val childId = childLive.head.queryId.get
    val childAlerts = fired.synchronized(fired.filter(_.ruleId == childId))
    assert(childAlerts.nonEmpty, "spawned child fired in the same run")
    assert(childAlerts.forall(_.key == "{carId=7}"))
    assert(childAlerts.exists(_.aggregate.startsWith("150")))
  }

  test("mixed store dispatches W1 per-event, W2 periodic and W4 passthrough together") {
    val perEvent = Rule(
      queryId = Some(10L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Avg),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(50)),
      windowMilliseconds = Some(10000L),
      frequencyMilliseconds = Some(0L))
    val tumbling = Rule(
      queryId = Some(11L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      windowMilliseconds = Some(10000L)) // frequency absent -> tumbling
    val passthrough = Rule(
      queryId = Some(12L),
      windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "80")))

    val engine = new DynamicActiveEngine()
    Seq(perEvent, tumbling, passthrough).foreach(engine.store.merge(_))
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    // base aligned to the 10 s tumbling grid so window membership is plain
    val base = 1700000000000L - (1700000000000L % 10000L)
    runBatches(engine, Seq(
      Seq(ev(1, base + 1000, 60), ev(1, base + 2000, 90)),
      // batch 2 pushes event time past the first window's end -> W2 emits
      Seq(ev(1, base + 15000, 10))))

    val got = fired.synchronized(fired.toList)
    // W1: avg 60 > 50 fires at +1000; avg 75 > 50 fires at +2000
    val w1 = got.filter(_.ruleId == 10L)
    assert(w1.map(_.tsMillis).toSet == Set(base + 1000, base + 2000))
    // W2: window [base, base+10000) closed by batch 2: SUM = 150
    val w2 = got.filter(_.ruleId == 11L)
    assert(w2.size == 1)
    assert(w2.head.tsMillis == base && BigDecimal(w2.head.aggregate) == BigDecimal(150))
    // W4: only the speed-90 event passes the filter
    val w4 = got.filter(_.ruleId == 12L)
    assert(w4.map(_.tsMillis) == List(base + 2000))
  }

  test("periodic rules sharing a window keep their own aggregator and HAVING (W2)") {
    // Five periodic rules sharing (window=10s, tumbling): each rule's
    // window carries its own aggregate, rendered at scale 6, and fires on
    // its own HAVING.
    def mk(id: Long, agg: Option[AggregatorType], field: String,
        op: Option[CompareOp], lim: Option[Int]) = Rule(
      queryId = Some(id),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some(field),
      aggregatorFunctionType = agg,
      limitOperatorType = op,
      limit = lim.map(BigDecimal(_)),
      windowMilliseconds = Some(10000L)) // frequency absent -> tumbling
    val rules = Seq(
      mk(60L, Some(AggregatorType.Sum), "speed", Some(CompareOp.Greater), Some(30)),
      mk(61L, Some(AggregatorType.Avg), "speed", None, None),
      mk(62L, Some(AggregatorType.Min), "speed", Some(CompareOp.Less), Some(10)),
      mk(63L, Some(AggregatorType.Max), "speed", Some(CompareOp.Greater), Some(100)),
      mk(64L, None, Rule.CountSentinel, Some(CompareOp.GreaterEqual), Some(3)))

    val engine = new DynamicActiveEngine()
    rules.foreach(engine.store.merge(_))
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    val base = 1700000000000L - (1700000000000L % 10000L)
    runBatches(engine, Seq(
      Seq(ev(1, base + 1000, 10), ev(1, base + 2000, 20), ev(1, base + 3000, 5)),
      Seq(ev(1, base + 15000, 1)))) // closes the first window

    val got = fired.synchronized(fired.toList).filter(_.tsMillis == base)
    def aggOf(id: Long) = got.filter(_.ruleId == id).map(_.aggregate)
    assert(aggOf(60L) == List("35.000000"))        // SUM 35 > 30 fires
    assert(aggOf(61L) == List("11.666667"))        // AVG 35/3, HALF_UP @6
    assert(aggOf(62L) == List("5.000000"))         // MIN 5 < 10 fires
    assert(aggOf(63L).isEmpty, s"MAX 20 !> 100 must not fire: $got")
    assert(aggOf(64L) == List("3.000000"))         // COUNT 3 >= 3 fires
  }

  test("CLEAR_STATE_ALL empties window state mid-stream; _STOP cancels a pending clear (C7)") {
    val rule = Rule(
      queryId = Some(20L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(0)),
      windowMilliseconds = Some(100000L),
      frequencyMilliseconds = Some(0L))
    val engine = new DynamicActiveEngine()
    engine.store.merge(rule)
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    val base = 1700000000000L
    val input = MemoryStream[Ev](spark)
    val q = engine.writer(input.toDF(), "ts")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      input.addData(ev(1, base, 10), ev(1, base + 1000, 20))
      q.processAllAvailable()
      // a cancelled clear leaves state intact
      engine.store.merge(Rule(queryState = QueryState.Control,
        controlType = Some(ControlType.ClearStateAll)))
      engine.store.merge(Rule(queryState = QueryState.Control,
        controlType = Some(ControlType.ClearStateAllStop)))
      input.addData(ev(1, base + 2000, 5))
      q.processAllAvailable()
      // now a real clear: the next aggregate restarts from empty
      engine.store.merge(Rule(queryState = QueryState.Control,
        controlType = Some(ControlType.ClearStateAll)))
      input.addData(ev(1, base + 3000, 7))
      q.processAllAvailable()
    } finally q.stop()

    val sums = fired.synchronized(fired.toList).sortBy(_.tsMillis)
      .map(a => BigDecimal(a.aggregate).toDouble)
    // 10, 30 (10+20), 35 (clear was cancelled), then 7 (state cleared)
    assert(sums == List(10.0, 30.0, 35.0, 7.0))
  }

  test("alerts do not depend on how many other rules are live") {
    def run(extraInert: Int): List[Alert] = {
      val active = Rule(
        queryId = Some(50L),
        groupingKeyNames = Seq("carId"),
        aggregateFieldName = Some("speed"),
        aggregatorFunctionType = Some(AggregatorType.Sum),
        limitOperatorType = Some(CompareOp.Greater),
        limit = Some(BigDecimal(0)),
        windowMilliseconds = Some(10000L),
        frequencyMilliseconds = Some(0L))
      // inert rules: filters that match no event, so they contribute
      // nothing but rule-count
      val inert = (0 until extraInert).map(i => active.copy(
        queryId = Some(1000L + i),
        windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "1e9"))))
      val engine = new DynamicActiveEngine()
      (active +: inert).foreach(engine.store.merge(_))
      val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
      engine.onAlerts(as => fired.synchronized { fired ++= as })
      val base = 1700000000000L
      runBatches(engine, Seq(
        Seq(ev(1, base, 10), ev(2, base + 500, 20)),
        Seq(ev(1, base + 1000, 5))))
      fired.synchronized(fired.toList).sortBy(a => (a.key, a.tsMillis))
    }
    val few = run(0)    // 1 rule
    val many = run(40)  // 41 rules
    assert(many == few && few.size == 3)
  }

  /** `extraInert` rules whose filter matches no event. */
  private def inertLike(like: Rule, extraInert: Int): Seq[Rule] =
    (0 until extraInert).map(i => like.copy(queryId = Some(5000L + i),
      windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "1e9"))))

  /** (ruleId, key, tsMillis, aggregate) of what `rules` fire on `batch`. */
  private def fire(rules: Seq[Rule], batch: org.apache.spark.sql.DataFrame)
      : List[(Long, String, Long, BigDecimal)] = {
    val engine = new DynamicActiveEngine()
    rules.foreach(engine.store.merge(_))
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })
    engine.processBatch(batch, "ts")
    fired.synchronized(fired.toList)
      .map(a => (a.ruleId, a.key, a.tsMillis, BigDecimal(a.aggregate))).sorted
  }

  test("a null grouping-key value keys as {carId=null} whatever the rule count") {
    val sum = Rule(
      queryId = Some(60L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      windowMilliseconds = Some(10000L),
      frequencyMilliseconds = Some(0L))
    val base = 1700000000000L
    val batch = Seq[(Option[Int], java.sql.Timestamp, Double)](
      (Some(1), new java.sql.Timestamp(base), 10),
      (None, new java.sql.Timestamp(base + 500), 20),
      (None, new java.sql.Timestamp(base + 1000), 5)).toDF("carId", "ts", "speed")
    val alone = fire(Seq(sum), batch)
    val many = fire(sum +: inertLike(sum, 40), batch)
    assert(alone == many)
    assert(alone.map(a => (a._2, a._4)) ==
      List(("{carId=1}", BigDecimal(10)), ("{carId=null}", BigDecimal(20)),
        ("{carId=null}", BigDecimal(25))))
    // the global group is another state: a keyless rule sums every row
    val global = fire(Seq(sum.copy(groupingKeyNames = Nil)), batch)
    assert(global.map(a => (a._2, a._4)) ==
      List(("{}", BigDecimal(10)), ("{}", BigDecimal(30)), ("{}", BigDecimal(35))))
  }

  test("a numeric filter on a non-numeric string cell drops the row, not the batch") {
    val valid = Rule(
      queryId = Some(70L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      windowMilliseconds = Some(10000L),
      frequencyMilliseconds = Some(0L))
    // arrives at runtime: `>` on a string column holding "n/a"
    val plate = valid.copy(queryId = Some(71L),
      windowFilterRules = Seq(FilterSpec("plate", CompareOp.Greater, "5")))
    val base = 1700000000000L
    val batch = Seq(
      (1, "12", new java.sql.Timestamp(base), 10.0),
      (1, "n/a", new java.sql.Timestamp(base + 500), 20.0),
      (2, "3", new java.sql.Timestamp(base + 1000), 5.0),
      (2, "9", new java.sql.Timestamp(base + 1500), 1.0)).toDF("carId", "plate", "ts", "speed")
    val alone = fire(Seq(valid), batch)
    assert(alone.size == 4)
    for (extra <- Seq(0, 40)) {
      val out = fire(Seq(valid, plate) ++ inertLike(valid, extra), batch)
      assert(out.filter(_._1 == 70L) == alone, s"$extra inert rules")
      assert(out.filter(_._1 == 71L).map(a => (a._2, a._3)) ==
        List(("{carId=1}", base), ("{carId=2}", base + 1500)), s"$extra inert rules")
    }
  }

  test("200 periodic rules sharing a window evaluate in one batch without plan blowup") {
    // Rules are data to the keyed pass, so the plan does not grow with the
    // rule count: 200 same-window rules with thresholds 0..199 each fire
    // on their own HAVING, inside a wall-clock bound that a plan with one
    // branch per rule (200 to analyze) reliably blows through.
    val rules = (0 until 200).map { i =>
      Rule(
        queryId = Some(2000L + i),
        groupingKeyNames = Seq("carId"),
        aggregateFieldName = Some("speed"),
        aggregatorFunctionType = Some(AggregatorType.Sum),
        limitOperatorType = Some(CompareOp.Greater),
        limit = Some(BigDecimal(i)), // thresholds 0..199
        windowMilliseconds = Some(10000L))
    }
    val engine = new DynamicActiveEngine()
    rules.foreach(engine.store.merge(_))
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    val base = 1700000000000L - (1700000000000L % 10000L)
    val t0 = System.nanoTime()
    runBatches(engine, Seq(
      Seq(ev(1, base + 1000, 60), ev(1, base + 2000, 40)),
      Seq(ev(1, base + 15000, 1))))
    val secs = (System.nanoTime() - t0) / 1e9
    // SUM = 100 for window [base, base+10s): rules with limit < 100 fire
    val got = fired.synchronized(fired.toList).filter(_.tsMillis == base)
    assert(got.size == 100, s"expected 100 firing rules, got ${got.size}")
    assert(got.forall(_.aggregate == "100.000000"))
    assert(got.map(_.ruleId).toSet == (2000L until 2100L).toSet)
    assert(secs < 60, s"200-rule batch took ${secs}s — plan-size blowup?")
  }

  test("finalizeThrough emits a stalled source's periodic window exactly once (W2/W3)") {
    val rule = Rule(
      queryId = Some(45L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      windowMilliseconds = Some(10000L)) // tumbling
    val engine = new DynamicActiveEngine()
    engine.store.merge(rule)
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    val base = 1700000000000L - (1700000000000L % 10000L)
    // one batch inside the window, then the source goes quiet: event-time
    // emission alone would never finalize the window
    runBatches(engine, Seq(Seq(ev(1, base + 1000, 10), ev(1, base + 2000, 20))))
    assert(fired.synchronized(fired.isEmpty), "window must not emit early")

    engine.finalizeThrough(base + 10000) // the processing-time timer tick
    val got = fired.synchronized(fired.toList)
    assert(got.map(a => (a.ruleId, a.tsMillis, a.aggregate)) ==
      List((45L, base, "30.000000")))

    // emit-once horizon: a later tick (or late event time) must not re-fire
    engine.finalizeThrough(base + 20000)
    assert(fired.synchronized(fired.size) == 1)
  }

  test("runaway finalizer clock cannot suppress future event-time windows (horizon clamp)") {
    // The hazard: a wall-clock ticker against lagging/replayed event
    // times used to advance the emit-once horizon arbitrarily far ahead,
    // permanently suppressing every window the source would fill after
    // catching up. The clamp bounds the advance to
    // maxSeenTs + max(window + slide) over live periodic rules.
    val rule = Rule(
      queryId = Some(46L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      windowMilliseconds = Some(10000L)) // tumbling 10 s
    val engine = new DynamicActiveEngine()
    engine.store.merge(rule)
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    val base = 1700000000000L - (1700000000000L % 10000L)
    runBatches(engine, Seq(Seq(ev(1, base + 1000, 10), ev(1, base + 2000, 20))))

    // a wall clock 100 days ahead of event time ticks the finalizer:
    // window 1 (has data) must emit; the horizon must NOT race ahead
    engine.finalizeThrough(base + 100L * 86400000L)
    assert(fired.synchronized(fired.toList).map(_.tsMillis) == List(base),
      "window holding data finalizes even under a runaway clock")

    // the source catches up: events land in window 3 and a later batch
    // advances event time past its end — event-time emission must still
    // work (pre-clamp, emittedThrough sat 100 days ahead and ate it)
    runBatches(engine, Seq(
      Seq(ev(1, base + 21000, 5), ev(1, base + 22000, 7)),
      Seq(ev(1, base + 31000, 1))))
    val got = fired.synchronized(fired.toList).map(a => (a.tsMillis, a.aggregate))
    assert(got.contains((base + 20000, "12.000000")),
      s"window after the clock jump still emits by event time: $got")
  }

  test("driver restart recovers window state from the checkpoint (W5 fault tolerance)") {
    val rule = Rule(
      queryId = Some(40L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(0)),
      windowMilliseconds = Some(100000L),
      frequencyMilliseconds = Some(0L))
    val base = 1700000000000L
    val b1 = Seq(ev(1, base, 10), ev(1, base + 1000, 20))
    val b2 = Seq(ev(1, base + 2000, 5))

    def alertsOf(run: => List[Alert]): List[(Long, String)] =
      run.sortBy(_.tsMillis).map(a => (a.tsMillis, a.aggregate))

    // continuous run: both batches through one engine
    val continuous = alertsOf {
      val e = new DynamicActiveEngine()
      e.store.merge(rule)
      val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
      e.onAlerts(as => fired.synchronized { fired ++= as })
      runBatches(e, Seq(b1, b2))
      fired.synchronized(fired.toList)
    }

    // checkpointed run: engine A takes batch 1 and dies; engine B restores
    // (rules via RuleStore.save/load, window state via restoreCheckpoint)
    // and takes batch 2
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val rulesFile = ckpt.resolve("rules.jsonl")
    val engineA = new DynamicActiveEngine(checkpointDir = Some(ckpt.toString))
    engineA.store.merge(rule)
    val firedA = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engineA.onAlerts(as => firedA.synchronized { firedA ++= as })
    runBatches(engineA, Seq(b1))
    engineA.store.save(rulesFile)

    val engineB = new DynamicActiveEngine(store = RuleStore.load(rulesFile))
    engineB.restoreCheckpoint(spark, ckpt.toString)
    val firedB = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engineB.onAlerts(as => firedB.synchronized { firedB ++= as })
    runBatches(engineB, Seq(b2))

    val restarted = alertsOf(firedA.synchronized(firedA.toList)) ++
      alertsOf(firedB.synchronized(firedB.toList))
    // batch-2 alert must see batch-1 state: SUM = 10+20+5 = 35
    assert(restarted == continuous,
      s"restart diverged: $restarted vs $continuous")
    assert(restarted.last._2.startsWith("35"))
  }

  test("checkpoint persists the horizon only after delivery succeeds (at-least-once)") {
    // A periodic window's emission is gated by the checkpointed emit-once
    // horizon, so checkpoint-before-delivery would turn a crash between
    // the two into SILENT loss: the restored horizon suppresses the
    // never-delivered window forever. The engine must write the
    // checkpoint after the sink returns — a failed delivery keeps the
    // previous horizon on disk and recovery re-emits (duplicate, not loss).
    val rule = Rule(
      queryId = Some(41L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(0)),
      windowMilliseconds = Some(10000L),
      frequencyMilliseconds = Some(10000L)) // tumbling 10 s
    val base = 1700000000000L // aligned to the 10 s window grid
    def batchDf(evs: (Int, Long, Double)*) =
      evs.map { case (c, ts, sp) => (c, new java.sql.Timestamp(ts), sp) }
        .toDF("carId", "ts", "speed")
    val b1 = batchDf((1, base + 1000, 10), (1, base + 10500, 20))
    val b2 = batchDf((1, base + 20500, 5))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-alo")
    val engineA = new DynamicActiveEngine(checkpointDir = Some(ckpt.toString))
    engineA.store.merge(rule)
    @volatile var sinkUp = true
    val firedA = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engineA.onAlerts { as =>
      if (!sinkUp) throw new RuntimeException("sink down")
      firedA.synchronized { firedA ++= as }
    }
    // batch 1 delivers fine: window [base, base+10s) fires (sum 10),
    // checkpoint lands with horizon base+10.5s
    engineA.processBatch(b1, "ts")
    assert(firedA.synchronized(firedA.toList).map(_.aggregate).exists(_.startsWith("10")))
    // batch 2: window [base+10s, base+20s) (sum 20) fires but the sink is
    // down — the engine dies mid-delivery, BEFORE its checkpoint write
    sinkUp = false
    intercept[RuntimeException] { engineA.processBatch(b2, "ts") }

    // recovery: a fresh engine restores the surviving checkpoint and
    // replays batch 2 — the window the crash swallowed must RE-EMIT
    val engineB = new DynamicActiveEngine()
    engineB.store.merge(rule)
    engineB.restoreCheckpoint(spark, ckpt.toString)
    val firedB = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engineB.onAlerts(as => firedB.synchronized { firedB ++= as })
    engineB.processBatch(b2, "ts")
    val got = firedB.synchronized(firedB.toList).map(a => (a.tsMillis, a.aggregate))
    assert(got.exists { case (ts, agg) => ts == base + 10000 && agg.startsWith("20") },
      s"batch-2 window lost after recovery (at-most-once regression): $got")
  }

  test("the retained tail stays within defaultParallelism partitions on both fan-out sides") {
    // tail ∪ fresh keeps the partitions of both sides, so an unbounded
    // tail grows by the fresh side's partition count every batch and
    // each later batch scans all of them
    val maxParts = spark.sparkContext.defaultParallelism
    val perEvent = Rule(
      queryId = Some(80L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Sum),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(0)),
      windowMilliseconds = Some(60000L),
      frequencyMilliseconds = Some(0L))
    val periodic = perEvent.copy(queryId = Some(81L), frequencyMilliseconds = None)
    val base = 1700000000000L
    def batchDf(i: Int) = spark.sparkContext.parallelize(
      (0 until 8).map(j => (j % 3, new java.sql.Timestamp(base + i * 1000L + j), j.toDouble)),
      4).toDF("carId", "ts", "speed")

    for (inert <- Seq(0, 40)) { // 2 and 42 live rules
      val rules = Seq(perEvent, periodic) ++ (0 until inert).map(i => perEvent.copy(
        queryId = Some(3000L + i),
        windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "1e9"))))
      val engine = new DynamicActiveEngine()
      rules.foreach(engine.store.merge(_))
      for (i <- 0 until 10) {
        engine.processBatch(batchDf(i), "ts")
        assert(engine.tailPartitions > 0 && engine.tailPartitions <= maxParts,
          s"$inert inert rules, batch $i: tail has ${engine.tailPartitions} partitions")
      }
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-tail")
      engine.saveCheckpoint(spark, ckpt.toString)
      val restored = new DynamicActiveEngine()
      rules.foreach(restored.store.merge(_))
      restored.restoreCheckpoint(spark, ckpt.toString)
      assert(restored.tailPartitions > 0 && restored.tailPartitions <= maxParts,
        s"$inert inert rules, restored tail has ${restored.tailPartitions} partitions")
    }
  }

  test("a batch on a mixed store runs at most 2 Spark jobs") {
    // The fresh side's max, then one job for the keyed pass, its alert
    // collect and the tail checkpoint. Re-planning tail ∪ fresh and
    // checkpointing it in a job of its own cost 5; separate plans per
    // rule kind cost 18.
    val perEvent = Rule(
      queryId = Some(90L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Avg),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(0)),
      windowMilliseconds = Some(10000L),
      frequencyMilliseconds = Some(0L))
    val tumbling = perEvent.copy(queryId = Some(91L), frequencyMilliseconds = None,
      aggregatorFunctionType = Some(AggregatorType.Sum))
    val sliding = tumbling.copy(queryId = Some(92L), frequencyMilliseconds = Some(3000L))
    val passthrough = Rule(queryId = Some(93L),
      windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "5")))
    // 40 inert rules: the bound holds at 44 live rules
    val inert = (0 until 40).map(i => perEvent.copy(queryId = Some(4000L + i),
      windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "1e9"))))
    val engine = new DynamicActiveEngine()
    (Seq(perEvent, tumbling, sliding, passthrough) ++ inert).foreach(engine.store.merge(_))
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })
    val base = 1700000000000L
    val counts = new graft.util.JobCounts(spark)
    val jobs = (0 until 4).map { i =>
      val batch = spark.sparkContext.parallelize(
        (0 until 8).map(j => (j % 3, new java.sql.Timestamp(base + i * 4000L + j * 400L),
          j.toDouble)), 4).toDF("carId", "ts", "speed")
      counts.region("engine") { engine.processBatch(batch, "ts") }
      counts.take("engine")._1
    }
    val ids = fired.synchronized(fired.map(_.ruleId).toSet)
    assert(Set(90L, 91L, 92L, 93L).subsetOf(ids), s"every rule kind fired: $ids")
    assert(jobs.forall(_ <= 2), s"jobs per batch: $jobs")
  }

  test("a batch shuffles only its own fanned-out rows, however large the tail") {
    // a per-event COUNT over an hour: every batch's rows stay in the tail,
    // and the running count shows the tail holds them all
    val count = Rule(
      queryId = Some(95L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some(Rule.CountSentinel),
      windowMilliseconds = Some(3600000L),
      frequencyMilliseconds = Some(0L))
    val engine = new DynamicActiveEngine()
    engine.store.merge(count)
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })
    // shuffle records written by the tasks of the stages the region submits
    val region = "engine-shuffle"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(p => p.getProperty(graft.util.JobCounts.Key) == region))
          stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val counts = new graft.util.JobCounts(spark)
    val base = 1700000000000L
    val perBatch = 12
    try for (i <- 0 until 10) {
      val batch = spark.sparkContext.parallelize(
        (0 until perBatch).map(j => (j % 3, new java.sql.Timestamp(base + i * 1000L + j),
          j.toDouble)), 4).toDF("carId", "ts", "speed")
      counts.region(region) { engine.processBatch(batch, "ts") }
      counts.take(region) // drains the listener bus
      assert(written.getAndSet(0) == perBatch, s"batch $i")
      val total = fired.synchronized(fired.map(_.aggregate.toLong).max)
      assert(total == (i + 1) * perBatch / 3, s"batch $i: running count $total")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("RuleStore save/load round-trips through the MERGE path") {
    val store = new RuleStore
    val rule = Rule(
      queryId = Some(77L),
      windowFilterRules = Seq(FilterSpec("speed", CompareOp.Greater, "10")),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some("speed"),
      aggregatorFunctionType = Some(AggregatorType.Max),
      limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(50)),
      windowMilliseconds = Some(5000L),
      frequencyMilliseconds = Some(0L))
    store.merge(rule)
    store.merge(rule.copy(queryId = Some(78L), queryState = QueryState.Pause))
    val f = java.nio.file.Files.createTempFile("graft-rules", ".jsonl")
    store.save(f)
    val back = RuleStore.load(f)
    // save persists the ACTIVE snapshot; the paused rule is not in it
    assert(back.snapshot().map(_.queryId) == Seq(Some(77L)))
    assert(back.snapshot().head == store.snapshot().head)
  }

  test("a rule file dropped mid-stream becomes live (S2) and evaluates (C1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rules").toFile
    val engine = new DynamicActiveEngine()
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    val ruleQ = RuleFileSource.attach(spark, engine.store, dir.getAbsolutePath,
      Trigger.ProcessingTime("100 milliseconds"))
    val input = MemoryStream[Ev](spark)
    val q = engine.writer(input.toDF(), "ts")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      val base = 1700000000000L
      // no rules yet: events pass through unretained
      input.addData(ev(1, base, 10)); q.processAllAvailable()
      assert(engine.store.size == 0 && fired.synchronized(fired.isEmpty))
      // drop a rule file (one JSON line + one malformed line to drop)
      java.nio.file.Files.writeString(
        new java.io.File(dir, "rules.json").toPath,
        """{"queryId":30,"groupingKeyNames":["carId"],
           "aggregateFieldName":"speed","aggregatorFunctionType":"MAX",
           "limitOperatorType":">","limit":50,
           "windowMilliseconds":60000,"frequencyMilliseconds":0}"""
          .replaceAll("\n\\s*", "") + "\nnot json\n")
      ruleQ.processAllAvailable()
      assert(engine.store.size == 1, "rule merged from the file stream")
      input.addData(ev(1, base + 1000, 99)); q.processAllAvailable()
    } finally { q.stop(); ruleQ.stop() }

    val got = fired.synchronized(fired.toList)
    assert(got.exists(a => a.ruleId == 30L && a.aggregate.startsWith("99")),
      s"file-sourced rule fired: $got")
  }

  test("rule ingest across a real process boundary (S1 transport face)") {
    // The reference's S1 is rules arriving from OUTSIDE the engine's
    // process (a Kafka topic, App.java:34-43); its own S2 alternative is
    // tailing a file another process writes (RuleFromFile.java:15-43).
    // This drives that exact shape with no broker: a SEPARATE OS process
    // (/bin/sh) produces rule JSON files into a directory the running
    // engine tails via readStream.text — same seam, real process
    // boundary, multiple files over time (tailing, not a one-shot load),
    // ending with a control command through the same transport.
    import scala.sys.process._
    val dir = java.nio.file.Files.createTempDirectory("graft-xproc").toFile
    val engine = new DynamicActiveEngine()
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })
    val ruleQ = RuleFileSource.attach(spark, engine.store, dir.getAbsolutePath,
      Trigger.ProcessingTime("100 milliseconds"))
    val input = MemoryStream[Ev](spark)
    val q = engine.writer(input.toDF(), "ts")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def extWrite(name: String, json: String): Unit = {
      // write via a child process + atomic rename so the file source
      // never observes a half-written file (the reference's file feed
      // has the same whole-line guarantee from Flink's text format)
      val tmp = new java.io.File(dir, s".$name.tmp")
      val cmd = Seq("/bin/sh", "-c",
        s"printf '%s\\n' '$json' > '${tmp.getAbsolutePath}' && " +
          s"mv '${tmp.getAbsolutePath}' '${new java.io.File(dir, name).getAbsolutePath}'")
      assert(cmd.! == 0, s"external writer process failed for $name")
    }
    try {
      val base = 1700000000000L
      extWrite("r1.json",
        """{"queryId":91,"groupingKeyNames":["carId"],""" +
          """"aggregateFieldName":"speed","aggregatorFunctionType":"MAX",""" +
          """"limitOperatorType":">","limit":50,""" +
          """"windowMilliseconds":60000,"frequencyMilliseconds":0}""")
      ruleQ.processAllAvailable()
      assert(engine.store.size == 1, "externally-produced rule merged")
      input.addData(ev(7, base, 88)); q.processAllAvailable()
      // a SECOND file later proves tailing: the source keeps listing
      extWrite("r2.json",
        """{"queryId":92,"groupingKeyNames":["carId"],""" +
          """"aggregateFieldName":"speed","aggregatorFunctionType":"MIN",""" +
          """"limitOperatorType":"<","limit":5,""" +
          """"windowMilliseconds":60000,"frequencyMilliseconds":0}""")
      ruleQ.processAllAvailable()
      assert(engine.store.size == 2, "second external file activates live")
      input.addData(ev(7, base + 1000, 2)); q.processAllAvailable()
      // C7 control command over the same transport: targeted delete
      extWrite("r3.json", """{"queryId":91,"queryState":"DELETE"}""")
      ruleQ.processAllAvailable()
      assert(engine.store.size == 1 &&
        engine.store.snapshot().flatMap(_.queryId) == Seq(92L),
        "DELETE command delivered across the process boundary")
    } finally { q.stop(); ruleQ.stop() }
    val got = fired.synchronized(fired.toList)
    assert(got.exists(a => a.ruleId == 91L && a.aggregate.startsWith("88")),
      s"externally-fed MAX rule fired: $got")
    assert(got.exists(a => a.ruleId == 92L && a.aggregate.startsWith("2")),
      s"externally-fed MIN rule fired after live activation: $got")
  }

  test("attachLines takes any line-shaped stream — the Kafka face (S1/S6)") {
    // The broker-backed deployment is `kafka source → CAST(value AS
    // STRING) → attachLines` (RuleFileSource scaladoc). This exercises
    // that exact merge point with a MemoryStream standing in for the
    // Kafka DataFrame: same single-string-column shape, same lenient
    // decode — so S1's transport contract is tested, not just documented.
    val store = new RuleStore
    val input = MemoryStream[String](spark)
    val q = RuleFileSource.attachLines(input.toDF(), store,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      input.addData(
        """{"queryId":41,"groupingKeyNames":["carId"],
           "aggregateFieldName":"speed","aggregatorFunctionType":"MAX",
           "limitOperatorType":">","limit":50,
           "windowMilliseconds":60000,"frequencyMilliseconds":0}"""
          .replaceAll("\n\\s*", ""),
        "not json",          // S6: malformed line dropped, stream lives on
        "",                  // blank line dropped
        """{"queryId":42,"groupingKeyNames":["carId"],
           "aggregateFieldName":"speed","aggregatorFunctionType":"MIN",
           "limitOperatorType":"<","limit":5,
           "windowMilliseconds":60000,"frequencyMilliseconds":0}"""
          .replaceAll("\n\\s*", ""))
      q.processAllAvailable()
      assert(store.size == 2, "both valid rules merged, junk dropped")
      assert(store.snapshot().flatMap(_.queryId).sorted == Seq(41L, 42L))
      // a later upsert on the same id replaces, not duplicates (C1)
      input.addData(
        """{"queryId":41,"groupingKeyNames":["carId"],
           "aggregateFieldName":"speed","aggregatorFunctionType":"MAX",
           "limitOperatorType":">","limit":80,
           "windowMilliseconds":60000,"frequencyMilliseconds":0}"""
          .replaceAll("\n\\s*", ""))
      q.processAllAvailable()
      assert(store.size == 2)
      assert(store.snapshot().find(_.queryId.contains(41L))
        .flatMap(_.limit).contains(BigDecimal(80)))
    } finally q.stop()
  }

  test("W2 emits on the wall clock when the source stalls") {
    // Reference parity: DynamicQueryFunction.java:118-147 emits periodic
    // windows from a processing-time timer, so a quiet source still
    // reports. The engine's event-time path can't (no events = no new
    // event time); startWallClockFinalizer is the opt-in equivalent.
    val rule = Rule(
      queryId = Some(60L),
      groupingKeyNames = Seq("carId"),
      aggregateFieldName = Some(Rule.CountSentinel),
      limitOperatorType = Some(CompareOp.GreaterEqual),
      limit = Some(BigDecimal(1)),
      windowMilliseconds = Some(60000L),
      frequencyMilliseconds = Some(60000L)) // tumbling 60 s
    val engine = new DynamicActiveEngine()
    engine.store.merge(rule)
    val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    // epoch-aligned so the tumbling 60 s window is exactly [base, base+60000)
    val base = 1699999980000L
    // injected clock on the event-time epoch; starts before the window end
    @volatile var now = base + 30000L
    val input = MemoryStream[Ev](spark)
    val q = engine.writer(input.toDF(), "ts")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val ticker = engine.startWallClockFinalizer(
      periodMs = 50, allowedLatenessMs = 1000, clock = () => now)
    try {
      input.addData(ev(7, base + 1000, 42), ev(7, base + 2000, 43))
      q.processAllAvailable()
      assert(fired.synchronized(fired.isEmpty),
        "window still open — nothing emitted by event time")
      // source stalls; only the clock advances past window end + lateness
      now = base + 61500L
      val deadline = System.currentTimeMillis() + 10000
      while (fired.synchronized(fired.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val got = fired.synchronized(fired.toList)
      assert(got.exists(a => a.ruleId == 60L && a.aggregate.startsWith("2") &&
        a.tsMillis == base),
        s"stalled-source window finalized by the wall clock: $got")
      // emit-once: ticks keep firing, the window must not re-emit
      Thread.sleep(300)
      assert(fired.synchronized(fired.size) == got.size, "no double emission")
    } finally { ticker.close(); q.stop() }
  }
}
