package graft

import graft.model._
import graft.streaming.DynamicActiveEngine
import graft.streaming.DynamicActiveEngine.{EngineOut, EngineRow}
import org.scalatest.funsuite.AnyFunSuite

/** The dynamic engine's per-(rule, key) kernel, called directly with no
  * Spark session: window edges, emission bounds, aggregate rendering and
  * eviction, one case each. */
class EngineKernelSpec extends AnyFunSuite {
  // aligned to every window and slide used below
  private val base = 1700000000000L - (1700000000000L % 30000L)
  private val key = "{carId=1}"

  private def row(dt: Long, aggIn: String = "1.000000", fresh: Boolean = true,
      payload: String = "") = EngineRow(1L, key, base + dt, aggIn, payload, fresh)

  /** (alerts as (dt, aggregate), retained rows as dt) */
  private def eval(rule: Rule, rows: Seq[EngineRow], lo: Long = Long.MinValue,
      hi: Long, curMax: Long): (List[(Long, String)], List[Long]) = {
    val out = DynamicActiveEngine.evalGroup(Map(1L -> rule.copy(queryId = Some(1L))),
      1L, key, rows.iterator, lo, hi, curMax).toList
    val (fired, kept) = out.partition(_.fired)
    (fired.map(a => (a.tsMillis - base, a.value)), kept.map(_.tsMillis - base).sorted)
  }

  private val sum = Rule(
    aggregateFieldName = Some("speed"),
    aggregatorFunctionType = Some(AggregatorType.Sum),
    windowMilliseconds = Some(10000L))
  private val count = sum.copy(aggregateFieldName = Some(Rule.CountSentinel),
    aggregatorFunctionType = None)

  test("an event exactly at a window's end belongs to the next window") {
    val rows = Seq(row(1000), row(10000))
    val (fired, _) = eval(count, rows, hi = base + 10000, curMax = base + 10000)
    assert(fired == List((0L, "1.000000")))
    val (later, _) = eval(count, rows, lo = base + 10000, hi = base + 20000,
      curMax = base + 20000)
    assert(later == List((10000L, "1.000000")))
  }

  test("a window is emitted when its end is in (lo, hi]: not at lo, yes at hi") {
    val rows = Seq(row(1000), row(11000), row(21000))
    val (fired, _) = eval(count, rows, lo = base + 10000, hi = base + 20000,
      curMax = base + 21000)
    assert(fired.map(_._1) == List(10000L))
    val (none, _) = eval(count, rows, lo = base + 10000, hi = base + 19999,
      curMax = base + 21000)
    assert(none.isEmpty)
  }

  test("sliding windows whose slide does not divide the window") {
    // window 10 s every 3 s: windows start on the 3 s grid
    val sliding = sum.copy(frequencyMilliseconds = Some(3000L))
    val (fired, _) = eval(sliding, Seq(row(7000, "2.500000")), hi = base + 30000,
      curMax = base + 7000)
    assert(fired == List((0L, "2.500000"), (3000L, "2.500000"), (6000L, "2.500000")))
    // 9 s lies in the windows starting at 0, 3, 6 and 9 s; 12 s is past
    // [0, 10) and lies in those starting at 3, 6, 9 and 12 s
    val (two, _) = eval(sliding, Seq(row(9000), row(12000)), hi = base + 30000,
      curMax = base + 12000)
    assert(two == List((0L, "1.000000"), (3000L, "2.000000"), (6000L, "2.000000"),
      (9000L, "2.000000"), (12000L, "1.000000")))
  }

  test("a window without values has a null aggregate that fires only without HAVING") {
    val rows = Seq(row(1000, aggIn = ""), row(2000, aggIn = ""))
    val (free, _) = eval(sum, rows, hi = base + 10000, curMax = base + 10000)
    assert(free == List((0L, null)))
    val having = sum.copy(limitOperatorType = Some(CompareOp.Greater),
      limit = Some(BigDecimal(0)))
    val (gated, _) = eval(having, rows, hi = base + 10000, curMax = base + 10000)
    assert(gated.isEmpty)
    // AVG counts only the rows holding a value: (1 + 2) / 2, half up
    val avg = sum.copy(aggregatorFunctionType = Some(AggregatorType.Avg))
    val (mean, _) = eval(avg, rows ++ Seq(row(3000, "1.000000"), row(4000, "2.000000")),
      hi = base + 10000, curMax = base + 10000)
    assert(mean == List((0L, "1.500000")))
  }

  test("COUNT renders as an integer per event and at scale 6 per window") {
    val rows = Seq(row(1000, ""), row(2000, ""), row(3000, ""))
    val perEvent = count.copy(frequencyMilliseconds = Some(0L))
    val (events, _) = eval(perEvent, rows, hi = base + 3000, curMax = base + 3000)
    assert(events == List((1000L, "1"), (2000L, "2"), (3000L, "3")))
    val (window, _) = eval(count, rows, hi = base + 10000, curMax = base + 10000)
    assert(window == List((0L, "3.000000")))
  }

  test("per-event AVG over mixed nulls divides by the rows holding a value") {
    val avg = sum.copy(aggregatorFunctionType = Some(AggregatorType.Avg),
      frequencyMilliseconds = Some(0L))
    val rows = Seq(row(1000, "1.000000"), row(2000, ""), row(3000, "2.000000"))
    val (fired, _) = eval(avg, rows, hi = base + 3000, curMax = base + 3000)
    // (1 + 2) / 2, half up; the null row leaves the mean as it was
    assert(fired == List((1000L, "1.000000"), (2000L, "1.000000"), (3000L, "1.500000")))
  }

  test("per-event SUM over only nulls is null and fires only without HAVING") {
    val perEvent = sum.copy(frequencyMilliseconds = Some(0L))
    val rows = Seq(row(1000, ""), row(2000, ""))
    val (free, _) = eval(perEvent, rows, hi = base + 2000, curMax = base + 2000)
    assert(free == List((1000L, null), (2000L, null)))
    val having = perEvent.copy(limitOperatorType = Some(CompareOp.GreaterEqual),
      limit = Some(BigDecimal(0)))
    val (gated, _) = eval(having, rows, hi = base + 2000, curMax = base + 2000)
    assert(gated.isEmpty)
  }

  test("per-event COUNT counts the rows without a value") {
    val perEvent = count.copy(frequencyMilliseconds = Some(0L))
    val rows = Seq(row(1000, ""), row(2000, "5.000000"), row(3000, ""))
    val (fired, _) = eval(perEvent, rows, hi = base + 3000, curMax = base + 3000)
    assert(fired == List((1000L, "1"), (2000L, "2"), (3000L, "3")))
  }

  test("a non-COUNT rule without an aggregator sums, per event and per window") {
    val bare = sum.copy(aggregatorFunctionType = None)
    val rows = Seq(row(1000, "2.000000"), row(2000, "3.000000"))
    val (events, _) = eval(bare.copy(frequencyMilliseconds = Some(0L)), rows,
      hi = base + 2000, curMax = base + 2000)
    assert(events == List((1000L, "2.000000"), (2000L, "5.000000")))
    val (window, _) = eval(bare, rows, hi = base + 10000, curMax = base + 10000)
    assert(window == List((0L, "5.000000")))
  }

  test("per-event alerts cover fresh rows only; tail rows still count") {
    val perEvent = sum.copy(frequencyMilliseconds = Some(0L))
    val rows = Seq(row(1000, "4.000000", fresh = false), row(5000, "6.000000"),
      row(20000, "1.000000"))
    val (fired, _) = eval(perEvent, rows, hi = base + 20000, curMax = base + 20000)
    // 20 s − 10 s excludes both earlier rows
    assert(fired == List((5000L, "10.000000"), (20000L, "1.000000")))
  }

  test("per-event rows tied on ts and payload replay in one order however they arrive") {
    val perEvent = sum.copy(frequencyMilliseconds = Some(0L))
    val rows = Seq(row(1000, "10.000000"), row(1000, "20.000000"))
    val (fired, _) = eval(perEvent, rows, hi = base + 1000, curMax = base + 1000)
    val (reversed, _) = eval(perEvent, rows.reverse, hi = base + 1000, curMax = base + 1000)
    assert(fired == List((1000L, "10.000000"), (1000L, "30.000000")))
    assert(reversed == fired)
  }

  test("passthrough emits each fresh row with its aggIn and payload") {
    val pass = Rule(aggregateFieldName = Some("speed"))
    val out = DynamicActiveEngine.evalGroup(Map(1L -> pass), 1L, key,
      Iterator(row(1000, "7.000000", payload = "{\"a\":1}"), row(500, fresh = false)),
      Long.MinValue, base + 1000, base + 1000).filter(_.fired).toList
    assert(out == List(EngineOut(1L, key, base + 1000, "7.000000", "{\"a\":1}", fired = true)))
  }

  test("rows older than curMax − (window + period) are evicted") {
    val sliding = sum.copy(frequencyMilliseconds = Some(2000L))
    val rows = Seq(row(7999), row(8000, fresh = false), row(20000))
    val (_, kept) = eval(sliding, rows, hi = base + 20000, curMax = base + 20000)
    assert(kept == List(8000L, 20000L))
    val perEvent = sum.copy(frequencyMilliseconds = Some(0L))
    val (_, keptW) = eval(perEvent, rows, hi = base + 20000, curMax = base + 20000)
    assert(keptW == List(20000L))
  }

  test("a rule missing from the map emits and retains nothing") {
    val out = DynamicActiveEngine.evalGroup(Map(2L -> sum), 1L, key,
      Iterator(row(1000), row(2000)), Long.MinValue, base + 20000, base + 2000)
    assert(out.isEmpty)
  }
}
