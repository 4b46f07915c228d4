package graft

import graft.compile.RuleCompiler
import graft.model._
import graft.streaming.FanOut
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** The stream fan-out against the batch face's expressions: on non-null,
  * parseable inputs, [[FanOut.keyed]] emits exactly the rows
  * `events.filter(RuleCompiler.filterColumn(r, schema))` keeps for each
  * rule, keyed by `RuleCompiler.keyStringColumn(r)` — the Columns
  * [[graft.exec.BatchExec]] evaluates — byte for byte, over generated
  * filters (every [[CompareOp]] on numeric fields, `=` on a string
  * field), 0-2 grouping keys, COUNT or a numeric aggregate field, and
  * payload on or off. */
case class FanOutEv(carId: Int, kind: String, ts: java.sql.Timestamp,
    speed: Double, n: Long)

class FanOutSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000000L
  private val numeric = Seq("carId", "speed", "n")

  private val events: Gen[Seq[FanOutEv]] = for {
    n <- Gen.choose(40, 80)
    evs <- Gen.listOfN(n, for {
      car <- Gen.choose(0, 6)
      kind <- Gen.oneOf("a", "b", "00")
      half <- Gen.choose(0, 40)
      cnt <- Gen.choose(0L, 10L)
    } yield (car, kind, half / 2.0, cnt))
  } yield evs.zipWithIndex.map { case ((car, kind, speed, cnt), i) =>
    FanOutEv(car, kind, new java.sql.Timestamp(base + i * 137L), speed, cnt)
  }

  /** Integral and half-step literals: both sides of every numeric field's
    * values, and `=` literals that match ("3", "2.5") or never can ("3.0"
    * on an integral column). */
  private val filter: Gen[FilterSpec] = Gen.oneOf(
    for {
      f <- Gen.oneOf(numeric)
      op <- Gen.oneOf(CompareOp.all)
      v <- Gen.oneOf(Gen.choose(0, 20).map(_.toString), Gen.choose(0, 40).map(h => (h / 2.0).toString))
    } yield FilterSpec(f, op, v),
    Gen.oneOf("a", "b", "00", "0").map(v => FilterSpec("kind", CompareOp.Equal, v)))

  private def rule(id: Long): Gen[Rule] = for {
    nf <- Gen.choose(0, 2)
    filters <- Gen.listOfN(nf, filter)
    nk <- Gen.choose(0, 2)
    keys <- Gen.pick(nk, "carId" +: "kind" +: numeric.tail)
    agg <- Gen.oneOf(Rule.CountSentinel +: numeric)
    payload <- Gen.oneOf(true, false)
  } yield Rule(
    queryId = Some(id),
    windowFilterRules = filters,
    groupingKeyNames = keys.toSeq,
    aggregateFieldName = Some(agg),
    aggregatorFunctionType = if (Rule.isCountSentinel(agg)) None else Some(AggregatorType.Sum),
    windowMilliseconds = Some(1000L),
    frequencyMilliseconds = Some(0L),
    alertRules = if (payload) Seq(Rule(groupingKeyNames = Seq("$carId"))) else Nil)

  /** One rule through the batch face's Columns, as [[KeyedEvent]]s. */
  private def reference(df: org.apache.spark.sql.DataFrame, r: Rule): Seq[KeyedEvent] = {
    val aggIn = r.aggregateFieldName.filterNot(Rule.isCountSentinel)
      .fold(lit(""))(f => col(f).cast(RuleCompiler.RuleDecimal).cast("string"))
    val payload =
      if (r.alertRules.nonEmpty) to_json(struct(df.columns.map(col): _*)) else lit("")
    df.filter(RuleCompiler.filterColumn(r, Some(df.schema)))
      .select(
        lit(r.queryId.get).as("ruleId"),
        RuleCompiler.keyStringColumn(r).as("key"),
        (unix_micros(col("ts")) / lit(1000)).cast("long").as("tsMillis"),
        aggIn.as("aggIn"),
        payload.as("payload"))
      .as[KeyedEvent].collect().toSeq
  }

  test("keyed ≡ the batch filter and key Columns over generated rules") {
    val gen = for {
      n <- Gen.choose(1, 6)
      rs <- Gen.sequence[Seq[Rule], Rule]((1 to n).map(i => rule(i.toLong)))
      evs <- events
      parts <- Gen.oneOf(1, 4)
    } yield (rs, evs, parts)
    // what the cases covered: the property must not hold vacuously
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(gen) { case (rs, evs, parts) =>
      val df = spark.sparkContext.parallelize(evs, parts).toDF()
      val got = FanOut.keyed(df, rs, "ts").collect().toSeq.sortBy(_.toString)
      val want = rs.flatMap(reference(df, _)).sortBy(_.toString)
      rs.flatMap(_.windowFilterRules).foreach(f => seen += f.operator.symbol)
      want.foreach { e =>
        if (e.key == "{}") seen += "global" else seen += "keyed"
        if (e.payload.nonEmpty) seen += "payload"
        if (e.aggIn.isEmpty) seen += "count" else seen += "agg"
      }
      (got == want) :| s"$parts partitions, rules $rs\n" +
        s"fan-out only: ${got.diff(want)}\nreference only: ${want.diff(got)}"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(12)
      .withWorkers(1)
      .withInitialSeed(Seed(20261020L))
    val res = Test.check(params, prop)
    assert(res.passed, res.status)
    assert(seen == CompareOp.all.map(_.symbol).toSet ++
      Set("global", "keyed", "payload", "count", "agg"), s"covered: $seen")
  }
}
