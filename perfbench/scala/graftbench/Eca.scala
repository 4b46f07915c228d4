package graftbench

import scala.collection.mutable

import graft.model.Alert
import graft.rules.RuleCodec
import graft.sources.RuleFileSource
import graft.streaming.DynamicActiveEngine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One car-telemetry event, in the shape of the reference's SHCarData
  * feed. Event times are distinct across the whole stream, so every
  * per-event window has one well-defined replay order. */
final case class Ev(carId: Int, ts: java.sql.Timestamp, speed: Int, lon: Double, lat: Double)

/** An ECA workload's fixed shape. `rules` are submitted before batch 0;
  * `churn(k)` are the rule lines submitted just before batch k. */
final case class EcaShape(cars: Int, batch: Int, dtMs: Int, rules: Seq[String],
    churn: Int => Seq[String])

object Eca {
  val BaseTs = 1700000000000L

  /** Event `i` of the stream, a pure function of (seed, i). */
  def event(seed: Long, shape: EcaShape, i: Long): Ev = {
    val h1 = Rng.mix(seed, i, 1); val h2 = Rng.mix(seed, i, 2); val h3 = Rng.mix(seed, i, 3)
    Ev((i % shape.cars).toInt, new java.sql.Timestamp(BaseTs + i * shape.dtMs),
      Rng.below(h1, 150).toInt,
      121.4 + Rng.below(h2, 2000) / 10000.0, 31.15 + Rng.below(h3, 1500) / 10000.0)
  }

  def batchOf(seed: Long, shape: EcaShape, k: Int): Seq[Ev] =
    (0 until shape.batch).map(j => event(seed, shape, k.toLong * shape.batch + j))

  private def perEvent(id: Int, agg: String, field: String, op: String, limit: Int,
      windowMs: Int, filters: String = "", keys: String = "\"carId\""): String =
    s"""{"queryId":$id,"queryState":"ACTIVE","windowFilterRules":[$filters],""" +
      s""""groupingKeyNames":[$keys],"aggregateFieldName":"$field",""" +
      (if (agg.nonEmpty) s""""aggregatorFunctionType":"$agg",""" else "") +
      s""""limitOperatorType":"$op","limit":$limit,""" +
      s""""windowMilliseconds":$windowMs,"frequencyMilliseconds":0}"""

  private def periodic(id: Int, agg: String, field: String, op: String, limit: Int,
      windowMs: Int, freqMs: Option[Int], filters: String = ""): String =
    s"""{"queryId":$id,"queryState":"ACTIVE","windowFilterRules":[$filters],""" +
      s""""groupingKeyNames":["carId"],"aggregateFieldName":"$field",""" +
      (if (agg.nonEmpty) s""""aggregatorFunctionType":"$agg",""" else "") +
      s""""limitOperatorType":"$op","limit":$limit,"windowMilliseconds":$windowMs""" +
      freqMs.fold("")(f => s""","frequencyMilliseconds":$f""") + "}"

  private def speedAbove(v: Int) = s"""{"field":"speed","operator":">","value":"$v"}"""
  private def carsIn(lo: Int, hi: Int) =
    s"""{"field":"carId","operator":">=","value":"$lo"},""" +
      s"""{"field":"carId","operator":"<","value":"$hi"}"""

  /** eca_rules: 24 submitted rules: 8 ECA parents (1-8), 6 per-event
    * (9-14), 6 periodic over two (window, slide) shapes (15-20) and 4
    * passthrough (21-24). Each parent watches a band of three cars, so
    * they spawn at most 24 `$carId` children in all; the live set
    * plateaus at 48 during warm-up, above FanOut.CompiledRuleLimit (32). */
  val manyRules: Seq[String] = {
    val parents = (1 to 8).map { p =>
      s"""{"queryId":$p,"queryState":"ACTIVE","windowFilterRules":[${carsIn(3 * p, 3 * p + 3)}],""" +
        s""""groupingKeyNames":["carId"],"aggregateFieldName":"speed",""" +
        s""""aggregatorFunctionType":"AVG","limitOperatorType":">","limit":10,""" +
        s""""windowMilliseconds":10000,"frequencyMilliseconds":0,"alertRules":[""" +
        s"""{"queryId":${100 + p},"queryState":"ACTIVE","groupingKeyNames":["$$carId"],""" +
        s""""aggregateFieldName":"speed","aggregatorFunctionType":"MAX",""" +
        s""""limitOperatorType":">","limit":${120 + p},"windowMilliseconds":5000,""" +
        s""""frequencyMilliseconds":0}]}"""
    }
    val aggs = Seq("AVG", "SUM", "MIN", "MAX")
    val perEv = (9 to 14).map { id =>
      val j = id - 9
      j match {
        case 0 => perEvent(id, "", "COUNT_FLINK", ">", 3, 20000, carsIn(0, 40))
        case 1 => perEvent(id, "MAX", "speed", ">=", 148, 5000, speedAbove(140), "")
        case _ =>
          val agg = aggs(j % 4)
          val limit = agg match {
            case "AVG" => 110; case "SUM" => 700; case "MIN" => 60; case _ => 146
          }
          perEvent(id, agg, "speed", ">", limit, Seq(5000, 10000, 20000, 30000)(j % 4),
            carsIn(40 * (j - 2), 40 * (j - 2) + 60))
      }
    }
    val shapes = Seq((10000, Some(5000)), (30000, None))
    val per = (15 to 20).map { id =>
      val j = id - 15
      val (w, f) = shapes(j % 2)
      val agg = aggs(j % 4)
      val limit = agg match {
        case "AVG" => 100; case "SUM" => 900; case "MIN" => 40; case _ => 140
      }
      periodic(id, agg, "speed", ">", limit, w, f, carsIn(30 * j, 30 * j + 60))
    }
    val pass = (21 to 24).map { id =>
      val j = id - 21
      s"""{"queryId":$id,"queryState":"ACTIVE","windowFilterRules":[${speedAbove(140 + j)},""" +
        s"""${carsIn(50 * j, 50 * j + 80)}],"groupingKeyNames":["carId"],""" +
        s""""aggregateFieldName":"speed"}"""
    }
    parents ++ perEv ++ per ++ pass
  }

  /** The fixed churn schedule over `attachLines`: in each cycle of four
    * batches one per-event or periodic rule is deleted and re-added two
    * batches later, and one passthrough rule is paused and resumed. */
  def manyChurn(k: Int): Seq[String] = {
    if (k == 0) return Nil
    val c = k / 4
    val byId = manyRules.map(l => RuleCodec.decode(l).queryId.get -> l).toMap
    val churned = 9 + (c % 12)
    val paused = 21 + (c % 4)
    k % 4 match {
      case 0 => Seq(s"""{"queryId":$churned,"queryState":"DELETE"}""")
      case 1 => Seq(byId(paused).replace("\"ACTIVE\"", "\"PAUSE\""))
      case 2 => Seq(byId(churned))
      case _ => Seq(byId(paused))
    }
  }

  /** eca_replay: ReplayBench's geo-box 60 s AVG rule plus seven
    * non-spawning per-car rules; nothing spawns, so the live set stays at
    * 8, on the compiled-branch side of FanOut.auto. */
  val replayRules: Seq[String] = {
    val geo =
      """{"field":"lon","operator":">","value":"121.45005"},""" +
        """{"field":"lon","operator":"<","value":"121.55005"},""" +
        """{"field":"lat","operator":"<","value":"31.25005"},""" +
        """{"field":"lat","operator":">","value":"31.20005"}"""
    Seq(perEvent(1, "AVG", "speed", ">", 120, 60000, geo),
      perEvent(2, "MAX", "speed", ">=", 149, 10000, speedAbove(130)),
      perEvent(3, "SUM", "speed", ">", 420, 30000, speedAbove(140)),
      perEvent(4, "", "COUNT_FLINK", ">", 2, 30000, speedAbove(145)),
      perEvent(5, "MIN", "speed", ">", 147, 20000, speedAbove(146)),
      periodic(6, "AVG", "speed", ">", 146, 20000, Some(10000), speedAbove(140)),
      periodic(7, "MAX", "speed", ">", 148, 30000, None, speedAbove(144)),
      periodic(8, "", "COUNT_FLINK", ">", 2, 20000, None, speedAbove(147)))
  }

  def rulesWorkload(spark: SparkSession, o: Main.Opts, t: Tracer): EcaWorkload = {
    val tiny = o.scale == "tiny"
    new EcaWorkload(spark, o, t, EcaShape(if (tiny) 60 else 200, if (tiny) 150 else 500,
      20, manyRules, manyChurn))
  }

  def replayWorkload(spark: SparkSession, o: Main.Opts, t: Tracer): EcaWorkload = {
    val tiny = o.scale == "tiny"
    // tiny batches are spread 5 ms apart so that the run still spans the
    // periodic rules' 20-30 s windows
    new EcaWorkload(spark, o, t, EcaShape(if (tiny) 200 else 2000,
      if (tiny) 1000 else Sizes.replayBatch, if (tiny) 5 else 1, replayRules, _ => Nil))
  }
}

/** Drives DynamicActiveEngine.writer and RuleFileSource.attachLines, both
  * at Trigger.ProcessingTime(0): a request submits its churn lines, waits
  * for them to land in the store, adds one event batch and waits for that
  * micro-batch, alert delivery and ECA spawn included. */
final class EcaWorkload(spark: SparkSession, o: Main.Opts, t: Tracer, shape: EcaShape)
    extends Workload {
  import spark.implicits._
  private val warm = Sizes.ecaWarmup

  private val engine = new DynamicActiveEngine()
  private val alertsByBatch = mutable.Map.empty[Int, mutable.ArrayBuffer[Alert]]
  @volatile private var curBatch = -1
  @volatile private var alertAt = 0L
  /** Child queryId → "parentId/carId", read from the store after each batch. */
  private val childSig = mutable.Map.empty[Long, String]
  private val liveByBatch = mutable.Map.empty[Int, Int]
  private val submitMs = mutable.ArrayBuffer.empty[(Int, Double)]
  private val events = MemoryStream[Ev](spark, o.cores)
  private val ruleLines = MemoryStream[String](spark, 1)
  private var eventsQ: StreamingQuery = _
  private var rulesQ: StreamingQuery = _

  def itemsPerRequest(i: Int): Long = shape.batch
  def firstTimed: Int = warm

  def setup(): Unit = {
    engine.onAlerts { fired =>
      alertAt = t.probe.map(_.nowMicros()).getOrElse(0L)
      alertsByBatch.synchronized {
        alertsByBatch.getOrElseUpdate(curBatch, mutable.ArrayBuffer.empty) ++= fired
      }
    }
    eventsQ = engine.writer(events.toDF(), "ts")
      .trigger(Trigger.ProcessingTime(0L))
      .queryName("eca_events")
      .start()
    rulesQ = RuleFileSource.attachLines(ruleLines.toDF(), engine.store,
      Trigger.ProcessingTime(0L))
    submit(shape.rules)
    Main.log("rules submitted")
    (0 until warm).foreach { i =>
      val s = System.nanoTime()
      request(i)
      Main.log(f"warm-up $i ${(System.nanoTime() - s) / 1e6}%.1f ms")
    }
  }

  private def submit(lines: Seq[String]): Unit = t.span("rules.submit", "rules") {
    ruleLines.addData(lines)
    rulesQ.processAllAvailable()
  }

  def request(i: Int): Unit = {
    val lines = shape.churn(i)
    if (lines.nonEmpty) {
      val s = System.nanoTime()
      submit(lines)
      submitMs += ((i, (System.nanoTime() - s) / 1e6))
    }
    curBatch = i
    alertAt = 0L
    val batch = Eca.batchOf(o.seed, shape, i)
    t.span("engine.batch", "engine") {
      events.addData(batch)
      eventsQ.processAllAvailable()
    }
    // the alert callback opens delivery; ECA spawn runs after it inside
    // the same micro-batch, so the active layer's span runs from the
    // callback to the batch's end, as a child of the batch span
    t.probe.foreach { p =>
      val batchSpan = p.owned(p.allSpans.find(_.id == p.lastClosed))
      for (b <- batchSpan if alertAt > 0)
        p.record("active.deliver", "active", b.id, alertAt, b.end)
    }
    val live = t.span("active.snapshot", "active")(engine.store.snapshot())
    liveByBatch(i) = live.size
    live.foreach { r =>
      for (id <- r.queryId; parent <- r.activeId if !childSig.contains(id)) {
        val car = r.windowFilterRules.find(_.field == "carId").map(_.value).getOrElse("?")
        childSig(id) = s"$parent/$car"
      }
    }
  }

  private def sigOf(ruleId: Long): String = childSig.getOrElse(ruleId, ruleId.toString)

  def verify(timed: Seq[Int]): (Set[Int], Map[String, String]) = {
    val last = timed.lastOption.getOrElse(warm - 1)
    val ref = new Reference(shape.rules)
    val bad = mutable.Set.empty[Int]
    for (k <- 0 to last) {
      ref.submit(shape.churn(k))
      val want = ref.step(Eca.batchOf(o.seed, shape, k))
      val got = alertsByBatch.getOrElse(k, Nil).map(a =>
        Reference.canon(sigOf(a.ruleId), a.key, a.tsMillis,
          if (a.aggregate == null || a.aggregate.isEmpty) BigDecimal(0) else BigDecimal(a.aggregate)))
      if (got.sorted != want.sorted) {
        if (bad.isEmpty) System.err.println(
          s"[graftbench] batch $k alerts differ: engine ${got.size}, reference ${want.size}; " +
            s"engine-only ${got.diff(want).take(3)}, reference-only ${want.diff(got).take(3)}")
        bad += k
      }
    }
    val liveOk = timed.forall(k => liveByBatch.get(k).contains(ref.liveAfter(k)))
    if (!liveOk) System.err.println("[graftbench] live-rule counts differ from the reference")
    val failed = if (liveOk) bad.toSet else bad.toSet ++ timed
    // the comparison must not be vacuous: every emission kind the rule
    // set holds fired at least once, and parents spawned children
    val rules = shape.rules.map(RuleCodec.decode)
    val kinds = Seq(
      "per_event" -> rules.exists(r => r.frequencyMilliseconds.contains(0L)),
      "periodic" -> rules.exists(r => r.windowMilliseconds.exists(_ > 0) &&
        !r.frequencyMilliseconds.contains(0L)),
      "passthrough" -> rules.exists(r => !r.windowMilliseconds.exists(_ > 0)))
      .collect { case (k, true) => k }
    val missing = kinds.filter(ref.firedByKind(_) == 0) ++
      (if (rules.exists(_.alertRules.nonEmpty) && ref.spawned == 0) Seq("spawn") else Nil)
    (failed, Map(
      "eca_coverage" -> (if (missing.isEmpty) "ok" else s"nothing fired for ${missing.mkString(",")}"),
      "eca_reference" -> (if (bad.isEmpty) "ok" else s"${bad.size} batches differ"),
      "live_rules" -> (if (liveOk) "ok" else "differ"),
      "warmup_batches_ok" -> (if (bad.exists(_ < warm)) "no" else "yes")))
  }

  def layerMetrics(probe: Option[Probe], traced: Seq[Int]): Map[String, Metric] = {
    val out = mutable.LinkedHashMap.empty[String, Metric]
    val firstT = traced.headOption.getOrElse(0)
    val timedAll = liveByBatch.keys.filter(_ >= warm).toSeq.sorted
    out("active.live_rules_start") = Metric(
      timedAll.headOption.flatMap(liveByBatch.get).getOrElse(0).toDouble, "count")
    out("active.live_rules_end") = Metric(
      timedAll.lastOption.flatMap(liveByBatch.get).getOrElse(0).toDouble, "count")
    out("active.spawned") = Metric(childSig.size.toDouble, "count")
    out("active.alerts_fired") = Metric(
      timedAll.map(k => alertsByBatch.get(k).fold(0)(_.size)).sum.toDouble, "count")
    val sub = submitMs.filter(_._1 >= firstT).map(_._2).toSeq
    out("rules.submit_ms") = Metric(Main.percentile(sub, 0.5), "ms")
    probe.foreach { p =>
      val tracedSet = traced.toSet
      val spans = p.allSpans.filter(s => s.name == "engine.batch" && tracedSet(s.req))
      // a trigger's progress timestamp is at ms resolution: allow 1 ms
      val inTraced = p.window(spans.map(s => (s.start - 1000, s.end))).progress
        .filter(_.query == eventsQ.id.toString)
      out("engine.batch_ms") = Metric(Main.percentile(inTraced.map(_.addBatchMs.toDouble), 0.5), "ms")
      out("engine.trigger_overhead_ms") = Metric(
        Main.percentile(inTraced.map(x => (x.triggerMs - x.addBatchMs).toDouble), 0.5), "ms")
      val reqSpans = spans.map(s => (s.end - s.start - p.jobCover(s.start, s.end)) / 1e3)
      out("engine.driver_ms") = Metric(Main.percentile(reqSpans, 0.5), "ms")
    }
    out("engine.state_mb") = Metric(Probe.storageMb(spark.sparkContext), "MB")
    out.toMap
  }

  def close(): Unit = {
    Option(eventsQ).foreach(_.stop())
    Option(rulesQ).foreach(_.stop())
  }
}

/** Splitmix-style hashing: event fields are pure functions of (seed, i). */
object Rng {
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def below(h: Long, n: Long): Long = java.lang.Math.floorMod(h, n)
}
