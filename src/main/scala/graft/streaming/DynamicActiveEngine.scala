package graft.streaming

import graft.active.{EcaLoop, RuleStore, SnowflakeId}
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import java.math.{BigDecimal => JBigDecimal}

/** The full-fidelity continuous engine: every micro-batch re-reads the
  * rule store, so rules added, deleted, re-triggered or ECA-spawned
  * between triggers take effect at the next batch — the Spark-native
  * equivalent of the reference's broadcast rule stream connected to the
  * event stream (`DynamicKeyFunction.java:108-144` processBroadcastElement,
  * broadcast wiring at `App.java:58`). This closes the ECA loop inside one
  * run: a parent rule's firing alert spawns a child into the [[RuleStore]],
  * and the child evaluates events from the next micro-batch on (one
  * trigger of loop latency — the reference pays a Kafka round trip).
  *
  * Design: state-as-table, rules-as-data-per-batch. `foreachBatch`
  * reads a fresh `store.snapshot()` and keeps a bounded *tail* of
  * fanned-out events (everything still inside some live rule's window)
  * instead of opaque operator state. One batch is one keyed pass:
  *
  *  - fan-out (D1-D3): the new batch is fanned out under the CURRENT
  *    snapshot via [[FanOut.auto]] and persisted, so a rule change is a
  *    re-plan, not a restart. Events that arrive while no rule wants them
  *    are never keyed or retained (exactly the reference:
  *    `DynamicKeyFunction` forwards per live rule only);
  *  - curMax, the batch's event-time watermark, is one `mapPartitions`
  *    max over the fresh side;
  *  - `tail ∪ fresh` is grouped by (rule, key) and every group runs
  *    [[DynamicActiveEngine.evalGroup]], the pure kernel, with the rule
  *    map broadcast: it emits the group's HAVING-passed alerts — W1
  *    per-event sliding aggregates over the fresh events (state for a
  *    spawned rule starts empty at spawn time, the reference's
  *    semantics), W2/W3 aligned windows whose *end* fell inside
  *    `(prevMax, curMax]`, W4 passthrough — and the rows the tail
  *    retains (W5 eviction: within window + period of curMax, live rules
  *    only, so a deleted rule's state is dropped with it). ECA
  *    `$`-parameters for periodic alerts bind from the group key (a
  *    window has no single triggering event);
  *  - the pass's output is persisted: collecting at most
  *    `maxFiredPerBatch` fired alerts for the ECA step (the driver is a
  *    control plane, not a data plane) materializes it, and the new tail
  *    is checkpointed from the cache;
  *  - CLEAR_STATE_ALL (C7): drops the whole tail before evaluation
  *    (reference `DynamicQueryFunction.java:339-341`
  *    applyToKeyedState(clear)); already-emitted windows stay emitted,
  *    subsequent aggregates start empty.
  *
  * The tail is an ordinary DataFrame: per batch it is coalesced to the
  * default parallelism and `localCheckpoint()`ed (block-store backed,
  * lineage truncated, partition count bounded), and with `checkpointDir` set
  * it is also persisted durably ([[saveCheckpoint]]/[[restoreCheckpoint]]
  * + [[RuleStore.save]]) so a restarted driver resumes with full window
  * state — the reference gets the same from Flink checkpointing.
  */
final class DynamicActiveEngine(
    val store: RuleStore = new RuleStore,
    val ids: SnowflakeId = new SnowflakeId(0, 0),
    val maxFiredPerBatch: Int = 10000,
    /** When set, every batch persists the cross-batch state (tail +
      * event-time counters) under this directory — the durable form of
      * the `localCheckpoint` tail, making the engine driver-restart
      * recoverable (see [[saveCheckpoint]]). */
    val checkpointDir: Option[String] = None) {

  @volatile private var alertSink: Seq[Alert] => Unit = _ => ()
  /** Register a callback for *fired* alerts (HAVING passed) per batch.
    * Delivery happens OUTSIDE the engine monitor (a slow or blocking
    * sink cannot wedge micro-batch progress or the finalizer), which
    * also means the batch path and a finalizer tick may each invoke the
    * sink concurrently — implementations must be thread-safe. */
  def onAlerts(f: Seq[Alert] => Unit): this.type = { alertSink = f; this }

  /** Count of wall-clock finalizer ticks that failed (compute OR
    * delivery) — the observable form of the ticker's catch, so an
    * operator can alarm on silent periodic-emission loss instead of
    * watching stderr. */
  val tickFailures = new java.util.concurrent.atomic.AtomicLong(0)

  // Cross-batch state: driver-held handles, data lives on executors.
  @volatile private var tail: Option[DataFrame] = None
  @volatile private var maxSeenTs: Long = Long.MinValue
  @volatile private var emittedThrough: Long = Long.MinValue

  def writer(events: DataFrame, tsCol: String = "ts"): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        processBatch(batch.toDF(), tsCol)
      }

  /** One micro-batch of the loop; also the batch-replay entry (tests drive
    * it directly). Compute and state advance are synchronized with
    * [[finalizeThrough]]: both advance the emit-once horizon, and the
    * wall-clock finalizer runs on its own thread — serializing them is
    * what keeps "a window never fires twice" true under concurrency
    * (batches are already serial per query). Sink/ECA delivery happens
    * AFTER the monitor is released (see [[onAlerts]]). */
  private[graft] def processBatch(batch: DataFrame, tsCol: String = "ts"): Unit = {
    val (delivery, ckpt) = synchronized { processBatchLocked(batch, tsCol) }
    delivery.foreach { case (fired, rulesById) => deliver(fired, rulesById) }
    // At-least-once on the fault-tolerant batch path: the checkpoint
    // (which persists the advanced emit-once horizon) is written only
    // AFTER sink/ECA delivery succeeded. A crash mid-delivery leaves the
    // previous checkpoint's horizon on disk, so restoreCheckpoint
    // re-emits this batch's alerts (duplicate delivery on recovery, the
    // fail-stop trade) instead of silently losing them — the state
    // values written are the locked section's snapshot, so a concurrent
    // finalizer tick cannot smuggle ITS un-delivered horizon into this
    // batch's checkpoint.
    ckpt()
  }

  private val noCkpt: () => Unit = () => ()

  private def processBatchLocked(batch: DataFrame,
      tsCol: String): (Option[(Seq[Alert], Map[Long, Rule])], () => Unit) = {
    if (store.consumeStateClear()) {
      tail.foreach(_.unpersist(false))
      tail = None
    }
    val rules = store.snapshot()
    if (rules.isEmpty) return (None, noCkpt)
    val spark = batch.sparkSession
    import spark.implicits._

    // persisted: read by the curMax job and by the keyed pass
    val fresh = FanOut.auto(batch, rules, tsCol).toDF()
      .withColumn("fresh", lit(true))
      .persist()
    try {
      // curMax = max(fresh max, maxSeenTs): every tail row's tsMillis is
      // ≤ the maxSeenTs of the batch that retained it, so only the fresh
      // side is scanned
      val batchMax = fresh.select(col("tsMillis")).as[Long]
        .mapPartitions(it => if (it.hasNext) Iterator(it.max) else Iterator.empty)
        .collect()
      if (batchMax.isEmpty && maxSeenTs == Long.MinValue) return (None, noCkpt)
      val curMax = (batchMax :+ maxSeenTs).max

      val rulesById = rules.flatMap(r => r.queryId.map(_ -> r)).toMap
      val rows = tail match {
        case Some(t) => t.withColumn("fresh", lit(false)).unionByName(fresh)
        case None => fresh
      }
      val out = evaluate(rows, rulesById, emittedThrough, curMax, curMax).persist()
      try {
        // the alert collect materializes `out`, and the tail's checkpoint
        // reads it from the cache. Both run under the monitor: emit-once
        // depends on the horizon and the collected set advancing
        // together; the sink and ECA spawn run after the monitor is
        // released
        val fired = collectFired(out)
        val newTail = retain(out.filter(!col("fired"))
          .select(col("ruleId"), col("key"), col("tsMillis"), col("value").as("aggIn"),
            col("payload")))
        emittedThrough = math.max(emittedThrough, curMax)
        maxSeenTs = curMax
        tail.foreach(_.unpersist(false))
        tail = Some(newTail)
        // snapshot the post-batch state under the monitor; the WRITE runs
        // after delivery (see processBatch) so a crash mid-delivery keeps
        // the pre-batch checkpoint and recovery re-emits, never loses
        val (ckptTail, ckptMax, ckptEmitted) = (tail, maxSeenTs, emittedThrough)
        val ckpt: () => Unit = () =>
          checkpointDir.foreach(writeCheckpoint(spark, _, ckptTail, ckptMax, ckptEmitted))
        (if (fired.nonEmpty) Some((fired, rulesById)) else None, ckpt)
      } finally out.unpersist(false)
    } finally fresh.unpersist(false)
  }

  /** W2/W3 under a STALLED source: finalize periodic windows whose end
    * fell in `(emittedThrough, horizonMs]` using the retained tail alone —
    * no new events required. This is the engine's rendering of the
    * reference's processing-time emission timer
    * (`DynamicQueryFunction.java:118-147`): drive it from any clock (a
    * scheduled driver thread, an orchestrator tick) with
    * `engine.finalizeThrough(System.currentTimeMillis() - allowedLateness)`
    * and a window whose source went quiet still emits. Event-time
    * emission in [[processBatch]] stays the primary path — this advances
    * the same emit-once horizon, so a window never fires twice.
    *
    * Failure semantics: window results are COLLECTED first and the
    * horizon advances only after a successful collect — a transient
    * compute failure leaves the horizon untouched, so the next tick
    * retries the same windows. Once the horizon has advanced, a
    * sink/ECA delivery failure is emit-once loss (counted in
    * [[tickFailures]]), never a re-fire.
    *
    * Runaway-clock safety: the horizon is clamped to
    * `maxSeenTs + max(window + slide)` over the live periodic rules.
    * Every window that can still hold tail data ends at or before that
    * bound, so nothing emittable is delayed — but a wall clock racing
    * far ahead of event time (ingest lag, historical replay against the
    * default `System.currentTimeMillis` clock) can no longer advance
    * the emit-once horizon past event time and mass-suppress emission
    * once the source resumes. */
  def finalizeThrough(horizonMs: Long): Unit = {
    val delivery = synchronized {
      // Never declare finality before the FIRST event: a ticker started
      // against a source that has not delivered yet (slow start, replay
      // about to feed historical event times) must not advance the
      // horizon past windows whose events are still on their way — the
      // reference's timers only exist per stateful key, so a key with no
      // state has nothing to fire (DynamicQueryFunction.java:118-147).
      // Once events HAVE been seen, advancing within the clamp over an
      // expired/empty tail is ordinary watermark passage.
      if (maxSeenTs == Long.MinValue) None
      else {
        val rules = store.snapshot()
        val periodic = rules.filter(r => !r.isPerEventEmission && !r.isPassthrough)
        if (periodic.isEmpty) None
        else {
          val maxHz = periodic
            .map(r => r.windowMilliseconds.get + DynamicActiveEngine.slideOf(r)).max
          val horizon = math.min(horizonMs, maxSeenTs + maxHz)
          if (horizon <= emittedThrough) None
          else {
            val rulesById = rules.flatMap(r => r.queryId.map(_ -> r)).toMap
            // the batch kernel over the tail alone: with no fresh rows only
            // periodic windows can fire, and the retained rows are dropped
            val fired = tail.fold(Seq.empty[Alert])(t => collectFired(
              evaluate(t.withColumn("fresh", lit(false)), rulesById,
                emittedThrough, horizon, maxSeenTs)))
            // collect succeeded — advance the emit-once horizon now
            emittedThrough = horizon
            if (fired.isEmpty) None
            else Some((fired, rulesById))
          }
        }
      }
    }
    delivery.foreach { case (fired, rulesById) => deliver(fired, rulesById) }
  }

  /** The reference's processing-time emission timer as an opt-in driver
    * thread (`DynamicQueryFunction.java:118-147` registers one per key;
    * one engine-level ticker is the driver-side equivalent): every
    * `periodMs` it finalizes periodic windows through
    * `clock() − allowedLatenessMs`, so a STALLED source still emits W2/W3
    * windows from the retained tail. `clock` is on the *event-time*
    * epoch — wall clock in live deployments where ingest tracks event
    * time (the reference's operating assumption), a test-controlled
    * clock in replay (where wall-clock emission would break determinism,
    * the reason event-time emission stays the default path). Returns a
    * handle; `close()` stops the ticker. */
  def startWallClockFinalizer(periodMs: Long, allowedLatenessMs: Long,
      clock: () => Long = () => System.currentTimeMillis()): AutoCloseable = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-wallclock-finalizer")
        t.setDaemon(true)
        t
      })
    ex.scheduleAtFixedRate(
      () => try finalizeThrough(clock() - allowedLatenessMs)
        catch { case e: Throwable =>
          // keep ticking (a throw would cancel the schedule). A compute
          // failure left the horizon untouched, so those windows retry
          // next tick; a delivery failure after the horizon advanced is
          // emit-once loss. Either way it is counted, not just printed.
          tickFailures.incrementAndGet()
          System.err.println(s"[graft] wall-clock finalizer tick failed: $e")
        },
      periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { ex.shutdownNow(); () }
  }

  /** The keyed pass: `rows` (tail ∪ fresh, flagged by `fresh`) grouped by
    * (rule, key) through [[DynamicActiveEngine.evalGroup]]. The rule map
    * ships as a Spark broadcast variable — once per executor, not once per
    * task closure, and no broadcast exchange in the plan. */
  private def evaluate(rows: DataFrame, rulesById: Map[Long, Rule],
      lo: Long, hi: Long, curMax: Long): Dataset[DynamicActiveEngine.EngineOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bcRules = spark.sparkContext.broadcast(rulesById)
    rows.as[DynamicActiveEngine.EngineRow]
      .groupByKey(r => (r.ruleId, r.key))
      .flatMapGroups { (group: (Long, String), it: Iterator[DynamicActiveEngine.EngineRow]) =>
        DynamicActiveEngine.evalGroup(bcRules.value, group._1, group._2, it, lo, hi, curMax)
      }
  }

  /** Collect the fired alerts of a keyed pass, at most `maxFiredPerBatch`
    * (the driver is a control plane, not a data plane): each partition
    * ships at most that many, in one job. */
  private def collectFired(out: Dataset[DynamicActiveEngine.EngineOut]): Seq[Alert] = {
    implicit val alertEnc = Encoders.product[Alert]
    val cap = maxFiredPerBatch
    out.mapPartitions(_.filter(_.fired).map(_.alert).take(cap))
      .collect().toSeq.take(cap)
  }

  /** Deliver to the sink and run the ECA spawn step — run OUTSIDE the
    * monitor so a blocking sink never wedges batch progress or the
    * finalizer ([[RuleStore]] is internally synchronized, so the spawn
    * merge is safe without the engine lock). */
  private def deliver(fired: Seq[Alert], rulesById: Map[Long, Rule]): Unit = {
    alertSink(fired)
    val withFields = fired.map(a => (a, bindFields(a)))
    EcaLoop.processAlerts(rulesById, withFields, store, ids)
  }

  /** W5/fault tolerance: persist the cross-batch state — the tail (as
    * parquet, an executor-parallel write) and the event-time counters (a
    * tiny driver manifest, written LAST so a torn save is detected by a
    * counter/tail mismatch never the other way round). Together with
    * [[RuleStore.save]] this is the reference's Flink checkpoint for the
    * dynamic engine: [[DynamicActiveEngine.restore]] resumes evaluation
    * with full window state after a driver restart. A cluster deployment
    * would target a transactional table (Delta/Iceberg) instead of a
    * parquet dir; the state being saved is identical. */
  def saveCheckpoint(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (t, m, e) = synchronized { (tail, maxSeenTs, emittedThrough) }
    writeCheckpoint(spark, dir, t, m, e)
  }

  /** The write half of [[saveCheckpoint]], over an explicit state
    * snapshot — the batch path snapshots under the monitor but writes
    * after delivery (at-least-once), so the values must not be re-read
    * from the mutable fields at write time. */
  private def writeCheckpoint(spark: org.apache.spark.sql.SparkSession,
      dir: String, tailSnap: Option[DataFrame],
      maxSeen: Long, emitted: Long): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    tailSnap match {
      case Some(t) => t.write.mode("overwrite").parquet(s"$dir/tail")
      case None    => ()
    }
    java.nio.file.Files.writeString(d.resolve("engine_state.txt"),
      s"maxSeenTs=$maxSeen\nemittedThrough=$emitted\nhasTail=${tailSnap.nonEmpty}\n")
  }

  /** Restore state saved by [[saveCheckpoint]] into THIS engine (call
    * before attaching a stream). No-op if the directory holds no saved
    * manifest. */
  def restoreCheckpoint(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val manifest = java.nio.file.Paths.get(dir, "engine_state.txt")
    if (!java.nio.file.Files.exists(manifest)) return
    val kv = java.nio.file.Files.readAllLines(manifest).toArray(Array.empty[String])
      .iterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    maxSeenTs = kv.getOrElse("maxSeenTs", Long.MinValue.toString).toLong
    emittedThrough = kv.getOrElse("emittedThrough", Long.MinValue.toString).toLong
    tail =
      if (kv.get("hasTail").contains("true"))
        Some(retain(spark.read.parquet(s"$dir/tail")))
      else None
  }

  /** Materialize a new tail: coalesced to the default parallelism, then
    * `localCheckpoint`ed. The tail is rebuilt from `tail ∪ fresh`, and a
    * union keeps the partitions of both sides, so without the coalesce
    * the partitions of every batch the engine ever saw would stay
    * (mostly empty once eviction ran) and each later batch would scan
    * them: per-batch task counts and checkpoint files grew with uptime.
    * `coalesce` is narrow (no shuffle) and a no-op while the tail is
    * already this small; rows are unchanged, and no consumer depends on
    * their order ([[DynamicActiveEngine.evalGroup]] sorts what it
    * replays). */
  private def retain(df: DataFrame): DataFrame =
    df.coalesce(df.sparkSession.sparkContext.defaultParallelism).localCheckpoint(true)

  /** Partition count of the retained tail (0 when there is none). */
  private[graft] def tailPartitions: Int =
    tail.fold(0)(_.rdd.getNumPartitions)

  /** ECA `$`-binding source for one alert: the triggering event's fields
    * (per-event alerts carry the event as JSON) or, for periodic alerts,
    * the group-key fields — `{carId=7;lon=121.5}` → carId, lon. */
  private def bindFields(a: Alert): Map[String, String] =
    if (a.payload != null && a.payload.nonEmpty) DynamicActiveEngine.payloadFields(a.payload)
    else DynamicActiveEngine.keyFields(a.key)
}

object DynamicActiveEngine {
  /** A fanned-out event as the keyed pass reads it: the tail's columns,
    * plus `fresh` for the rows of the batch being processed. */
  private[graft] final case class EngineRow(ruleId: Long, key: String,
      tsMillis: Long, aggIn: String, payload: String, fresh: Boolean)

  /** One row out of the keyed pass: a fired alert (`value` = its
    * aggregate) or, when `fired` is false, a retained tail row (`value` =
    * its `aggIn`). */
  private[graft] final case class EngineOut(ruleId: Long, key: String,
      tsMillis: Long, value: String, payload: String, fired: Boolean) {
    def alert: Alert = Alert(ruleId, key, tsMillis, value, passed = true, payload)
  }

  /** The engine's kernel: everything one batch does for one (rule, key)
    * group, as a pure function of its rows. It emits the HAVING-passed
    * alerts of the rule's kind, then the rows the tail retains.
    *
    *  - passthrough (W4): one alert per fresh row, aggregate = `aggIn`
    *    (reference `DynamicQueryFunction.java:93-116`);
    *  - per-event (W1): the group is sorted by (ts, payload), and each
    *    fresh row gets the aggregate of the rows from the first one with
    *    `ts ≥ t − w` up to itself: the inclusive `[t − w, t]` window
    *    (reference `DynamicQueryFunction.java:277-280`), where rows after
    *    it at the same timestamp are not yet seen;
    *  - periodic (W2/W3): epoch-aligned windows `[start, start+w)`, one
    *    every slide, are finalized when their end falls in `(lo, hi]`,
    *    with `tsMillis = start` and an empty payload (the event-time
    *    rendering of the reference's emission timers,
    *    `DynamicQueryFunction.java:118-147`);
    *  - both aggregating modes fold their rows through one `Acc`, with
    *    SQL's null rule: SUM/AVG/MIN/MAX run over the rows holding a
    *    value (AVG is `(2Σµ + n) div (2n)` over those n rows, at scale 6),
    *    COUNT counts every row, and a window with no value has a null
    *    aggregate, which fires only when the rule has no HAVING;
    *  - eviction (W5, P5): rows with `ts ≥ curMax − (window + period)`
    *    are retained. A rule missing from `rules` (deleted) emits and
    *    retains nothing, so its state goes with it (reference guard
    *    `DynamicQueryFunction.java:85-88`). */
  private[graft] def evalGroup(rules: Map[Long, Rule], ruleId: Long, key: String,
      rows: Iterator[EngineRow], lo: Long, hi: Long, curMax: Long): Iterator[EngineOut] =
    rules.get(ruleId) match {
      case None => Iterator.empty
      case Some(rule) =>
        val all = rows.toArray
        val alerts =
          if (rule.isPassthrough)
            all.iterator.filter(_.fresh)
              .map(r => EngineOut(ruleId, key, r.tsMillis, r.aggIn, r.payload, fired = true))
          else if (rule.isPerEventEmission) perEvent(rule, ruleId, key, all)
          else periodic(rule, ruleId, key, all, lo, hi)
        val oldest = curMax - (rule.windowMilliseconds.getOrElse(0L) +
          rule.frequencyMilliseconds.filter(_ > 0).getOrElse(0L))
        alerts ++ all.iterator.filter(_.tsMillis >= oldest)
          .map(r => EngineOut(ruleId, key, r.tsMillis, r.aggIn, r.payload, fired = false))
    }

  private def perEvent(rule: Rule, ruleId: Long, key: String,
      rows: Array[EngineRow]): Iterator[EngineOut] = {
    val w = rule.windowMilliseconds.getOrElse(0L)
    val sorted = rows.sortBy(r => (r.tsMillis, r.payload))
    val vals = sorted.map(r => micro(r.aggIn))
    val out = scala.collection.mutable.ArrayBuffer.empty[EngineOut]
    var first = 0 // the first row with ts ≥ t − w; t only grows
    for (i <- sorted.indices) {
      val r = sorted(i)
      while (sorted(first).tsMillis < r.tsMillis - w) first += 1
      if (r.fresh) {
        val acc = new Acc
        for (j <- first to i) acc.add(vals(j))
        out ++= alert(rule, acc.render(rule, countScale = 0), ruleId, key, r.tsMillis,
          r.payload)
      }
    }
    out.iterator
  }

  private def periodic(rule: Rule, ruleId: Long, key: String, rows: Array[EngineRow],
      lo: Long, hi: Long): Iterator[EngineOut] = {
    val w = rule.windowMilliseconds.get
    val slide = slideOf(rule)
    val wins = scala.collection.mutable.TreeMap.empty[Long, Acc]
    for (r <- rows) {
      val v = micro(r.aggIn)
      // the windows holding r (start ≤ ts < start + w) whose end is in
      // (lo, hi]: aligned starts in (max(ts, lo) − w, min(ts, hi − w)]
      val top = math.min(r.tsMillis, hi - w)
      var start = top - Math.floorMod(top, slide)
      while (start > math.max(r.tsMillis, lo) - w) {
        wins.getOrElseUpdate(start, new Acc).add(v)
        start -= slide
      }
    }
    wins.iterator.flatMap { case (start, a) =>
      alert(rule, a.render(rule, countScale = 6), ruleId, key, start, "")
    }
  }

  /** Running partials of one aggregate, in micro-units: every row, and the
    * count, sum, min and max of the rows holding a value. */
  private final class Acc {
    private var rows = 0L; private var n = 0L; private var sum = 0L
    private var min = Long.MaxValue; private var max = Long.MinValue

    def add(v: Option[Long]): Unit = {
      rows += 1
      v.foreach { m =>
        n += 1; sum += m
        if (m < min) min = m
        if (m > max) max = m
      }
    }

    /** The rule's aggregate at scale 6 (COUNT at `countScale`), or null
      * when no row holds a value. A non-COUNT rule without an aggregator
      * sums. */
    def render(rule: Rule, countScale: Int): JBigDecimal = {
      import graft.model.AggregatorType._
      if (rule.isCount) JBigDecimal.valueOf(rows).setScale(countScale)
      else if (n == 0) null
      else rule.aggregatorFunctionType.getOrElse(Sum) match {
        case Sum => JBigDecimal.valueOf(sum, 6)
        case Avg => JBigDecimal.valueOf((2 * sum + n) / (2 * n), 6)
        case Min => JBigDecimal.valueOf(min, 6)
        case Max => JBigDecimal.valueOf(max, 6)
      }
    }
  }

  /** The alert for an aggregate, if HAVING passes; a null aggregate
    * passes only when the rule has no HAVING. */
  private def alert(rule: Rule, agg: JBigDecimal, ruleId: Long, key: String,
      tsMillis: Long, payload: String): Option[EngineOut] = {
    val passes =
      if (agg == null) rule.limitOperatorType.isEmpty || rule.limit.isEmpty
      else rule.applyLimit(BigDecimal(agg))
    if (!passes) None
    else Some(EngineOut(ruleId, key, tsMillis,
      if (agg == null) null else agg.toPlainString, payload, fired = true))
  }

  /** Parse a scale-6 decimal string to micro-units; empty is no value.
    * Long micro-units hold values up to ~9.2e12 per window. */
  private def micro(s: String): Option[Long] =
    if (s == null || s.isEmpty) None
    else Some(new JBigDecimal(s).movePointRight(6).longValueExact())

  /** Effective slide of a periodic rule: its emission frequency when it
    * is a genuine sub-window period, else tumbling (= window). */
  private[streaming] def slideOf(r: Rule): Long = {
    val w = r.windowMilliseconds.get
    r.frequencyMilliseconds.filter(f => f > 0 && f <= w).getOrElse(w)
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A per-event alert's payload, a flat JSON object, as a field map. */
  private def payloadFields(json: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(json).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** Parse the reference-format composite key string
    * (`KeysExtractor.java:19-41`) back to a field map. */
  def keyFields(key: String): Map[String, String] = {
    val inner = key.stripPrefix("{").stripSuffix("}")
    if (inner.isEmpty) Map.empty
    else inner.split(";").iterator.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
  }
}
