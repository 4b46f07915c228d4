package graft.streaming

import graft.active.{EcaLoop, RuleStore, SnowflakeId}
import graft.model._
import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
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
  * instead of opaque operator state. The tail stays hash-partitioned by
  * (rule, key) from batch to batch, so only the batch's own rows cross
  * an exchange (the reference's `keyBy`, `App.java:73`). One batch is
  * two Spark jobs:
  *
  *  - fan-out (D1-D3): the new batch is fanned out under the CURRENT
  *    snapshot via [[FanOut.keyed]] and persisted, so a rule change is a
  *    re-plan, not a restart. Events that arrive while no rule wants them
  *    are never keyed or retained (exactly the reference:
  *    `DynamicKeyFunction` forwards per live rule only);
  *  - curMax, the batch's event-time watermark, is one `mapPartitions`
  *    max over the fresh side (the first job);
  *  - the fresh rows are shuffled by (rule, key) onto the tail's
  *    partitioning and zipped with it partition by partition; each
  *    partition groups its rows by (rule, key) and runs every group
  *    through [[DynamicActiveEngine.evalGroup]], the pure kernel, with the
  *    rule map broadcast: it emits the group's HAVING-passed alerts — W1
  *    per-event sliding aggregates over the fresh events (state for a
  *    spawned rule starts empty at spawn time, the reference's
  *    semantics), W2/W3 aligned windows whose *end* fell inside
  *    `(prevMax, curMax]`, W4 passthrough — and the rows the tail
  *    retains (W5 eviction: within window + period of curMax, live rules
  *    only, so a deleted rule's state is dropped with it). ECA
  *    `$`-parameters for periodic alerts bind from the group key (a
  *    window has no single triggering event);
  *  - the pass's output is marked for `localCheckpoint` and the second
  *    job collects at most `maxFiredPerBatch` fired alerts from it for
  *    the ECA step (the driver is a control plane, not a data plane).
  *    Spark checkpoints a job's final RDD, so that same job materializes
  *    the new tail: each group's output stays in the partition it came
  *    from, which keeps the partitioning without another exchange;
  *  - CLEAR_STATE_ALL (C7): drops the whole tail before evaluation
  *    (reference `DynamicQueryFunction.java:339-341`
  *    applyToKeyedState(clear)); already-emitted windows stay emitted,
  *    subsequent aggregates start empty.
  *
  * The tail is an RDD of the keyed pass's output whose partition i holds
  * exactly the (rule, key) groups a `HashPartitioner` over its partition
  * count (the default parallelism when it was first built) maps to i; its
  * fired alerts are skipped when it is read back. It is block-store
  * backed with its lineage truncated, and with `checkpointDir` set it is
  * also persisted durably ([[saveCheckpoint]]/[[restoreCheckpoint]] +
  * [[RuleStore.save]]) so a restarted driver resumes with full window
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
  import DynamicActiveEngine.EngineOut

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
  @volatile private var tail: Option[RDD[EngineOut]] = None
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

    // persisted: read by the curMax job and by the shuffle's map side
    val fresh = FanOut.keyed(batch, rules, tsCol).rdd.persist()
    try {
      // curMax = max(fresh max, maxSeenTs): every tail row's tsMillis is
      // ≤ the maxSeenTs of the batch that retained it, so only the fresh
      // side is scanned
      val batchMax = fresh
        .mapPartitions(it => if (it.hasNext) Iterator(it.map(_.tsMillis).max) else Iterator.empty)
        .collect()
      if (batchMax.isEmpty && maxSeenTs == Long.MinValue) return (None, noCkpt)
      val curMax = (batchMax :+ maxSeenTs).max

      val rulesById = rules.flatMap(r => r.queryId.map(_ -> r)).toMap
      // the batch's one exchange: only the fresh rows cross it
      val freshByKey = fresh.keyBy(e => (e.ruleId, e.key))
        .partitionBy(partitioner(fresh.sparkContext)).values
      val out = evaluate(tail, Some(freshByKey), rulesById, emittedThrough, curMax, curMax)
        .localCheckpoint()
      // the alert collect materializes `out` and checkpoints it as the
      // new tail, in one job. It runs under the monitor: emit-once
      // depends on the horizon and the collected set advancing together;
      // the sink and ECA spawn run after the monitor is released
      val fired =
        try collectFired(out)
        catch { case e: Throwable => out.unpersist(false); throw e }
      emittedThrough = math.max(emittedThrough, curMax)
      maxSeenTs = curMax
      tail.foreach(_.unpersist(false))
      tail = Some(out)
      // snapshot the post-batch state under the monitor; the WRITE runs
      // after delivery (see processBatch) so a crash mid-delivery keeps
      // the pre-batch checkpoint and recovery re-emits, never loses
      val (ckptTail, ckptMax, ckptEmitted) = (tail, maxSeenTs, emittedThrough)
      val ckpt: () => Unit = () =>
        checkpointDir.foreach(writeCheckpoint(batch.sparkSession, _, ckptTail, ckptMax,
          ckptEmitted))
      (if (fired.nonEmpty) Some((fired, rulesById)) else None, ckpt)
    } finally fresh.unpersist(false)
  }

  /** How the tail is laid out: by (rule, key) over the tail's own
    * partition count, so a batch's fresh rows land beside the groups
    * they extend; the default parallelism when there is no tail. */
  private def partitioner(sc: SparkContext): HashPartitioner =
    new HashPartitioner(tail.fold(sc.defaultParallelism)(_.getNumPartitions))

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
              evaluate(Some(t), None, rulesById, emittedThrough, horizon, maxSeenTs)))
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

  /** The keyed pass over the tail and the fresh rows, which are
    * partitioned alike, so partition i of each holds whole (rule, key)
    * groups: [[DynamicActiveEngine.evalPartition]] per partition. The rule
    * map ships as a Spark broadcast variable — once per executor, not
    * once per task closure. */
  private def evaluate(tail: Option[RDD[EngineOut]], fresh: Option[RDD[KeyedEvent]],
      rulesById: Map[Long, Rule], lo: Long, hi: Long, curMax: Long): RDD[EngineOut] = {
    val sc = (tail ++ fresh).head.sparkContext
    val bcRules = sc.broadcast(rulesById)
    val pass = (t: Iterator[EngineOut], f: Iterator[KeyedEvent]) =>
      DynamicActiveEngine.evalPartition(bcRules.value, t, f, lo, hi, curMax)
    (tail, fresh) match {
      case (Some(t), Some(f)) => t.zipPartitions(f)(pass)
      case (Some(t), None) => t.mapPartitions(pass(_, Iterator.empty))
      case (None, f) => f.get.mapPartitions(pass(Iterator.empty, _))
    }
  }

  /** Collect the fired alerts of a keyed pass, at most `maxFiredPerBatch`
    * (the driver is a control plane, not a data plane): each partition
    * ships at most that many, in one job over `out` itself, so an `out`
    * marked for checkpointing is checkpointed by the same job. */
  private def collectFired(out: RDD[EngineOut]): Seq[Alert] = {
    val cap = maxFiredPerBatch
    out.sparkContext
      .runJob(out, (it: Iterator[EngineOut]) => it.filter(_.fired).map(_.alert).take(cap).toArray)
      .iterator.flatten.take(cap).toSeq
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
      dir: String, tailSnap: Option[RDD[EngineOut]],
      maxSeen: Long, emitted: Long): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    tailSnap match {
      case Some(t) =>
        val rows = t.filter(!_.fired)
          .map(o => KeyedEvent(o.ruleId, o.key, o.tsMillis, o.value, o.payload))
        spark.createDataset(rows)(Encoders.product[KeyedEvent])
          .write.mode("overwrite").parquet(s"$dir/tail")
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
      if (kv.get("hasTail").contains("true")) {
        // laid out as the batch path lays out the tail, then materialized
        // (the parquet files are overwritten by the next checkpoint)
        val t = spark.read.parquet(s"$dir/tail").as[KeyedEvent](Encoders.product[KeyedEvent])
          .rdd.keyBy(e => (e.ruleId, e.key))
          .partitionBy(new HashPartitioner(spark.sparkContext.defaultParallelism))
          .values
          .map(e => EngineOut(e.ruleId, e.key, e.tsMillis, e.aggIn, e.payload, fired = false))
          .localCheckpoint()
        t.count()
        Some(t)
      } else None
  }

  /** Partition count of the retained tail (0 when there is none). */
  private[graft] def tailPartitions: Int =
    tail.fold(0)(_.getNumPartitions)

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

  /** One partition of the keyed pass: the retained rows of its tail (the
    * alerts beside them are skipped) and its fresh rows, grouped by
    * (rule, key), each group through [[evalGroup]]. Both sides hold
    * exactly the groups the engine's partitioner maps to this partition,
    * so every group is whole. */
  private[graft] def evalPartition(rules: Map[Long, Rule], tail: Iterator[EngineOut],
      fresh: Iterator[KeyedEvent], lo: Long, hi: Long, curMax: Long): Iterator[EngineOut] = {
    val groups = scala.collection.mutable.HashMap
      .empty[(Long, String), scala.collection.mutable.ArrayBuffer[EngineRow]]
    def add(r: EngineRow): Unit =
      groups.getOrElseUpdate((r.ruleId, r.key), scala.collection.mutable.ArrayBuffer.empty) += r
    tail.foreach(o =>
      if (!o.fired) add(EngineRow(o.ruleId, o.key, o.tsMillis, o.value, o.payload, fresh = false)))
    fresh.foreach(e => add(EngineRow(e.ruleId, e.key, e.tsMillis, e.aggIn, e.payload, fresh = true)))
    groups.iterator.flatMap { case ((ruleId, key), rows) =>
      evalGroup(rules, ruleId, key, rows.iterator, lo, hi, curMax)
    }
  }

  /** The engine's kernel: everything one batch does for one (rule, key)
    * group, as a pure function of its rows. It emits the HAVING-passed
    * alerts of the rule's kind, then the rows the tail retains.
    *
    *  - passthrough (W4): one alert per fresh row, aggregate = `aggIn`
    *    (reference `DynamicQueryFunction.java:93-116`);
    *  - per-event (W1): the group is sorted by (ts, payload, aggIn), tail
    *    rows before fresh ones, so tied rows replay in one order however
    *    they arrive, and each fresh row gets the aggregate of the rows
    *    from the first one with `ts ≥ t − w` up to itself: the inclusive
    *    `[t − w, t]` window (reference `DynamicQueryFunction.java:277-280`),
    *    where rows after it at the same timestamp are not yet seen;
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

  /** The per-event replay: two pointers slide over the sorted group, one
    * `SlidingAcc` holds the window, so the cost after the sort is linear
    * in the rows from the first fresh row's window on. */
  private def perEvent(rule: Rule, ruleId: Long, key: String,
      rows: Array[EngineRow]): Iterator[EngineOut] = {
    val w = rule.windowMilliseconds.getOrElse(0L)
    val sorted = rows.sorted(replayOrder)
    val lastFresh = sorted.lastIndexWhere(_.fresh)
    if (lastFresh < 0) return Iterator.empty
    val from = sorted.indexWhere(_.tsMillis >= sorted(sorted.indexWhere(_.fresh)).tsMillis - w)
    val win = new SlidingAcc(sorted.map(r => micro(r.aggIn)))
    val out = scala.collection.mutable.ArrayBuffer.empty[EngineOut]
    var first = from // the first row with ts ≥ t − w; t only grows
    for (i <- from to lastFresh) {
      val r = sorted(i)
      while (sorted(first).tsMillis < r.tsMillis - w) { win.evict(first); first += 1 }
      win.push(i)
      if (r.fresh) out ++= alert(rule, win.render(rule, countScale = 0), ruleId, key,
        r.tsMillis, r.payload)
    }
    out.iterator
  }

  /** (ts, payload, aggIn), then tail rows before fresh ones. */
  private val replayOrder: Ordering[EngineRow] = (a: EngineRow, b: EngineRow) => {
    var c = java.lang.Long.compare(a.tsMillis, b.tsMillis)
    if (c == 0) c = a.payload.compareTo(b.payload)
    if (c == 0) c = a.aggIn.compareTo(b.aggIn)
    if (c == 0) c = java.lang.Boolean.compare(a.fresh, b.fresh)
    c
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
  private class Acc {
    protected var rows = 0L; protected var n = 0L; protected var sum = 0L
    private var lo = Long.MaxValue; private var hi = Long.MinValue

    def add(v: Option[Long]): Unit = {
      rows += 1
      v.foreach { m =>
        n += 1; sum += m
        if (m < lo) lo = m
        if (m > hi) hi = m
      }
    }

    protected def min: Long = lo
    protected def max: Long = hi

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

  /** An [[Acc]] over a window of `vals` (a sorted group's values) that
    * only moves forward: row i joins at the back with `push(i)` and
    * leaves from the front with `evict(i)`. MIN and MAX come from
    * monotone deques of the valued rows' positions, so every step is
    * amortized O(1). */
  private final class SlidingAcc(vals: Array[Option[Long]]) extends Acc {
    private val lows = new MonoDeque(vals, _ < _)
    private val highs = new MonoDeque(vals, _ > _)

    def push(i: Int): Unit = {
      add(vals(i))
      if (vals(i).isDefined) { lows.push(i); highs.push(i) }
    }

    def evict(i: Int): Unit = {
      rows -= 1
      vals(i).foreach { m =>
        n -= 1; sum -= m
        lows.evict(i); highs.evict(i)
      }
    }

    override protected def min: Long = lows.front
    override protected def max: Long = highs.front
  }

  /** Positions of valued rows in a sliding window whose values keep
    * `before` order from front to back, so the front holds the window's
    * extreme. Each position is pushed once. */
  private final class MonoDeque(vals: Array[Option[Long]], before: (Long, Long) => Boolean) {
    private val q = new Array[Int](vals.length)
    private var h = 0
    private var t = 0

    def push(i: Int): Unit = {
      while (t > h && !before(vals(q(t - 1)).get, vals(i).get)) t -= 1
      q(t) = i; t += 1
    }

    /** Row i leaves the window; it is the front if still held. */
    def evict(i: Int): Unit = if (t > h && q(h) == i) h += 1

    def front: Long = vals(q(h)).get
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
