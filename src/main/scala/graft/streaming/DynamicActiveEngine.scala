package graft.streaming

import graft.active.{EcaLoop, RuleStore, SnowflakeId}
import graft.compile.RuleCompiler
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

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
  * re-plans against a fresh `store.snapshot()` and keeps a bounded *tail*
  * of fanned-out events (everything still inside some live rule's window)
  * instead of opaque operator state:
  *
  *  - fan-out (D1-D3): the new batch is fanned out under the CURRENT
  *    snapshot via [[FanOut.keyed]] — compiled Columns rebuilt per batch,
  *    so a rule change is a re-plan, not a restart. Events that arrive
  *    while no rule wants them are never keyed or retained (exactly the
  *    reference: `DynamicKeyFunction` forwards per live rule only);
  *  - per-event rules (W1): tail ∪ fresh, grouped by (rule, key); each
  *    fresh event's trailing `[t-w, t]` aggregate is rebuilt with the
  *    same micro-unit bucket arithmetic as [[SlidingStateExec]]. The
  *    tail bounds the replay, so per-batch work is O(tail + batch) per
  *    key and state for a spawned rule starts empty at spawn time
  *    (reference semantics: a new rule sees only events after it
  *    reached the operator);
  *  - periodic rules (W2/W3): aligned windows whose *end* fell inside
  *    `(prevMax, curMax]` event time are finalized and emitted once —
  *    the event-time-watermark rendering of the reference's emission
  *    timers (`DynamicQueryFunction.java:118-147`). ECA `$`-parameters
  *    for periodic alerts bind from the group key (a window has no
  *    single triggering event);
  *  - eviction (W5, P5): the tail keeps only events within
  *    window(+slide) of the max seen event time, per rule, via a
  *    broadcast join against the live-rule horizons — so a deleted
  *    rule's state is dropped with it (reference guard
  *    `DynamicQueryFunction.java:85-88`);
  *  - CLEAR_STATE_ALL (C7): drops the whole tail before evaluation
  *    (reference `DynamicQueryFunction.java:339-341`
  *    applyToKeyedState(clear)); already-emitted windows stay emitted,
  *    subsequent aggregates start empty;
  *  - alert storm safety: at most `maxFiredPerBatch` fired alerts are
  *    collected for the ECA step per batch (the driver is a control
  *    plane, not a data plane).
  *
  * The tail is an ordinary DataFrame: per batch it is coalesced to the
  * default parallelism and `localCheckpoint()`ed (block-store backed,
  * lineage truncated, partition count bounded), and with `checkpointDir` set
  * it is also persisted durably ([[saveCheckpoint]]/[[restoreCheckpoint]]
  * + [[RuleStore.save]]) so a restarted driver resumes with full window
  * state — the reference gets the same from Flink checkpointing.
  * [[ActiveEngine]] remains the
  * static-rule fast path (single compiled `flatMapGroupsWithState` plan,
  * no per-batch re-plan) for deployments whose rule set is fixed.
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

    // Persist the FRESH (fanned-out batch) side only (optimization
    // r22): the previous shape persisted the whole tail ∪ fresh union,
    // so every batch re-cached the tail's rows (already block-backed
    // by its localCheckpoint) and the curMax agg scanned tail + batch.
    // Consumers now read tail blocks directly plus this batch-sized
    // cache; the union below stays a lazy plan.
    val freshC = FanOut.auto(batch, rules, tsCol).toDF()
      .withColumn("fresh", lit(true))
      .persist()
    val combined = tail match {
      case Some(t) => t.withColumn("fresh", lit(false)).unionByName(freshC)
      case None => freshC
    }
    try {
      // curMax = max(fresh max, maxSeenTs): every tail row's tsMillis
      // is ≤ the maxSeenTs of the batch that retained it, so the old
      // whole-union aggregate and this batch-only one are equal —
      // the agg now scans O(batch), never the tail (optimization r22).
      val curMaxRaw = freshC.agg(max(col("tsMillis"))).head().get(0)
      if (curMaxRaw == null && maxSeenTs == Long.MinValue)
        return (None, noCkpt)
      val curMax =
        if (curMaxRaw == null) maxSeenTs
        else math.max(curMaxRaw.asInstanceOf[Long], maxSeenTs)

      val rulesById = rules.flatMap(r => r.queryId.map(_ -> r)).toMap
      val passthroughIds = rules.filter(_.isPassthrough).flatMap(_.queryId)
      val perEventIds = rules.filter(r => r.isPerEventEmission && !r.isPassthrough)
        .flatMap(_.queryId)
      val periodic = rules.filter(r => !r.isPerEventEmission && !r.isPassthrough)

      // W4: raw passthrough — one alert per fresh matching event, no state
      // (reference `DynamicQueryFunction.java:93-116`)
      val passthroughAlerts: Option[DataFrame] =
        if (passthroughIds.isEmpty) None
        else Some(filterByRuleIds(combined, passthroughIds)
          .filter(col("fresh"))
          .select(col("ruleId"), col("key"), col("tsMillis"),
            col("aggIn").as("aggregate"), lit(true).as("passed"), col("payload")))
      val perEventAlerts: Option[Dataset[Alert]] =
        if (perEventIds.isEmpty) None
        else Some(evalPerEvent(
          filterByRuleIds(combined, perEventIds), rulesById))
      // one plan per distinct (window, slide) — NOT per rule: with
      // thousands of periodic rules a per-rule union makes Catalyst
      // analysis the per-batch bottleneck (same scaling argument as
      // FanOut.CompiledRuleLimit)
      val periodicAlerts: Option[DataFrame] = periodic
        .groupBy(r => (r.windowMilliseconds.get, slideOf(r)))
        .values.toSeq
        .map(group => evalPeriodic(combined, group, emittedThrough, curMax))
        .reduceOption(_ unionByName _)

      implicit val alertEnc = Encoders.product[Alert]
      val alerts: Option[Dataset[Alert]] =
        (perEventAlerts.toSeq ++
          (passthroughAlerts.toSeq ++ periodicAlerts.toSeq).map(_.as[Alert]))
          .reduceOption(_ unionByName _)
      // Tail update: per-rule retention horizon, broadcast-joined so a
      // dropped rule's rows (= its state) vanish with it.
      val spark = batch.sparkSession
      import spark.implicits._
      // curMax rides the broadcast horizons frame's DATA, not a literal
      // (optimization r21, same reasoning as evalPeriodic's bounds
      // frame): a per-batch literal re-compiles the tail stage's
      // generated class every batch.
      val horizons = rules.flatMap(r => r.queryId.map(id => (id,
        r.windowMilliseconds.getOrElse(0L) +
          r.frequencyMilliseconds.filter(_ > 0).getOrElse(0L),
        curMax)))
        .toDF("ruleId", "hz", "__cm")
      // The tail checkpoint depends only on (combined, curMax) — never
      // on the alert plans — so its eager materialization overlaps the
      // alert collect on a second thread (guide §2.6 "overlap
      // independent jobs"; optimization r22): previously the two
      // driver-blocking actions ran back to back under the monitor.
      // Thread created here so Spark's inheritable job-group properties
      // carry over; joined before the state vars advance.
      val tailT = new java.util.concurrent.FutureTask(() =>
        combined
          .join(broadcast(horizons), "ruleId")
          .filter(col("tsMillis") >= col("__cm") - col("hz"))
          .select("ruleId", "key", "tsMillis", "aggIn", "payload")
          .transform(retain))
      val tailTh = new Thread(tailT, "engine-tail-checkpoint")
      tailTh.setDaemon(true)
      tailTh.start()
      // collect (a Spark action) under the monitor — emit-once depends on
      // the horizon and the collected set advancing together; the sink
      // and ECA spawn run after the monitor is released
      val fired =
        try alerts.map(collectFired).getOrElse(Seq.empty)
        catch { case e: Throwable =>
          // the concurrently-built tail must not leak its blocks when
          // the collect fails (the pre-r22 sequential shape never built
          // it on this path)
          try { tailT.get().unpersist(false); () }
          catch { case scala.util.control.NonFatal(_) => () }
          throw e
        }

      emittedThrough = math.max(emittedThrough, curMax)
      maxSeenTs = curMax

      val newTail =
        try tailT.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
        }
      tail.foreach(_.unpersist(false))
      tail = Some(newTail)
      // snapshot the post-batch state under the monitor; the WRITE runs
      // after delivery (see processBatch) so a crash mid-delivery keeps
      // the pre-batch checkpoint and recovery re-emits, never loses
      val (ckptTail, ckptMax, ckptEmitted) = (tail, maxSeenTs, emittedThrough)
      val ckpt: () => Unit = () =>
        checkpointDir.foreach(writeCheckpoint(spark, _, ckptTail, ckptMax, ckptEmitted))
      (if (fired.nonEmpty) Some((fired, rulesById)) else None, ckpt)
    } finally freshC.unpersist(false)
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
            .map(r => r.windowMilliseconds.get + slideOf(r)).max
          val horizon = math.min(horizonMs, maxSeenTs + maxHz)
          if (horizon <= emittedThrough) None
          else {
            val loEnd = emittedThrough
            val fired = tail match {
              case Some(t) =>
                implicit val alertEnc = Encoders.product[Alert]
                periodic.groupBy(r => (r.windowMilliseconds.get, slideOf(r)))
                  .values.toSeq
                  .map(group => evalPeriodic(t, group, loEnd, horizon))
                  .reduceOption(_ unionByName _)
                  .map(df => collectFired(df.as[Alert]))
                  .getOrElse(Seq.empty)
              case None => Seq.empty
            }
            // collect succeeded — advance the emit-once horizon now
            emittedThrough = horizon
            if (fired.isEmpty) None
            else Some((fired, rules.flatMap(r => r.queryId.map(_ -> r)).toMap))
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

  /** Filter to rows whose ruleId is in `ids`, as a broadcast-DATA
    * semi-join rather than an inlined `isin` literal list (optimization
    * r22, the r21 horizon-bounds pattern): spawned-rule ids are
    * wall-clock snowflakes, so an isin list makes the generated class
    * textually NEW whenever the rule set changed (ECA spawn, live merge)
    * — broadcast-side data is referenced, not inlined, keeping the
    * generated source (and the Janino + JIT bill) identical batch over
    * batch. Identical rows: queryIds are unique and non-null. */
  private def filterByRuleIds(df: DataFrame, ids: Seq[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.join(broadcast(ids.toDF("ruleId")), "ruleId")
  }

  /** Collect fired alerts (bounded) — the Spark-action half, run under
    * the engine monitor by both paths. `col("passed")` keeps the
    * predicate in codegen; `_.passed` would deserialize every Alert
    * into an object just to read one boolean (optimization r22). */
  private def collectFired(ds: Dataset[Alert]): Seq[Alert] =
    ds.filter(col("passed")).limit(maxFiredPerBatch).collect().toSeq

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
    * their order ([[evalPerEvent]] sorts each group itself). */
  private def retain(df: DataFrame): DataFrame =
    df.coalesce(df.sparkSession.sparkContext.defaultParallelism).localCheckpoint(true)

  /** Partition count of the retained tail (0 when there is none). */
  private[graft] def tailPartitions: Int =
    tail.fold(0)(_.rdd.getNumPartitions)

  /** W1 replay over tail ∪ fresh: identical bucket arithmetic to
    * [[SlidingStateExec]], emitting only for fresh (this-batch) events.
    * The rule map ships as a Spark broadcast — once per executor, not
    * once per task closure (at the reference's thousands-of-rules scale
    * the closure copy is per-task serialization on every batch). */
  private def evalPerEvent(keyed: DataFrame,
      rulesById: Map[Long, Rule]): Dataset[Alert] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    implicit val alertEnc = Encoders.product[Alert]
    val bcRules = spark.sparkContext.broadcast(rulesById)
    keyed.select("ruleId", "key", "tsMillis", "aggIn", "payload", "fresh")
      .as[(Long, String, Long, String, String, Boolean)]
      .groupByKey { case (rid, key, _, _, _, _) => (rid, key) }
      .flatMapGroups[Alert] { (group: (Long, String),
          it: Iterator[(Long, String, Long, String, String, Boolean)]) =>
        val (rid, key) = group
        bcRules.value.get(rid) match {
          case Some(rule) if rule.isPerEventEmission =>
            val w = rule.windowMilliseconds.getOrElse(0L)
            // deterministic replay order, as SlidingStateExec sorts batches
            val evs = it.toArray.sortBy { case (_, _, ts, _, p, _) => (ts, p) }
            val out = scala.collection.mutable.ArrayBuffer.empty[Alert]
            var buckets = Map.empty[Long, SlidingStateExec.Bucket]
            for ((_, _, ts, aggIn, payload, isFresh) <- evs) {
              buckets = SlidingStateExec.insert(buckets, ts, aggIn)
              buckets = buckets.filter { case (t, _) => t >= ts - w }
              if (isFresh) {
                val agg = SlidingStateExec.merge(rule, buckets, ts - w, ts)
                out += Alert(rid, key, ts, agg.toPlainString,
                  rule.applyLimit(BigDecimal(agg)), payload)
              }
            }
            out.iterator
          case _ => Iterator.empty
        }
      }
  }

  /** Effective slide of a periodic rule: its emission frequency when it
    * is a genuine sub-window period, else tumbling (= window). */
  private def slideOf(r: Rule): Long = {
    val w = r.windowMilliseconds.get
    r.frequencyMilliseconds.filter(f => f > 0 && f <= w).getOrElse(w)
  }

  /** W2/W3: finalize aligned windows whose end fell in `(loEnd, hiEnd]`,
    * for a whole GROUP of rules sharing one (window, slide) — one
    * `groupBy(ruleId, key, window)` pass computes every aggregate shape
    * (count / sum / min / max / exact micro-unit avg) once, then a
    * broadcast per-rule meta join picks each rule's aggregate and applies
    * its HAVING as a codegen'd CASE. Plan size is O(distinct window
    * shapes), constant in rule count. Emitted rows are HAVING-passed
    * (the reference's periodic path only outputs firing evaluations). */
  private def evalPeriodic(combined: DataFrame, group: Seq[Rule],
      loEnd: Long, hiEnd: Long): DataFrame = {
    val spark = combined.sparkSession
    import spark.implicits._
    val w = group.head.windowMilliseconds.get
    val slide = slideOf(group.head)
    val rids = group.flatMap(_.queryId)
    val meta = group.flatMap(r => r.queryId.map(id => (id,
      if (r.isCount) "COUNT" else r.aggregatorFunctionType.fold("SUM")(_.name),
      (r.limitOperatorType, r.limit) match {
        case (Some(op), Some(_)) => op.name
        case _                   => null
      },
      r.limit.map(_.bigDecimal.toPlainString).orNull)))
      .toDF("ruleId", "aggType", "limitOp", "limitVal")

    val D = RuleCompiler.RuleDecimal
    // try_cast: COUNT-sentinel rules carry aggIn = "" (no value), which a
    // plain ANSI cast rejects; their rows must still count via __cnt_dec
    val dec = expr(s"try_cast(aggIn AS ${D.sql})")
    // the (loEnd, hiEnd] horizon bounds ride a broadcast 1-row frame
    // instead of literals (optimization r21): a primitive literal
    // INLINES into the whole-stage-codegen source, so the per-batch
    // horizon values made every batch's generated class textually new —
    // Janino recompiled + the JVM re-JITted ~12–19 classes per batch
    // across a replay (q185 cg_n 96–98 per run). Broadcast-side DATA is
    // passed by reference in generated code, so the source — and the
    // compiled class — is identical batch over batch. Same rows out.
    val bounds = Seq((loEnd, hiEnd)).toDF("__lo_end", "__hi_end")
    val agged = filterByRuleIds(combined, rids)
      .withColumn("__ts", timestamp_millis(col("tsMillis")))
      .groupBy(col("ruleId"), col("key"),
        window(col("__ts"), s"$w milliseconds", s"$slide milliseconds"))
      .agg(
        count(lit(1)).cast(D).as("__cnt_dec"),
        sum(dec).cast(D).as("__sum"),
        min(dec).cast(D).as("__min"),
        max(dec).cast(D).as("__max"),
        // exact AVG partials: micro-unit integer sum, HALF_UP at the end
        // (same arithmetic as RuleCompiler.aggPlan's Avg plan)
        sum((dec * lit(1000000)).cast("long")).as("__sum_micro"),
        count(dec).as("__cnt"))
      .withColumn("__w_end", unix_millis(col("window.end")))
      .crossJoin(broadcast(bounds))
      .filter(col("__w_end") > col("__lo_end") &&
        col("__w_end") <= col("__hi_end"))
      .drop("__lo_end", "__hi_end")
    // guard: a window whose events all lack a value has __cnt = 0 — the
    // div would be an ANSI divide-by-zero at runtime even though only
    // AVG rules select this branch
    val avg = when(col("__cnt") > 0,
      (expr("(2 * __sum_micro + __cnt) div (2 * __cnt)") / lit(1000000.0)).cast(D))
      .otherwise(lit(null).cast(D))
    val aggVal = when(col("aggType") === "COUNT", col("__cnt_dec"))
      .when(col("aggType") === AggregatorType.Sum.name, col("__sum"))
      .when(col("aggType") === AggregatorType.Min.name, col("__min"))
      .when(col("aggType") === AggregatorType.Max.name, col("__max"))
      .otherwise(avg)
    val lim = col("limitVal").cast(D)
    val a = col(RuleCompiler.AggAlias)
    val passed = when(col("limitOp").isNull, lit(true))
      .when(col("limitOp") === CompareOp.Equal.name, a === lim)
      .when(col("limitOp") === CompareOp.NotEqual.name, a =!= lim)
      .when(col("limitOp") === CompareOp.Greater.name, a > lim)
      .when(col("limitOp") === CompareOp.Less.name, a < lim)
      .when(col("limitOp") === CompareOp.GreaterEqual.name, a >= lim)
      .otherwise(a <= lim)
    agged
      .join(broadcast(meta), "ruleId")
      .withColumn(RuleCompiler.AggAlias, aggVal)
      .filter(passed)
      .select(
        col("ruleId"),
        col("key"),
        unix_millis(col("window.start")).as("tsMillis"),
        a.cast("string").as("aggregate"),
        lit(true).as("passed"),
        lit("").as("payload"))
  }

  /** ECA `$`-binding source for one alert: the triggering event's fields
    * (per-event alerts carry the event as JSON) or, for periodic alerts,
    * the group-key fields — `{carId=7;lon=121.5}` → carId, lon. */
  private def bindFields(a: Alert): Map[String, String] =
    if (a.payload != null && a.payload.nonEmpty) PayloadCodec.fields(a.payload)
    else DynamicActiveEngine.keyFields(a.key)
}

object DynamicActiveEngine {
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
