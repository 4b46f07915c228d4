package graft

import graft.rules.RuleCodec
import graft.streaming.DynamicActiveEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming demo of the active engine: file-stream ingest →
  * rule fan-out → per-event sliding window (W1) → HAVING → alerts → ECA
  * rule spawning (C4) → **spawned rule firing in the same run** — the
  * closed feedback loop, driven as a real Structured Streaming query
  * against the dynamic engine (per-batch rule snapshots).
  *
  * Usage: runMain graft.StreamDemo [sfDir]
  * The events table is staged as one file per calendar week and streamed
  * with maxFilesPerTrigger=1, so the run has several micro-batches and
  * children spawned in batch N can fire in batch N+1.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.util.LocalSession()

    // README-style parent rule: per-user AVG over a trailing day, emitting
    // per event; on firing, spawn a per-user COUNT monitor with a TTL.
    val parent = RuleCodec.decode(
      """{"queryId":1,"queryState":"ACTIVE",
          "windowFilterRules":[{"field":"event_type","operator":"=","value":"purchase"}],
          "groupingKeyNames":["user_id"],
          "aggregateFieldName":"value","aggregatorFunctionType":"AVG",
          "limitOperatorType":">","limit":60,
          "windowMilliseconds":86400000,"frequencyMilliseconds":0,
          "alertRules":[{"queryId":2,"queryState":"ACTIVE",
            "groupingKeyNames":["$user_id"],
            "aggregateFieldName":"COUNT_FLINK",
            "limitOperatorType":">","limit":3,
            "windowMilliseconds":604800000,"frequencyMilliseconds":0,
            "lastTime":-1}]}""")

    val engine = new DynamicActiveEngine()
    engine.store.merge(parent)
    var fired = 0L
    var childFired = 0L
    engine.onAlerts { alerts =>
      fired += alerts.size
      childFired += alerts.count(_.ruleId != 1L)
    }

    // stage the events table as one parquet file per week so the file
    // stream runs several micro-batches in event-time order
    val batch = graft.sources.Tables.load(spark, sfDir, "events")
    val stage = java.nio.file.Files.createTempDirectory("graft-demo-events")
    val weeks = batch
      .withColumn("__wk", expr("unix_micros(ts) div 604800000000"))
      .persist()
    val wks = weeks.select("__wk").distinct()
      .collect().map(_.getLong(0)).sorted
    wks.zipWithIndex.foreach { case (wk, i) =>
      val tmp = stage.resolve(f"tmp$i%03d")
      weeks.filter(col("__wk") === wk).drop("__wk")
        .coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = stage.resolve(f"wk$i%03d.parquet")
      java.nio.file.Files.move(part, dest)
      // file source orders batches by modification time
      dest.toFile.setLastModified(1700000000000L + i * 60000L)
      // leave only the staged parquet files in the streamed directory
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    weeks.unpersist()

    val events = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)

    val q = engine.writer(events, "ts")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-demo-ckpt").toString)
      .start()
    q.awaitTermination()

    println(s"[demo] batches: ${wks.length}, alerts fired: $fired")
    println(s"[demo] rules in store after ECA: ${engine.store.size}")
    println(s"[demo] alerts fired by ECA-spawned children: $childFired")
    engine.store.snapshot().filter(_.activeId.isDefined).take(3).foreach { r =>
      println(s"[demo] spawned: ${RuleCodec.encode(r)}")
    }
    spark.stop()
  }
}
