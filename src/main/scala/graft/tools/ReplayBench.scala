package graft.tools

import graft.rules.RuleCodec
import graft.streaming.DynamicActiveEngine
import org.apache.spark.sql.streaming.Trigger

/** Replay-throughput benchmark against the reference's one concrete
  * number: its Shanghai-taxi replay source feeds 13,000 events/s on a
  * single thread at parallelism 1 (`source/CarDataFromFiles.java:63-68`,
  * BASELINE.md). This main synthesizes SHCarData-format pipe-delimited
  * files, runs the full active pipeline (schema-ful ingest → fan-out over
  * the README example rules → per-event sliding windows → ECA), and
  * reports end-to-end events/s.
  *
  * Usage: runMain graft.tools.ReplayBench [nEvents] [threads] [sources] [windowMs]
  *
  * `sources` > 1 exercises the SOURCE-PARALLELISM lever the cluster
  * story depends on (the single synthesized feed's thread curve
  * flattens past ~4 — BASELINE.md round-10 note): the fleet splits
  * into `sources` disjoint car populations, each written to its own
  * directory and read by its own file stream; the engine runs over
  * their UNION, so ingest, fan-out and keyed state all see
  * `sources` independent partitioned feeds — the shape a cluster
  * deployment has with one stream per Kafka partition group.
  *
  * `windowMs`, when given, is every rule's window length: each car
  * emits one event per second, so a rule keyed by car holds about
  * `windowMs / 1000` rows per key. By default the rules keep their
  * README windows (10 s, its spawned child 5 s, the geo-box rule 60 s).
  */
object ReplayBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(130000)
    val threads = args.lift(1).map(_.toInt).getOrElse(1)
    val nSources = math.max(1, args.lift(2).map(_.toInt).getOrElse(1))
    val window = args.lift(3).map(_.toLong)
    val spark = graft.util.LocalSession(threads)

    // synthesize SHCarData-format lines: 200 cars, 1 event/s each,
    // deterministic speeds/coords (seeded) — FIXTURES A1 format
    val dir = java.nio.file.Files.createTempDirectory("graft-replay")
    val rnd = new scala.util.Random(42)
    val sdf = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = java.time.LocalDateTime.of(2016, 8, 3, 12, 0, 0)
    val perFile = 25000
    // disjoint car fleets per source: car c belongs to source c % nSources,
    // so each feed is an independent keyed population (the Kafka-
    // partition-group shape)
    val bySource = (0 until n).map { i =>
      val car = 1000 + (i % 200)
      val ts = t0.plusSeconds(i / 200).format(sdf)
      val lon = 121.4 + rnd.nextDouble() * 0.2
      val lat = 31.15 + rnd.nextDouble() * 0.15
      val speed = rnd.nextInt(150)
      val angle = rnd.nextInt(360)
      (car % nSources,
        f"$car%05d|A|0|1|1|0|0|0|$ts|$ts|$lon%.6f|$lat%.6f|$speed.0|$angle.0|6|000")
    }.groupBy(_._1)
    // every source dir exists even if its car-residue got no events
    // (small nEvents or nSources > fleet) so readStream never sees a
    // missing path
    (0 until nSources).foreach { i =>
      java.nio.file.Files.createDirectories(dir.resolve(s"src$i")); ()
    }
    bySource.foreach { case (src, rows) =>
      val sub = dir.resolve(s"src$src")
      rows.map(_._2).grouped(perFile).zipWithIndex.foreach { case (chunk, i) =>
        java.nio.file.Files.write(sub.resolve(f"part-$i%04d.txt"),
          String.join("\n", chunk: _*).getBytes)
      }
    }

    // README example rules: per-car AVG speed (10s window, per-event
    // emission) spawning a per-car MAX monitor; plus the geo-box AVG rule
    val engine = new DynamicActiveEngine()
    engine.store.merge(RuleCodec.decode(
      s"""{"queryId":1,"queryState":"ACTIVE","groupingKeyNames":["carId"],
          "aggregateFieldName":"speed","aggregatorFunctionType":"AVG",
          "limitOperatorType":">","limit":120,
          "windowMilliseconds":${window.getOrElse(10000L)},"frequencyMilliseconds":0,
          "alertRules":[{"queryId":2,"queryState":"ACTIVE",
            "groupingKeyNames":["$$carId"],"aggregateFieldName":"speed",
            "aggregatorFunctionType":"MAX","limitOperatorType":">","limit":10,
            "windowMilliseconds":${window.getOrElse(5000L)},"frequencyMilliseconds":0,
            "lastTime":10000}]}"""))
    engine.store.merge(RuleCodec.decode(
      s"""{"queryId":3,"queryState":"ACTIVE",
          "windowFilterRules":[
            {"field":"lon","operator":">","value":"121.45"},
            {"field":"lon","operator":"<","value":"121.55"},
            {"field":"lat","operator":"<","value":"31.25"},
            {"field":"lat","operator":">","value":"31.20"}],
          "groupingKeyNames":["carId"],
          "aggregateFieldName":"speed","aggregatorFunctionType":"AVG",
          "limitOperatorType":">","limit":120,
          "windowMilliseconds":${window.getOrElse(60000L)},"frequencyMilliseconds":0}"""))

    var fired = 0L
    engine.onAlerts(a => fired += a.size)
    val events = (0 until nSources).map { i =>
      graft.sources.ShCarData.readStream(spark, dir.resolve(s"src$i").toString,
        maxFilesPerTrigger = 100)
    }.reduce(_ union _)
    val start = System.nanoTime()
    val q = engine.writer(events, "eventTime")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-replay-ckpt").toString)
      .start()
    q.awaitTermination()
    val secs = (System.nanoTime() - start) / 1e9
    println(f"[replay] events=$n threads=$threads sources=$nSources " +
      f"wall=$secs%.1fs rate=${n / secs}%.0f events/s fired=$fired " +
      f"spawned=${engine.store.size - 2}")
    spark.stop()
  }
}
