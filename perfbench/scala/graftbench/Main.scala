package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: a value and its unit. */
final case class Metric(value: Double, unit: String)

/** The calls a traced run wraps in spans. With no probe, a span is just
  * the call, so untraced runs pay nothing for it. */
final class Tracer(var probe: Option[Probe]) {
  def span[A](name: String, layer: String)(f: => A): A = probe match {
    case Some(p) => p.span(name, layer)(f)
    case None => f
  }
}

/** A closed-loop workload: a single client that sends request i+1 only
  * after request i has returned. */
trait Workload {
  /** Items one request carries (events, queries or documents). */
  def itemsPerRequest(i: Int): Long
  /** Whether request i's latency counts in the latency percentiles. */
  def inLatency(i: Int): Boolean = true
  /** Index of the first timed request: the untimed warm-up requests of
    * the workload's own shape come before it. */
  def firstTimed: Int
  /** Untimed: build state, then run the fixed warm-up requests. */
  def setup(): Unit
  /** One timed request; `i` counts from 0 across the whole run. */
  def request(i: Int): Unit
  /** After timing: the timed request indices whose output check failed,
    * and the named checks that ran (for the result record). */
  def verify(timed: Seq[Int]): (Set[Int], Map[String, String])
  /** Exact counts and per-layer figures over the timed requests `traced`
    * (a traced run attaches the probe for its whole timed phase). */
  def layerMetrics(probe: Option[Probe], traced: Seq[Int]): Map[String, Metric]
  def close(): Unit
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, out: String, cores: Int, scale: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m.getOrElse("data", ""), m("work"), m("out"), m("cores").toInt,
      m.getOrElse("scale", "full"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graftbench")
      // graft.Bench's confs
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      // every file the run writes stays under its work directory
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${o.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress to stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[graftbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    log("session ready")
    val tracer = new Tracer(None)
    val w: Workload = o.workload match {
      case "eca_rules" => Eca.rulesWorkload(spark, o, tracer)
      case "eca_replay" => Eca.replayWorkload(spark, o, tracer)
      case "warehouse_ingest" => new WarehouseIngest(spark, o, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    val n = Sizes.requests(o.workload, o.seconds, o.scale)
    w.setup()
    log("setup done")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // Timed phase. A traced run attaches the probe for all of it.
    val lat = mutable.ArrayBuffer.empty[Double]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val failed = mutable.Set.empty[Int]
    val probe = if (o.trace) Some(new Probe(spark)) else None
    tracer.probe = probe
    val timed = w.firstTimed until w.firstTimed + n
    var items = 0L
    val jvm0 = JvmCounters.now()
    val t0 = System.nanoTime()
    timed.foreach { i =>
      probe.foreach(_.currentReq = i)
      val s = System.nanoTime()
      val sMicros = probe.map(_.nowMicros()).getOrElse(0L)
      try w.request(i)
      catch { case e: Exception =>
        System.err.println(s"[graftbench] request $i failed: $e")
        failed += i
      }
      val e = System.nanoTime()
      probe.foreach(p => intervals += ((sMicros, p.nowMicros())))
      Main.log(f"request $i ${(e - s) / 1e6}%.1f ms")
      if (w.inLatency(i)) lat += (e - s) / 1e6
      items += w.itemsPerRequest(i)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val jvmD = JvmCounters.now() - jvm0
    probe.foreach(_.close())
    tracer.probe = None
    val heapMb = JvmCounters.heapAfterGcMb()

    val (badChecks, checks) = w.verify(timed)
    failed ++= badChecks

    val out = mutable.LinkedHashMap.empty[String, Metric]
    out("setup_s") = Metric(setupS, "s")
    out("ops_per_s") = Metric(items / wallS, "1/s")
    out("latency_p50_ms") = Metric(percentile(lat.toSeq, 0.5), "ms")
    out("latency_p90_ms") = Metric(percentile(lat.toSeq, 0.9), "ms")
    out("heap_after_gc_mb") = Metric(heapMb, "MB")
    if (o.trace) {
      val m = n.toDouble
      out ++= w.layerMetrics(probe, timed)
      val p = probe.get
      val win = p.window(intervals.toSeq)
      val busyUs = intervals.map { case (a, b) => b - a }.sum
      out("spark.jobs_per_op") = Metric(win.jobs / m, "count")
      out("spark.stages_per_op") = Metric(win.stages / m, "count")
      out("spark.tasks_per_op") = Metric(win.tasks / m, "count")
      out("spark.shuffle_read_mb_per_op") = Metric(win.shuffleRead / 1048576.0 / m, "MB")
      out("spark.shuffle_write_mb_per_op") = Metric(win.shuffleWrite / 1048576.0 / m, "MB")
      out("spark.spill_mb_per_op") = Metric(win.spill / 1048576.0 / m, "MB")
      out("spark.task_cpu_ms_per_op") = Metric(win.cpuNs / 1e6 / m, "ms")
      out("spark.busy_share") = Metric(win.runMs * 1000.0 / (o.cores * math.max(1L, busyUs)), "ratio")
      out("spark.codegen_per_op") = Metric(jvmD.codegen / m, "count")
      out("jvm.jit_ms_per_op") = Metric(jvmD.jitMs / m, "ms")
      out("jvm.gc_ms_per_op") = Metric(jvmD.gcMs / m, "ms")
      out("jvm.cpu_ms_per_op") = Metric(jvmD.cpuNs / 1e6 / m, "ms")
      val tenth = math.max(1, lat.size / 10)
      out("latency_drift") = Metric(
        lat.takeRight(tenth).sum / math.max(1e-9, lat.take(tenth).sum), "ratio")
      val self = p.selfMsPerOp(timed.toSet)
      Seq("rules", "active", "engine", "gate", "queries", "registry", "spark").foreach { l =>
        out(s"self.${l}_ms_per_op") = Metric(self.getOrElse(l, 0.0), "ms")
      }
      out("self.jvm_ms_per_op") = Metric((jvmD.gcMs + jvmD.jitMs) / m, "ms")
      out("trace.overhead_ms") = Metric(p.ownNs / 1e6 / m, "ms")
    }
    w.close()

    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    val json = obj(Seq(
      "attempted" -> n.toString,
      "failed" -> failed.count(timed.contains).toString,
      "wall_s" -> wallS.toString,
      "checks" -> obj(checks.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> obj(out.map { case (k, m) =>
        val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
        k -> obj(Seq("value" -> v.toString, "unit" -> Json.str(m.unit)))
      })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), json)
    spark.stop()
    // non-daemon threads a workload's libraries leave behind must not keep
    // the JVM alive past its result
    System.exit(0)
  }
}
