package graftbench

import graft.util.CacheRegistry
import org.apache.spark.sql.SparkSession

/** warehouse_ingest: the paper's second promise, analytical queries and
  * incremental ingest over the same warehouse, in one session. The query
  * mix (Warehouse) and the gate stream (Gate) share the generated
  * corpus; every `Sizes.triggerEvery`-th request is one gate trigger (10
  * documents gated and delivered, admits absorbed into the landed
  * kinds), the others are one query each, in the seeded pass order. */
final class WarehouseIngest(spark: SparkSession, o: Main.Opts, t: Tracer) extends Workload {
  private val gateWarm = Sizes.gateWarmup
  private val wh = new Warehouse(spark, o, t)
  private val gate = new Gate(spark, o, t, gateWarm)

  private val every = Sizes.triggerEvery(o.scale)
  private def isTrigger(i: Int) = i % every == every - 1
  private def triggersBefore(i: Int) = i / every
  /** The sub-workload and its own request index for global request i. */
  private def route(i: Int): (Workload, Int) =
    if (isTrigger(i)) (gate, gateWarm + triggersBefore(i))
    else (wh, i - triggersBefore(i))

  /** Items are queries: ops_per_s is queries answered per second of wall
    * time, the interleaved ingest triggers included in that time. */
  def itemsPerRequest(i: Int): Long = if (isTrigger(i)) 0 else 1
  def firstTimed: Int = 0
  /** Latency percentiles are per query; trigger latency is the gate
    * layer's own metric. */
  override def inLatency(i: Int): Boolean = !isTrigger(i)

  private var sizeBefore, sizeAfter = 0

  /** The query passes and the gate's warm-up trigger are independent
    * (different tables' registry keys, different Spark jobs), so they run
    * side by side; both must finish before the first timed request. */
  def setup(): Unit = {
    val gateSetup = new java.util.concurrent.FutureTask[Unit](() => gate.setup())
    val th = new Thread(gateSetup, "graftbench-gate-setup")
    th.start()
    wh.setup()
    try gateSetup.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    sizeBefore = t.span("registry.size", "registry")(CacheRegistry.size)
  }

  def request(i: Int): Unit = { val (w, j) = route(i); w.request(j) }

  private def split(is: Seq[Int]): (Seq[Int], Seq[Int]) = {
    val (g, q) = is.partition(isTrigger)
    (q.map(i => route(i)._2), g.map(i => route(i)._2))
  }

  def verify(timed: Seq[Int]): (Set[Int], Map[String, String]) = {
    sizeAfter = CacheRegistry.size
    val (q, g) = split(timed)
    val (qBad, qChecks) = wh.verify(q)
    val (gBad, gChecks) = gate.verify(g)
    val back = timed.map(i => route(i) -> i).toMap
    ((qBad.map(j => back((wh, j))) ++ gBad.map(j => back((gate, j)))), qChecks ++ gChecks)
  }

  def layerMetrics(probe: Option[Probe], traced: Seq[Int]): Map[String, Metric] = {
    val (q, g) = split(traced)
    wh.layerMetrics(probe, q) ++ gate.layerMetrics(probe, g) ++ Map(
      "registry.entries_added" -> Metric((sizeAfter - sizeBefore).toDouble, "count"),
      "registry.cached_mb" -> Metric(Probe.storageMb(spark.sparkContext), "MB"))
  }

  def close(): Unit = { gate.close(); wh.close() }
}
