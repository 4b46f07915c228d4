package graftbench

/** Request counts. A run does a fixed number of requests for its
  * (workload, seconds, scale), so every run of a seed does the same work;
  * the count is the seconds asked for times the workload's nominal rate
  * on a 4-core machine, so a run's timed phase lasts about that long. */
object Sizes {
  /** eca_replay's events per batch. */
  val replayBatch = 2000

  /** warehouse_ingest: every `triggerEvery`-th request is a gate trigger,
    * the rest are queries. */
  def triggerEvery(scale: String): Int = if (scale == "tiny") 5 else 12

  /** Timed query passes: whole passes, so every run times the same
    * multiset of queries whatever the seed's order. */
  def passes(seconds: Int, scale: String): Int =
    if (scale == "tiny") 1 else math.max(1, math.round(seconds * 0.2).toInt)

  /** Untimed query passes after the first one. With none, the first
    * timed pass ran 2-3x slower than the second while the JIT warmed up;
    * with one, still ~1.3x. */
  def warmPasses(scale: String): Int = if (scale == "tiny") 0 else 2

  /** ECA batches per second of --seconds. */
  private def rate(w: String): Double = w match {
    case "eca_rules" => 0.4
    case "eca_replay" => 0.4
  }

  def requests(workload: String, seconds: Int, scale: String): Int = workload match {
    case "warehouse_ingest" =>
      val q = passes(seconds, scale) * Warehouse.Queries.size
      q + q / (triggerEvery(scale) - 1)
    case _ if scale == "tiny" => 4
    case _ => math.max(4, math.round(seconds * rate(workload)).toInt)
  }

  /** Untimed warm-up batches of the ECA workloads. */
  val ecaWarmup = 3

  /** warehouse_ingest's untimed gate triggers (its queries warm up with
    * whole untimed passes instead, see `warmPasses`). */
  val gateWarmup = 1
}
