package graft

/** The replay feeds' driver-residency cap (r22): an over-cap week fed
  * as event-time-ordered sub-week chunks must produce the identical
  * alert set as the single-collect week — the event-time
  * batch-boundary invariance [[EntryHelpers.replayMaxRows]]'s chunking
  * relies on (periodic emit-once horizons + the tail's window(+slide)
  * retention cover every cut). Pinned at sf0.001, whose weekly batches
  * (hundreds of rows) all exceed the lowered cap, on the q30 replay
  * (`processBatch` on driver-local frames) and on q212 (the live engine
  * fed over a MemoryStream, one trigger per chunk).
  *
  * The invariance covers rules that spawn nothing. A spawned child
  * evaluates from the trigger after its parent fired, so chunking a
  * week spawns it earlier and it fires on more events: q212 is pinned
  * on its parent's alerts, and its children must fire either way. */
class ReplayChunkSpec extends SparkSpec {

  private def singleAndChunked(name: String): (Seq[String], Seq[String]) = {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries(name)
    def rows(): Seq[String] =
      q(spark, dir).collect().map(_.toString).sorted.toSeq
    val single = rows()
    val saved = EntryHelpers.replayMaxRows
    val chunked =
      try { EntryHelpers.replayMaxRows = 37; rows() }
      finally EntryHelpers.replayMaxRows = saved
    (single, chunked)
  }

  test("dynamicReplayRaw: chunked over-cap weeks ≡ single-batch weeks") {
    val (single, chunked) = singleAndChunked("q30_dynamic_engine_replay")
    assert(chunked.nonEmpty && chunked == single)
  }

  test("q212: chunked over-cap weeks ≡ single-batch weeks on the parent rule") {
    val (single, chunked) = singleAndChunked("q212_eca_live")
    def stage(rows: Seq[String], s: String) = rows.filter(_.startsWith(s"[$s,"))
    assert(stage(chunked, "parent").nonEmpty && stage(chunked, "parent") == stage(single, "parent"))
    assert(stage(single, "child").nonEmpty && stage(chunked, "child").nonEmpty)
  }
}
