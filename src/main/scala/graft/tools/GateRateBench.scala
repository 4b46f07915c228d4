package graft.tools

import graft.sources.{IndexStore, Tables}
import graft.streaming.IngestGateStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Throughput sample for the PRODUCTION streaming-gate wiring
  * ([[graft.streaming.IngestGateStream]]) with landed indexes restored
  * from a durable [[graft.sources.IndexStore]] — the daily-restart
  * steady state, measured end to end: restore → first (warm-up) batch
  * builds/loads whatever the store didn't cover → the measured batches
  * pay only per-batch gate work against memoized landed artifacts.
  *
  * The feed is the sf dir's %5==2 document slice (the q129/q132
  * contract batch) delivered via MemoryStream in `slices` micro-batches
  * — driver-side test machinery, as the q73 replay harness; a real
  * deployment reads Kafka/files. Per batch the tool asserts VERDICT
  * TOTALITY (one verdict per fed doc) before counting the batch into
  * the rate.
  *
  * A 4th arg `absorb` switches to [[IngestGateStream.attachAbsorbing]]
  * over the q184 residue fixture (landed = id%100 outside the residue
  * sets, feed = both residue sets, keepBp 5000 — the slices where DSIR
  * genuinely admits, so the per-batch ABSORB work is actually
  * exercised): the measured rate then includes folding each batch's
  * admits into every landed artifact before the next trigger.
  *
  * Prints ONE JSON line:
  * {"metric":"gate_docs_per_s","value":…,"docs":…,"batches":…,
  *  "warm_s":…,"measured_s":…,"restored":…,"full":…,"absorbing":…}. */
object GateRateBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val store = args.lift(1).getOrElse("/tmp/graft_indexstore")
    val slices = args.lift(2).map(_.toInt).getOrElse(4)
    val absorbing = args.lift(3).contains("absorb")
    require(slices >= 2, "need >= 2 slices (1 warm-up + >= 1 measured)")
    val spark = graft.util.LocalSession()
    import spark.implicits._

    // absorb mode builds against the residue-sliced landed plans, whose
    // keys a frozen-face store can never serve — restoring there would
    // be pure startup waste and a misleading "restored" count
    val restored =
      if (!absorbing && java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$store/manifest")))
        IndexStore.restoreAll(spark, store)
      else 0

    // the landed frames EXACTLY as the index phase constructs them —
    // same plan, same fingerprint, so restored keys hit. The absorbing
    // mode uses the q184 residue slices instead: batch sources overlap
    // landed sources there, so DSIR admits and absorption has work.
    val allRes = Seq(2L, 22L, 47L, 67L, 12L, 37L, 62L, 87L)
    val landedDocs =
      if (absorbing) Tables.load(spark, sfDir, "documents")
        .filter(!pmod(col("doc_id"), lit(100L)).isin(allRes: _*))
      else Tables.load(spark, sfDir, "documents")
        .filter(pmod(col("doc_id"), lit(5L)) =!= 2)
    val landedEmb =
      if (absorbing) Tables.load(spark, sfDir, "embeddings")
        .filter(!pmod(col("vec_id"), lit(100L)).isin(allRes: _*))
      else Tables.load(spark, sfDir, "embeddings")
        .filter(pmod(col("vec_id"), lit(5L)) =!= 2)

    def feedFilter(c: org.apache.spark.sql.Column) =
      if (absorbing) pmod(c, lit(100L)).isin(allRes: _*)
      else pmod(c, lit(5L)) === 2
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(feedFilter(col("doc_id")))
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter(feedFilter(col("vec_id")))
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val records = docs.toSeq.map { case (id, src, text) =>
      (id, src, text, emb.getOrElse(id, Seq.fill(64)(0f)))
    }
    val groups = records.grouped(
      math.max(1, (records.size + slices - 1) / slices)).toSeq

    val input = MemoryStream[(Long, String, String, Seq[Float])](spark)
    val stream = input.toDF().toDF("doc_id", "source", "text", "embedding")
    var fed = 0L
    var verdicts = 0L
    def sink(e: Long, v: org.apache.spark.sql.DataFrame): Unit = {
      verdicts += v.count()
      ()
    }
    val q =
      if (absorbing)
        IngestGateStream.attachAbsorbing(stream, landedDocs, landedEmb,
          "src0", keepBp = 5000)(sink)
      else
        IngestGateStream.attach(stream, landedDocs, landedEmb,
          "src0", full = true)(sink)
    try {
      // warm-up batch: landed-index construction/restore-read bills here
      val tw0 = System.nanoTime()
      input.addData(groups.head)
      q.processAllAvailable()
      val warmS = (System.nanoTime() - tw0) / 1e9
      require(verdicts == groups.head.size,
        s"warm-up batch not total: ${verdicts} of ${groups.head.size}")
      fed = groups.head.size
      verdicts = 0
      val t0 = System.nanoTime()
      groups.tail.foreach { g =>
        input.addData(g); q.processAllAvailable()
        fed += g.size
      }
      val measuredS = (System.nanoTime() - t0) / 1e9
      val measuredDocs = fed - groups.head.size
      require(verdicts == measuredDocs,
        s"measured batches not total: $verdicts of $measuredDocs")
      val rate = measuredDocs / measuredS
      println(s"""{"metric":"gate_docs_per_s","value":${
        "%.1f".format(rate)},"docs":$measuredDocs,"batches":${
        groups.size - 1},"warm_s":${"%.2f".format(warmS)},"measured_s":${
        "%.2f".format(measuredS)},"restored":$restored,"full":${
        !absorbing},"absorbing":$absorbing}""")
    } finally q.stop()
    spark.stop()
  }
}
