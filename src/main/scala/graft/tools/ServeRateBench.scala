package graft.tools

import graft.sources.{IndexStore, Tables}
import graft.streaming.RetrieveStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Throughput sample for the CONTINUOUS SERVING wiring
  * ([[graft.streaming.RetrieveStream]], the q198 face) with landed
  * retrieval indexes restored from a durable
  * [[graft.sources.IndexStore]] — the daily-restart steady state of a
  * retrieval service, measured end to end: restore → first (warm-up)
  * batch builds/loads whatever the store didn't cover → the measured
  * batches pay only per-query work (rarest-term probe + nprobe ADC +
  * shortlist rerank + fusion) against the memoized bm25-stats and
  * IVF-PQ kinds.
  *
  * The feed is the sf dir's ≡0-mod-100 doc slice as retrieval requests
  * (each carrying its own text + embedding, the q198 record shape)
  * delivered via MemoryStream in `slices` micro-batches — driver-side
  * test machinery, as every replay harness here; a real deployment
  * reads a request stream. Per measured batch the tool asserts ANSWER
  * TOTALITY (every fed query produced fused rows) before counting the
  * batch into the rate.
  *
  * Prints ONE JSON line:
  * {"metric":"serve_queries_per_s","value":…,"queries":…,"batches":…,
  *  "warm_s":…,"measured_s":…,"restored":…}. */
object ServeRateBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val store = args.lift(1).getOrElse("/tmp/graft_indexstore")
    val slices = args.lift(2).map(_.toInt).getOrElse(4)
    // request density: ids ≡ 0 mod queryStride form the feed. The
    // contract rows use 100; the RATE is measured at denser strides
    // too because a trigger's bill is dominated by per-trigger plan
    // work — the queries/s curve vs batch size is the amortization
    // story, exactly as GateRateBench's
    val queryStride = args.lift(3).map(_.toLong).getOrElse(100L)
    require(slices >= 2, "need >= 2 slices (1 warm-up + >= 1 measured)")
    val spark = graft.util.LocalSession()
    import spark.implicits._

    val restored =
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$store/manifest")))
        IndexStore.restoreAll(spark, store)
      else 0

    // the landed corpus EXACTLY as the index phase constructs it —
    // same plan, same fingerprint, so restored bm25-stats / ivfpq-asn /
    // ivfpq-codes keys hit
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")

    val qd = docs.filter(pmod(col("doc_id"), lit(queryStride)) === 0)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val qe = emb.filter(pmod(col("vec_id"), lit(queryStride)) === 0)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val records = qd.toSeq.flatMap { case (id, text) =>
      qe.get(id).map(v => (id, text, v)) }
    val groups = records.grouped(
      math.max(1, (records.size + slices - 1) / slices)).toSeq

    val input = MemoryStream[(Long, String, Seq[Float])](spark)
    val stream = input.toDF().toDF("doc_id", "text", "embedding")
    var answered = 0L
    def sink(e: Long, v: org.apache.spark.sql.DataFrame): Unit = {
      answered += v.select("q_id").distinct().count()
      ()
    }
    val q = RetrieveStream.attach(stream, docs, emb)(sink)
    try {
      val tw0 = System.nanoTime()
      input.addData(groups.head)
      q.processAllAvailable()
      val warmS = (System.nanoTime() - tw0) / 1e9
      require(answered == groups.head.size,
        s"warm-up batch not total: $answered of ${groups.head.size}")
      answered = 0
      val t0 = System.nanoTime()
      var fed = 0L
      groups.tail.foreach { g =>
        input.addData(g); q.processAllAvailable()
        fed += g.size
      }
      val measuredS = (System.nanoTime() - t0) / 1e9
      require(answered == fed,
        s"measured batches not total: $answered of $fed")
      val rate = fed / measuredS
      println(s"""{"metric":"serve_queries_per_s","value":${
        "%.1f".format(rate)},"queries":$fed,"batches":${
        groups.size - 1},"warm_s":${"%.2f".format(warmS)},"qstride":$queryStride,"measured_s":${
        "%.2f".format(measuredS)},"restored":$restored}""")
    } finally q.stop()
    spark.stop()
  }
}
