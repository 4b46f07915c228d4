package graft

import graft.streaming.IngestGateStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming face of the unified ingest gate: micro-batches gated
  * against the landed corpus, verdicts total per batch, and — the
  * landed-codebook contract — identical however the trigger slices
  * the stream. */
class IngestGateStreamSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def landedDocs: DataFrame =
    graft.sources.Tables.load(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(5L)) =!= 2)
  private def landedEmb: DataFrame =
    graft.sources.Tables.load(spark, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(5L)) =!= 2)

  // the batch records: the %5==2 slice joined doc↔embedding, as an
  // ingest feed would deliver them
  private def batchRecords: Seq[(Long, String, String, Seq[Float])] = {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(5L)) === 2)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(5L)) === 2)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    docs.toSeq.map { case (id, src, text) =>
      (id, src, text, emb.getOrElse(id, Seq.fill(64)(0f)))
    }
  }

  private def runGate(slices: Seq[Seq[(Long, String, String, Seq[Float])]])
      : Map[Long, String] = {
    val input = MemoryStream[(Long, String, String, Seq[Float])](spark)
    val records = input.toDF()
      .toDF("doc_id", "source", "text", "embedding")
    val got = scala.collection.mutable.Map.empty[Long, String]
    val q = IngestGateStream.attach(records, landedDocs, landedEmb,
        "src0", full = true) { (_, verdicts) =>
      got ++= verdicts.as[(Long, String)].collect()
      ()
    }
    try {
      slices.foreach { s => input.addData(s); q.processAllAvailable() }
    } finally q.stop()
    got.toMap
  }

  test("gate verdicts total per batch; landed-evidence verdicts slice-invariant") {
    val recs = batchRecords
    assert(recs.nonEmpty)
    // one big batch vs two arbitrary slices of the same records
    val oneShot = runGate(Seq(recs))
    graft.util.CacheRegistry.releaseAll()
    val (a, b) = recs.splitAt(recs.size / 2)
    val sliced = runGate(Seq(a, b))
    assert(oneShot.keySet == recs.map(_._1).toSet, "one-shot not total")
    assert(sliced.keySet == oneShot.keySet, "sliced not total")
    val order = Seq("exact_landed_dup", "exact_batch_dup", "near_dup",
      "semantic_dup", "contained", "quality_fail", "ppl_cut",
      "not_selected", "admit")
    val idx = order.zipWithIndex.toMap
    assert(oneShot.values.toSet.subsetOf(order.toSet), oneShot.values.toSet)
    // The landed-codebook contract, stated precisely: every stage's
    // LANDED evidence is slicing-independent, while WITHIN-batch
    // evidence (the batch-dup side of exact/near/semantic) can only
    // shrink when a batch is split (a pair crossing the slice boundary
    // is lost; no new pair can appear). So a doc's verdict either
    // matches the one-shot run exactly, or moves to a strictly LATER
    // stage — never earlier, and never between two landed-evidence
    // stages.
    sliced.foreach { case (id, v) =>
      val os = oneShot(id)
      if (v != os) {
        assert(idx(v) > idx(os),
          s"doc $id moved EARLIER under slicing: $os -> $v")
        assert(Set("exact_batch_dup", "near_dup", "semantic_dup")(os),
          s"doc $id: landed-evidence verdict $os changed under slicing to $v")
      }
    }
  }

  test("absorbing gate: a re-upload of a doc ADMITTED last batch verdicts exact_landed_dup; the frozen face re-admits it") {
    graft.util.CacheRegistry.releaseAll()
    // q184's fixture, exactly: at sf0.01, landed = id%100 outside the
    // residue set, batch = id%100 ∈ {2,22,47,67} (sources overlap the
    // landed slice, so DSIR has evidence), keepBp = 5000 (the bar at
    // which stage 1 genuinely admits at contract scale)
    val dirA = "/root/testdata/sf0.01"
    val res1 = Seq(2L, 22L, 47L, 67L)
    val landedDocsA = graft.sources.Tables.load(spark, dirA, "documents")
      .filter(!pmod(col("doc_id"), lit(100L)).isin(res1: _*))
    val landedEmbA = graft.sources.Tables.load(spark, dirA, "embeddings")
      .filter(!pmod(col("vec_id"), lit(100L)).isin(res1: _*))
    val recs: Seq[(Long, String, String, Seq[Float])] = {
      val docs = graft.sources.Tables.load(spark, dirA, "documents")
        .filter(pmod(col("doc_id"), lit(100L)).isin(res1: _*))
        .select("doc_id", "source", "text")
        .as[(Long, String, String)].collect()
      val emb = graft.sources.Tables.load(spark, dirA, "embeddings")
        .filter(pmod(col("vec_id"), lit(100L)).isin(res1: _*))
        .select("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect().toMap
      docs.toSeq.map { case (id, src, text) =>
        (id, src, text, emb.getOrElse(id, Seq.fill(64)(0f)))
      }
    }
    val byId = recs.map(r => r._1 -> r).toMap
    // fresh ids off the frozen codebook strides (x ≡ 8 mod 25 would be
    // refused by the absorb — though batch-side %5==2 ids can never be)
    def reupOf(ids: Seq[Long]): Seq[(Long, String, String, Seq[Float])] =
      ids.map { id =>
        val (_, s, t, e) = byId(id)
        var nid = id + 1000003L
        while (nid % 25L == 8L) nid += 1L
        (nid, s, t, e)
      }
    // each trigger's Spark jobs, the sink's collect included
    val counts = new graft.util.JobCounts(spark)
    // face: "absorbing", "frozen", or "churn" (the same records as op = "add")
    def run(face: String,
        slices: Iterator[Map[Long, String] => Seq[(Long, String, String, Seq[Float])]])
        : (Seq[Map[Long, String]], Seq[Long]) = {
      val input = MemoryStream[(Long, String, String, Seq[Float])](spark)
      val records = input.toDF().toDF("doc_id", "source", "text", "embedding")
      val perEpoch = scala.collection.mutable.Buffer.empty[Map[Long, String]]
      def sink(e: Long, v: DataFrame): Unit = {
        perEpoch += v.as[(Long, String)].collect().toMap
        ()
      }
      val q = counts.region("gate") {
        face match {
          case "absorbing" =>
            IngestGateStream.attachAbsorbing(records, landedDocsA, landedEmbA,
              "src0", keepBp = 5000)(sink)
          case "frozen" =>
            IngestGateStream.attach(records, landedDocsA, landedEmbA,
              "src0", full = false, keepBp = 5000)(sink)
          case "churn" =>
            IngestGateStream.attachChurn(records.withColumn("op", lit("add")),
              landedDocsA, landedEmbA, "src0", keepBp = 5000)(sink)
        }
      }
      counts.take("gate")
      val jobs = scala.collection.mutable.Buffer.empty[Long]
      try slices.foreach { mk =>
        input.addData(mk(perEpoch.lastOption.getOrElse(Map.empty)))
        q.processAllAvailable()
        jobs += counts.take("gate")._1
      } finally q.stop()
      (perEpoch.toSeq, jobs.toSeq)
    }
    // batch 1 = the full record slice; batch 2 = exact re-uploads (new
    // id, same text + vector) of three docs batch 1 ADMITTED
    def slices = Iterator(
      (_: Map[Long, String]) => recs,
      (prev: Map[Long, String]) => {
        val admitted = prev.collect { case (id, "admit") => id }.toSeq.sorted
        assert(admitted.nonEmpty, "fixture admitted nothing in batch 1")
        reupOf(admitted.take(3))
      })
    val (absorbed, absorbedJobs) = run("absorbing", slices)
    absorbed(1).foreach { case (id, v) =>
      assert(v == "exact_landed_dup",
        s"re-upload $id not caught by the absorbed index: $v")
    }
    // the steady trigger's jobs: 71 measured before the faces shared one
    // batch body; the absorbing face runs none of the churn face's
    // delete-extraction or emptiness jobs
    assert(absorbedJobs(1) <= 71, s"jobs per trigger: $absorbedJobs")
    graft.util.CacheRegistry.releaseAll()
    // the churn face fed the same slices as adds verdicts what the
    // absorbing face verdicts, epoch by epoch
    val (churned, _) = run("churn", slices)
    assert(churned == absorbed, "churn face on all-add batches diverged")
    graft.util.CacheRegistry.releaseAll()
    // the frozen face gates batch 2 against the UNCHANGED landed corpus
    // — the re-uploads of just-admitted (landed-absent) docs re-admit:
    // exactly the operational gap attachAbsorbing closes
    val (frozen, _) = run("frozen", slices)
    frozen(1).foreach { case (id, v) =>
      assert(v == "admit", s"frozen face unexpectedly rejected $id: $v")
    }
    graft.util.CacheRegistry.releaseAll()
  }

  test("churn face: within ONE trigger deletes apply BEFORE adds — a deleted body re-adds fresh; without the delete it is exact_landed_dup") {
    graft.util.CacheRegistry.releaseAll()
    val dirA = "/root/testdata/sf0.01"
    val landedDocsA = graft.sources.Tables.load(spark, dirA, "documents")
    val landedEmbA = graft.sources.Tables.load(spark, dirA, "embeddings")
    // a landed doc off every codebook stride (14 mod 25, 14 mod 50)
    val victim = landedDocsA.filter(pmod(col("doc_id"), lit(100L)) === 14)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().minBy(_._1)
    val vEmb = landedEmbA.filter(col("vec_id") === victim._1)
      .select("embedding").as[Seq[Float]].collect()(0)
    var freshId = victim._1 + 1000003L
    while (freshId % 25L == 7L || freshId % 25L == 8L ||
      freshId % 50L == 11L) freshId += 1L
    def run(withDelete: Boolean): Map[Long, String] = {
      graft.util.CacheRegistry.releaseAll()
      val input =
        MemoryStream[(String, Long, String, String, Seq[Float])](spark)
      val records = input.toDF()
        .toDF("op", "doc_id", "source", "text", "embedding")
      val got = scala.collection.mutable.Map.empty[Long, String]
      val q = IngestGateStream.attachChurn(records, landedDocsA,
        landedEmbA, "src0", keepBp = 5000) { (_, v) =>
        got.synchronized {
          got ++= v.as[(Long, String)].collect().toMap
        }
        ()
      }
      val add = ("add", freshId, victim._2, victim._3, vEmb)
      val recs =
        if (withDelete)
          Seq(("delete", victim._1, "", "", Seq.empty[Float]), add)
        else Seq(add)
      try { input.addData(recs); q.processAllAvailable() }
      finally q.stop()
      got.toMap
    }
    val without = run(withDelete = false)
    assert(without(freshId) == "exact_landed_dup",
      s"control: the landed body must flag without the delete, " +
        s"got ${without(freshId)}")
    val withDel = run(withDelete = true)
    assert(withDel(victim._1) == "deleted", "delete request must ack")
    assert(withDel(freshId) != "exact_landed_dup",
      s"the deleted body must gate as if it never landed, " +
        s"got ${withDel(freshId)}")
    graft.util.CacheRegistry.releaseAll()
  }
}
