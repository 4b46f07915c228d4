package graftbench

import scala.collection.mutable

import graft.sources.Tables
import graft.streaming.IngestGateStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ingest half of warehouse_ingest: IngestGateStream.attachAbsorbing
  * over a held-out slice of
  * the corpus: q184/q191's residue device, widened from two batches to
  * a stream of `DocsPerTrigger`-document triggers in id order, so no
  * document arrives twice. Landed = every document outside the slice.
  * keepBp 5000 as in q184, so stage one genuinely admits documents and
  * absorb runs. A request is one trigger: add its documents, wait for
  * gate, verdict delivery and absorb. */
final class Gate(spark: SparkSession, o: Main.Opts, t: Tracer, warm: Int) extends Workload {
  import spark.implicits._
  import Gate._

  private type Rec = (Long, String, String, Seq[Float])
  private val docs = Tables.load(spark, o.data, "documents")
  private val emb = Tables.load(spark, o.data, "embeddings")
  private val held = pmod(col("doc_id"), lit(100L)).isin(Residues: _*)
  private val heldV = pmod(col("vec_id"), lit(100L)).isin(Residues: _*)
  private val landedDocs = docs.filter(!held)
  private val landedEmb = emb.filter(!heldV)
  private val input = MemoryStream[Rec](spark, o.cores)
  private var q: StreamingQuery = _
  private var stream: Seq[Seq[Rec]] = Nil
  private val verdicts = mutable.Map.empty[Int, Seq[(Long, String)]]
  @volatile private var cur = -1

  def itemsPerRequest(i: Int): Long = stream(i).size
  def firstTimed: Int = warm

  def setup(): Unit = {
    val ds = docs.filter(held).select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val em = emb.filter(heldV).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    stream = ds.toSeq.flatMap { case (id, src, text) => em.get(id).map(e => (id, src, text, e)) }
      .grouped(DocsPerTrigger).toSeq
    q = IngestGateStream.attachAbsorbing(input.toDF().toDF("doc_id", "source", "text", "embedding"),
      landedDocs, landedEmb, "src0", keepBp = 5000, trigger = Trigger.ProcessingTime(0L)) {
      (_, v) =>
        val rows = v.select("doc_id", "gate").as[(Long, String)].collect().toSeq
        verdicts.synchronized { verdicts(cur) = verdicts.getOrElse(cur, Nil) ++ rows }
        ()
    }
    (0 until warm).foreach { i =>
      val s = System.nanoTime()
      request(i)
      Main.log(f"warm-up trigger $i ${(System.nanoTime() - s) / 1e6}%.1f ms")
    }
  }

  /** Traced triggers' intervals (probe clock), by this workload's index. */
  private val tracedAt = mutable.Map.empty[Int, (Long, Long)]

  def request(i: Int): Unit = {
    require(i < stream.size, s"the held-out slice has only ${stream.size} triggers")
    cur = i
    val start = t.probe.map(_.nowMicros())
    t.span("gate.trigger", "gate") {
      input.addData(stream(i))
      q.processAllAvailable()
    }
    for (s <- start; p <- t.probe) tracedAt(i) = (s, p.nowMicros())
  }

  def verify(timed: Seq[Int]): (Set[Int], Map[String, String]) = {
    // every document of a trigger gets exactly one verdict of a known
    // class; a document whose text equals a landed one (the initial
    // corpus or an earlier admit) is an exact landed duplicate
    val landedText = mutable.Set.empty[String] ++
      landedDocs.select("text").as[String].collect()
    val bad = mutable.Set.empty[Int]
    val all = 0 to timed.lastOption.getOrElse(warm - 1)
    all.foreach { i =>
      val got = verdicts.getOrElse(i, Nil)
      val ids = stream(i).map(_._1)
      val byId = got.toMap
      val ok = got.size == ids.size && ids.forall(byId.contains) &&
        got.forall(v => Classes.contains(v._2)) &&
        stream(i).forall { case (id, _, text, _) =>
          !landedText(text) || byId.get(id).contains("exact_landed_dup")
        }
      if (!ok) {
        System.err.println(s"[graftbench] trigger $i verdicts fail the check: $got")
        bad += i
      }
      stream(i).foreach { case (id, _, text, _) =>
        if (byId.get(id).contains("admit")) landedText += text
      }
    }
    // each trigger's verdicts, for run.py to compare with the pinned ones
    // (perfbench/gate_verdicts.json): the corpus and the held-out stream
    // do not depend on the seed, so neither do the verdicts
    val byTrigger = all.map { i =>
      val v = verdicts.getOrElse(i, Nil).sorted.map { case (id, c) => s"$id:$c" }.mkString(",")
      s"${Json.str(i.toString)}: ${Json.str(v)}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.work}/gate_verdicts.json"),
      s"""{"timed": [${timed.mkString(", ")}], "triggers": ${byTrigger.mkString("{", ", ", "}")}}""")
    (bad.toSet.intersect(timed.toSet), Map(
      "gate_verdicts" -> (if (bad.isEmpty) "ok" else s"${bad.size} triggers fail")))
  }

  def layerMetrics(probe: Option[Probe], traced: Seq[Int]): Map[String, Metric] = {
    val out = mutable.LinkedHashMap.empty[String, Metric]
    probe.foreach { p =>
      // a trigger's progress timestamp is at ms resolution: allow 1 ms
      val ps = p.window(traced.flatMap(tracedAt.get).map { case (a, b) => (a - 1000, b) })
        .progress.filter(_.query == q.id.toString)
      out("gate.trigger_ms") = Metric(Main.percentile(ps.map(_.addBatchMs.toDouble), 0.5), "ms")
      out("gate.overhead_ms") = Metric(
        Main.percentile(ps.map(x => (x.triggerMs - x.addBatchMs).toDouble), 0.5), "ms")
    }
    val timedAll = verdicts.keys.filter(_ >= warm).toSeq
    val counts = timedAll.flatMap(verdicts(_)).groupBy(_._2).map { case (k, v) => k -> v.size }
    Classes.foreach { c =>
      out(s"gate.verdicts_$c") = Metric(counts.getOrElse(c, 0).toDouble, "count")
    }
    out.toMap
  }

  def close(): Unit = Option(q).foreach(_.stop())
}

object Gate {
  /** q184's eight residues (mod 100), off the semantic codebook strides. */
  val Residues: Seq[Long] = Seq(2L, 22L, 47L, 67L, 12L, 37L, 62L, 87L)
  val DocsPerTrigger = 10
  val Classes: Seq[String] = Seq("admit", "exact_landed_dup", "exact_batch_dup", "near_dup",
    "semantic_dup", "contained", "not_selected")
}
