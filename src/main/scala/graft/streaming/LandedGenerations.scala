package graft.streaming

import graft.dedup.Dedup
import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The landed-generation lifecycle of a mutating ingest gate — the one
  * copy [[IngestGateStream.attachAbsorbing]],
  * [[IngestGateStream.attachChurn]] and
  * [[IngestGateStream.replayJournal]] drive. It holds the current
  * landed `(docs, emb)` frames and moves them one generation per
  * mutation:
  *
  *  - [[retract]] anti-joins a delete set out of both frames and runs
  *    [[graft.dedup.Dedup.retractBatch]]; [[absorb]] unions the admitted
  *    frames onto the canonical projections and runs
  *    [[graft.dedup.Dedup.absorbBatch]]. Both merges seed the new
  *    generation's registry entries as LAZY merges over the previous
  *    generation's cached artifacts;
  *  - the release window is two generations: the mutation that reads
  *    generation G keeps the keys of G (read now) and G−1 (G's lazy
  *    merges still reference them) and releases those of G−2. A key
  *    belongs to a generation when it ends in ":" + the plan
  *    fingerprint of one of its frames, or of the admitted frames that
  *    built it;
  *  - every `compactEvery`-th mutation — or one the frozen codebook
  *    refuses ([[graft.similarity.Similarity.CodebookStrideRefusal]]) —
  *    compacts instead: the next frames collapse to one
  *    `localCheckpoint`ed leaf each, every tracked generation is
  *    released, and the next gate rebuilds the landed indexes (the LSM
  *    shape: cheap merges between rebuilds). Any other exception
  *    propagates and leaves [[current]] unchanged;
  *  - generation 0 is the CALLER's frames verbatim: an index phase or
  *    an IndexStore restore built their registry keys, other consumers
  *    in the session may share them, so they are never released.
  *
  * Single-threaded: one trigger (or one replayed epoch) at a time. */
private[graft] final class LandedGenerations(docs0: DataFrame,
    emb0: DataFrame, targetSource: String, centroidOffset: Int,
    compactEvery: Int, keepBp: Int, idCol: String, textCol: String) {
  require(compactEvery >= 1, "compactEvery must be >= 1")

  private var docs = docs0
  private var emb = emb0
  private var mutations = 0
  // fingerprints of generations G−1 and G−2
  private var fpsPrev = Seq.empty[String]
  private var fpsPrev2 = Seq.empty[String]
  private val protectedFps = LandedGenerations.fpsOf(docs0, emb0).toSet

  def current: (DataFrame, DataFrame) = (docs, emb)

  /** Release the registry keys on `fps`, generation 0's excepted. */
  def release(fps: Seq[String]): Unit =
    LandedGenerations.releaseByFps(fps.filterNot(protectedFps))

  def retract(dels: DataFrame): Unit = {
    val keptD = docs.join(dels, Seq(idCol), "left_anti")
    val keptE = emb.join(dels.select(col(idCol).as("vec_id")), Seq("vec_id"),
      "left_anti")
    rotate(keptD, keptE, Seq.empty) {
      Dedup.retractBatch(docs, dels, emb, keptD, keptE, targetSource,
        centroidOffset, keepBp = keepBp, textCol = textCol, idCol = idCol)
    }
  }

  /** Fold admitted `(idCol, source, textCol)` docs and `(vec_id,
    * embedding)` embeddings in. The union takes the canonical columns
    * only: generation 0 may carry more (lang, n_chars, …). */
  def absorb(admDocs: DataFrame, admEmb: DataFrame): Unit = {
    val nextD = projDocs(docs).unionByName(admDocs)
    val nextE = projEmb(emb).unionByName(admEmb)
    // the admitted frames' own memoized builds (the batch sides of the
    // text merges key on them) ride the same release window
    rotate(nextD, nextE, LandedGenerations.fpsOf(admDocs, admEmb)) {
      Dedup.absorbBatch(docs, admDocs, emb, admEmb, nextD, nextE,
        targetSource, centroidOffset, keepBp = keepBp)
    }
  }

  private def projDocs(d: DataFrame) =
    d.select(col(idCol), col("source"), col(textCol))
  private def projEmb(e: DataFrame) = e.select(col("vec_id"), col("embedding"))

  /** One mutation: `merge` seeds the next generation's entries, then
    * the frames move to `next` and G−2 is released — or compaction. */
  private[graft] def rotate(nextD: DataFrame, nextE: DataFrame,
      extraFps: Seq[String])(merge: => Unit): Unit = {
    mutations += 1
    if (mutations % compactEvery == 0) compact(nextD, nextE, extraFps)
    else try {
      val cur = LandedGenerations.fpsOf(docs, emb) ++ extraFps
      merge
      docs = nextD; emb = nextE
      release(fpsPrev2)
      fpsPrev2 = fpsPrev; fpsPrev = cur
    } catch {
      // only the stride refusal degrades to a rebuild; any other
      // contract violation of the merge family must surface
      case _: graft.similarity.Similarity.CodebookStrideRefusal =>
        compact(nextD, nextE, extraFps)
    }
  }

  /** Adopt `next` as one checkpointed leaf per frame and release every
    * tracked generation, plus the keys on `next` itself and `extraFps`
    * (a refused absorb seeds text artifacts under them before the
    * semantic stage throws). */
  private def compact(nextD: DataFrame, nextE: DataFrame,
      extraFps: Seq[String]): Unit = {
    val toRelease = LandedGenerations.fpsOf(docs, emb) ++
      LandedGenerations.fpsOf(nextD, nextE) ++ extraFps ++ fpsPrev ++ fpsPrev2
    docs = nextD.localCheckpoint(true)
    emb = nextE.localCheckpoint(true)
    release(toRelease)
    fpsPrev = Seq.empty; fpsPrev2 = Seq.empty
  }
}

private[graft] object LandedGenerations {
  def fpsOf(docs: DataFrame, emb: DataFrame): Seq[String] =
    Seq(CacheRegistry.planFingerprint(docs), CacheRegistry.planFingerprint(emb))

  /** Release every registry key whose trailing plan fingerprint is one
    * of `fps` (a key ends ":" + fingerprint). */
  def releaseByFps(fps: Seq[String]): Unit =
    if (fps.nonEmpty) {
      CacheRegistry.releaseIf(k => fps.exists(fp => k.endsWith(":" + fp)))
      ()
    }
}
