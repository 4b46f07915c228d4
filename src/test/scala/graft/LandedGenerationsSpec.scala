package graft

import graft.similarity.Similarity
import graft.streaming.LandedGenerations
import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The landed-generation lifecycle the mutating gate faces and the
  * journal replay share, driven without a stream: the two-generation
  * release window, generation 0's protection, compaction every
  * `compactEvery` mutations or on a codebook refusal, and the merge
  * failures that must surface. A generation's registry keys are stood in
  * for by one key per frame ending in ":" + its plan fingerprint, the
  * shape every merge-seeded key has. */
class LandedGenerationsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"src${i % 3}", s"document $i on topic ${i % 7} item ${i % 11}"))
      .toDF("doc_id", "source", "text")
  private def emb(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(16)(r.nextFloat()))
    }.toDF("vec_id", "embedding")

  private val landedIds = 0L until 300L

  // n ids from `from` on, off every codebook stride (id % 25 ∉ {7, 8},
  // id % 50 ≠ 11): the merges refuse the others
  private def fresh(from: Long, n: Int): Seq[Long] =
    Iterator.iterate(from)(_ + 1)
      .filter(i => i % 25 != 7 && i % 25 != 8 && i % 50 != 11).take(n).toSeq

  private def lifecycle(d0: DataFrame, e0: DataFrame, compactEvery: Int) =
    new LandedGenerations(d0, e0, "src0", 8, compactEvery, 2000, "doc_id", "text")

  /** One registry key per frame of `g`'s current generation. */
  private def seedCurrent(g: LandedGenerations): Seq[String] = {
    val (d, e) = g.current
    LandedGenerations.fpsOf(d, e).map { fp =>
      val k = "spec-generation:" + fp
      CacheRegistry.seedLazy(k, d)
      k
    }
  }
  private def live(keys: Seq[String]): Boolean =
    keys.forall(CacheRegistry.entries.contains)
  private def released(keys: Seq[String]): Boolean =
    keys.forall(k => !CacheRegistry.entries.contains(k))

  private def absorbFresh(g: LandedGenerations, ids: Seq[Long]): Unit =
    g.absorb(docs(ids), emb(ids))

  test("a mutation reading generation G keeps G and G−1 and releases G−2") {
    CacheRegistry.releaseAll()
    val g = lifecycle(docs(landedIds), emb(landedIds), compactEvery = 100)
    val keys = scala.collection.mutable.Buffer(seedCurrent(g))
    val steps: Seq[LandedGenerations => Unit] = Seq(
      absorbFresh(_, fresh(1000, 5)),
      _.retract(Seq(3L, 4L).toDF("doc_id")),
      absorbFresh(_, fresh(2000, 5)),
      _.retract(Seq(1000L).toDF("doc_id")),
      absorbFresh(_, fresh(3000, 5)))
    for ((step, m) <- steps.zipWithIndex) {
      // this mutation reads generation m
      step(g)
      keys += seedCurrent(g)
      for (gen <- 1 to m + 1)
        if (gen >= m - 1) assert(live(keys(gen)), s"mutation ${m + 1}: generation $gen")
        else assert(released(keys(gen)), s"mutation ${m + 1}: generation $gen")
      assert(live(keys(0)), s"mutation ${m + 1}: generation 0")
    }
    val (d, _) = g.current
    assert(d.count() == 300 - 2 + 15 - 1)
    CacheRegistry.releaseAll()
  }

  test("the compactEvery-th mutation compacts; generation 0 is never released") {
    CacheRegistry.releaseAll()
    val g = lifecycle(docs(landedIds), emb(landedIds), compactEvery = 3)
    val gen0 = seedCurrent(g)
    absorbFresh(g, fresh(1000, 4))
    val gen1 = seedCurrent(g)
    g.retract(Seq(5L).toDF("doc_id"))
    val gen2 = seedCurrent(g)
    assert(live(gen1 ++ gen2))
    absorbFresh(g, fresh(2000, 4))
    assert(released(gen1 ++ gen2), "compaction releases every tracked generation")
    assert(live(gen0), "compaction released generation 0")
    val (d, e) = g.current
    for (f <- Seq(d, e))
      assert(f.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        s"not one checkpointed leaf: ${f.queryExecution.analyzed}")
    assert(d.count() == 300 - 1 + 8 && e.count() == 300 - 1 + 8)
    // the window restarts after a compaction, and generation 0 stays
    val gen3 = seedCurrent(g)
    Seq(fresh(3000, 2), fresh(4000, 2)).foreach(absorbFresh(g, _))
    assert(live(gen3 ++ gen0))
    absorbFresh(g, fresh(5000, 2)) // the 6th mutation compacts again
    assert(released(gen3) && live(gen0))
    CacheRegistry.releaseAll()
  }

  test("a codebook refusal from the merge turns into a compaction") {
    CacheRegistry.releaseAll()
    val g = lifecycle(docs(landedIds), emb(landedIds), compactEvery = 100)
    absorbFresh(g, fresh(1000, 4))
    val gen1 = seedCurrent(g)
    // 1008 sits on the semantic centroid stride (id % 25 == 8)
    val refused = fresh(2000, 3) :+ 1008L
    intercept[Similarity.CodebookStrideRefusal] {
      graft.dedup.Dedup.absorbBatch(g.current._1, docs(refused),
        g.current._2, emb(refused), docs(Nil), emb(Nil), "src0")
    }
    absorbFresh(g, refused)
    assert(released(gen1), "the refusal did not compact")
    val (d, e) = g.current
    assert(d.queryExecution.analyzed.isInstanceOf[LogicalRDD] &&
      e.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(d.filter($"doc_id" === 1008L).count() == 1, "the refused batch was dropped")
    CacheRegistry.releaseAll()
  }

  test("any other merge failure propagates and leaves the current generation") {
    CacheRegistry.releaseAll()
    val g = lifecycle(docs(landedIds), emb(landedIds), compactEvery = 100)
    absorbFresh(g, fresh(1000, 4))
    val before = g.current
    val gen1 = seedCurrent(g)
    val next = (docs(fresh(2000, 2)), emb(fresh(2000, 2)))
    val ex = intercept[IllegalStateException] {
      g.rotate(next._1, next._2, Seq.empty)(throw new IllegalStateException("merge failed"))
    }
    assert(ex.getMessage == "merge failed")
    assert(g.current._1 eq before._1)
    assert(g.current._2 eq before._2)
    assert(live(gen1))
    CacheRegistry.releaseAll()
  }

  test("compactEvery < 1 is refused") {
    intercept[IllegalArgumentException] {
      lifecycle(docs(landedIds), emb(landedIds), compactEvery = 0)
    }
  }
}
