package graft.similarity

import graft.functions.VectorFunctions._
import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `ARRAY<FLOAT>` embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The query side is broadcast, so the big side streams through one
  *    scan with no shuffle of the corpus; cost O(|corpus|·|queries|·dim).
  *  - [[bandedTable]] / [[lshNearDupPairs]] / [[lshTopK]]: multi-band
  *    sign-bit LSH — the 100 TB scale path. Each of `bands` bands hashes
  *    a disjoint range of `bitsPerBand` dimensions to one of
  *    2^bitsPerBand buckets; candidates form only *within* a (band,
  *    bucket) group and survive an exact cosine check. Expected group
  *    population is n/2^bitsPerBand per band, so per-band pair cost is
  *    O(n²/2^bitsPerBand) — size `bitsPerBand ≈ log2(n)` to keep groups
  *    O(√n) and pair generation ~linear; add bands to buy recall (any
  *    shared band admits the pair: P(hit) = 1 − (1 − p^r)^bands for
  *    per-plane agreement p = 1 − θ/π). Pair generation is keyed on
  *    (band, bucket), so AQE skew-join splitting applies to hot buckets.
  *
  * Scores are rounded to 4 decimals *before* ranking so that ordering (and
  * therefore top-k membership) is reproducible across engines; ties break
  * on vector id.
  */
object Similarity {

  /** Thrown by [[absorbSemantic2L]] when an admitted batch contains ids
    * on the frozen codebook's centroid stride — the one absorb-family
    * contract violation a live ingest loop converts to COMPACTION
    * instead of failure (the streaming gate's
    * [[graft.streaming.LandedGenerations]] matches on this type, not on
    * message text). Subtypes
    * `IllegalArgumentException` so callers treating it as a plain
    * contract violation keep working. */
  final class CodebookStrideRefusal(msg: String)
      extends IllegalArgumentException(msg)

  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 4))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Hard-negative mining for contrastive embedding training: per
    * query, the `k` MOST similar corpus vectors strictly BELOW the
    * positive threshold — near-but-not-duplicate neighbors, the
    * negatives that actually move a contrastive loss (random negatives
    * are trivially separable; above-threshold neighbors are presumed
    * positives/duplicates and would be false negatives). Same
    * broadcast-queries shape as [[bruteForceTopK]] with the threshold
    * applied BEFORE ranking, so the rank-k cut selects from the
    * eligible band only. At corpus scale the scan side swaps for an
    * ANN candidate set ([[lshTopK]]/[[ivfTopK]]) exactly as the plain
    * top-k does — the threshold filter composes unchanged. */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame, k: Int,
      posThreshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 4))
      .filter(col("cos") < posThreshold)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** (sid, band, bucket) rows: one row per vector per band. Narrow on
    * purpose — vectors join back by id *after* candidate pairs are formed,
    * so the shuffle ships (long, int, long) triples, never embeddings. */
  def bandedTable(embeddings: DataFrame, bands: Int, bitsPerBand: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(embeddings, "sign-bands", bands, bitsPerBand, idCol, vecCol),
      embeddings.select(col(idCol).as("sid"),
        posexplode(array((0 until bands).map(j =>
          signBucket(col(vecCol), bitsPerBand, j * bitsPerBand)): _*))
          .as(Seq("band", "bucket"))))

  /** Near-duplicate pairs above `minCosine`, candidate-filtered by
    * multi-band sign LSH (any shared (band, bucket) admits the pair),
    * then exactly scored. Requires dim ≥ bands·bitsPerBand. */
  def lshNearDupPairs(embeddings: DataFrame, bands: Int, bitsPerBand: Int,
      minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = bandedTable(embeddings, bands, bitsPerBand, idCol, vecCol)
    val cand = b.select(col("sid").as("a_id"), col("band"), col("bucket"))
      .join(b.select(col("sid").as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val v = embeddings.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    cand
      .join(v.select(col("sid").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(v.select(col("sid").as("b_id"), col("vec").as("b_vec")), "b_id")
      .withColumn("cos", round(cosine(col("a_vec"), col("b_vec")), 4))
      .filter(col("cos") >= lit(minCosine))
      .select("a_id", "b_id", "cos")
  }

  /** Incremental NEAR-duplicate dedup over EMBEDDINGS for append-only
    * ingest — the sign-LSH counterpart of
    * [[graft.dedup.Dedup.lshIncrement]] (which covers the n-gram
    * Jaccard modality): an incoming batch of vectors is screened
    * against a landed corpus's banded signature index, then against
    * itself, without recomputing anything landed-side. Per incoming
    * vector the verdict is
    *  - `landed_dup` — exact-cosine-verified (≥ `minCosine`) near-dup
    *    of some landed vector;
    *  - `batch_dup`  — near-dup of another surviving batch vector
    *    whose duplicate-cluster representative (min id, connected
    *    components over the verified batch pairs) it is not;
    *  - `keep`       — everything else.
    *
    * Same architecture as the text twin: the landed side contributes
    * exactly one memoized projection — its [[bandedTable]] (the LSH
    * index, `bands` narrow rows per vector), reused batch over batch —
    * plus id-keyed vector lookups for verification; the batch probes
    * with equi-joins sized by the batch. Candidates form as ONE
    * equi-join of the batch band table against the tagged union of
    * both band tables (one codegen'd pipeline, `side` from the b-row's
    * slice; within-batch keeps the a < b dedup), every candidate is
    * verified at exact cosine before it can cost a vector, and the CC
    * fixpoint runs over verified BATCH pairs only. Embeddings are
    * never shuffled pair-wise — (band, bucket) triples shuffle, then
    * vectors join back by id; the landed (id, vec) verification lookup
    * is itself memoized (kind "vec-lookup"), so a batch never re-scans
    * the landed corpus for vectors.
    *
    * Durability caveat (cluster deployments), as for the text twin
    * [[graft.dedup.Dedup.lshIncrement]]: the verified-pair table is
    * pinned with `localCheckpoint`, whose blocks live on the executors
    * that computed them and CANNOT be recomputed after an executor
    * loss (unlike the registry's persists, which re-derive from
    * lineage). Right trade single-JVM and for the small per-batch pair
    * table; a deployment that cannot tolerate a mid-batch retry should
    * swap it for reliable `checkpoint()` against the cluster's
    * checkpoint dir. Output: (idCol, verdict), one row per
    * incoming vector. */
  def lshIncrement(landed: DataFrame, incoming: DataFrame,
      bands: Int = 4, bitsPerBand: Int = 8, minCosine: Double = 0.4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val lb = bandedTable(landed, bands, bitsPerBand, idCol, vecCol)
    val ib = bandedTable(incoming, bands, bitsPerBand, idCol, vecCol)
    val allBands = ib
      .select(col("sid"), col("band"), col("bucket"), lit("batch").as("src"))
      .unionByName(lb
        .select(col("sid"), col("band"), col("bucket"), lit("landed").as("src")))
    val cand = ib.select(col("sid").as("a_id"), col("band"), col("bucket"))
      .join(allBands.select(col("sid").as("b_id"), col("band"), col("bucket"),
        col("src").as("side")), Seq("band", "bucket"))
      .filter(col("side") === "landed" || col("a_id") < col("b_id"))
      .select("a_id", "b_id", "side").distinct()
    // one unified vector-lookup space (ids disjoint across the slices);
    // the landed slice is a memoized projection — reused batch over
    // batch like the band table, instead of re-scanning the landed
    // corpus per call (ADVICE r13)
    val v = incoming.select(col(idCol).as("sid"), col(vecCol).as("vec"))
      .unionByName(landedVecLookup(landed, idCol, vecCol))
    val verified = cand
      .join(v.select(col("sid").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(v.select(col("sid").as("b_id"), col("vec").as("b_vec")), "b_id")
      .withColumn("cos", round(cosine(col("a_vec"), col("b_vec")), 4))
      .filter(col("cos") >= lit(minCosine))
      .select("a_id", "b_id", "side")
      .localCheckpoint(true)
    val landedDup = verified.filter(col("side") === "landed")
      .select(col("a_id").as(idCol)).distinct()
    val batchPairs = verified.filter(col("side") === "batch")
      .select("a_id", "b_id")
      .join(landedDup.select(col(idCol).as("a_id")), Seq("a_id"), "left_anti")
      .join(landedDup.select(col(idCol).as("b_id")), Seq("b_id"), "left_anti")
    val fresh = incoming.select(col(idCol))
      .join(landedDup, Seq(idCol), "left_anti")
    val labels = graft.dedup.Dedup.connectedComponents(batchPairs, fresh, idCol)
    incoming.select(col(idCol))
      .join(landedDup.withColumn("__ld", lit(1L)), Seq(idCol), "left")
      .join(labels.select(col("id").as(idCol), col("lbl")), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ld").isNotNull, lit("landed_dup"))
          .when(col("lbl") =!= col(idCol), lit("batch_dup"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space coarsely, score pairwise cosine only WITHIN each
    * cluster, and keep one representative per connected group of
    * above-threshold pairs — the embedding-space analogue of the text
    * near-dup clustering ([[graft.dedup.Dedup.dedupClusters]]), catching
    * paraphrases and re-encodings that share no n-grams.
    *
    * Composition of existing pieces: the q37 IVF assignment (broadcast
    * centroids, rounded-cosine argmax, ties to the lowest centroid id)
    * buckets the space; within-cluster pairs verify at exact cosine ≥
    * `minCosine`; [[graft.dedup.Dedup.connectedComponents]] merges the
    * verified pairs into semantic clusters whose minimum id is the kept
    * representative (the published heuristic keeps e.g. the member
    * farthest from the centroid — any deterministic choice works; min
    * id is engine-replayable).
    *
    * Scale: two terms. The PAIR stage costs Σ cluster_size² — size the
    * centroid count so clusters average the intended comparison budget
    * B (nlist ≈ n/B ⇒ pair cost ≈ n·B, linear; stride centroids give
    * this automatically since nlist grows with the corpus), exactly the
    * banding argument of the LSH family with the cluster standing for
    * the bucket. The ASSIGNMENT stage costs O(n·nlist) dot products —
    * with nlist ∝ n that term is the super-linear one (the 10× disk
    * probe reads ~5.6×, all of it assignment); it is the standard IVF
    * build trade, cut to ~n^1.25 by a two-level codebook (assign to
    * √nlist coarse cells, then among that cell's children) or to fully
    * linear by swapping the quality-refined codebook for sign-LSH
    * bucketing — [[lshNearDupPairs]] (banding contract bits ≈ log₂ n)
    * + [[graft.dedup.Dedup.connectedComponents]] IS that fully-linear
    * semantic-dedup twin, already in this library (q22's path). Vectors
    * are never shuffled pair-wise: candidates form as (a_id, b_id) off
    * the narrow assignment table, then join vectors back by id. CC runs
    * over edge-endpoint vertices only.
    *
    * This FLAT stride-seeded face is the DuckDB-oracle-able contract
    * query (q114) and the family's exact-twin oracle — new callers
    * should land on [[semanticDedup]], which routes to the two-level
    * codebook by default (the repo's standard exact-vs-sketch
    * pairing, with "sketch" here meaning the √-law assignment).
    * [[semanticDedupWith]] takes a refined [[kMeansCentroids]] table
    * for production use — same plan, only the centroid table changes.
    * Output: (idCol, sem_cluster, keep). */
  def semanticDedupFlat(embeddings: DataFrame, centroidStride: Int = 25,
      centroidOffset: Int = 7, minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val cent = e.filter(pmod(col("vec_id"), lit(centroidStride)) === centroidOffset)
      .select(col("vec_id").as("c_id"), col("vec").as("c_vec"))
    semanticDedupWith(embeddings, cent, minCosine, idCol, vecCol)
  }

  /** THE semantic-dedup entry point — routes to the TWO-LEVEL codebook
    * ([[semanticDedupTwoLevel]]), the scale-safe default: flat
    * assignment is O(n·nlist) and measured 18.67× at 30× data, the
    * two-level √-law face 2.86× at the same decade. The flat exact
    * twin stays available as [[semanticDedupFlat]] (q114's oracle
    * face); sizing contract `coarseFactor ≈ √nlist`. */
  def semanticDedup(embeddings: DataFrame, fineStride: Int = 25,
      fineOffset: Int = 7, coarseFactor: Int = 5, minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    semanticDedupTwoLevel(embeddings, fineStride, fineOffset, coarseFactor,
      minCosine, idCol, vecCol)

  /** [[semanticDedup]] with a caller-supplied centroid table
    * `(c_id, c_vec)` — e.g. the [[kMeansCentroids]] refinement. */
  def semanticDedupWith(embeddings: DataFrame, cent: DataFrame,
      minCosine: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    dedupFromAssignment(e, assignToCentroids(e, cent), minCosine, idCol)
  }

  /** The assignment-independent tail of the semantic-dedup family:
    * cluster-mate candidate pairs, exact-cosine verification at
    * `minCosine`, CC over verified pairs, keep = component minimum.
    * Shared by the flat ([[semanticDedupWith]]) and two-level
    * ([[semanticDedupTwoLevel]]) assignment faces — only the
    * (vec_id, c_id) table differs. */
  private def dedupFromAssignment(e: DataFrame, assigned: DataFrame,
      minCosine: Double, idCol: String): DataFrame = {
    val cand = assigned.select(col("vec_id").as("a_id"), col("c_id"))
      .join(assigned.select(col("vec_id").as("b_id"), col("c_id")), "c_id")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val pairs = cand
      .join(e.select(col("vec_id").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("vec").as("b_vec")), "b_id")
      .filter(round(cosine(col("a_vec"), col("b_vec")), 4) >= lit(minCosine))
      .select("a_id", "b_id")
    val labels = graft.dedup.Dedup.connectedComponents(pairs,
      e.select(col("vec_id")), "vec_id")
    labels.select(col("id").as(idCol), col("lbl").as("sem_cluster"))
      .withColumn("keep", col(idCol) === col("sem_cluster"))
  }

  /** The family's shared coarse quantization: argmax rounded cosine
    * over the broadcast centroid table, ties to the lowest centroid id
    * (q37's assignment). Input `(vec_id, vec)`; output (vec_id, c_id). */
  private def assignToCentroids(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(broadcast(cent))
      .withColumn("cos", round(cosine(col("vec"), col("c_vec")), 4))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("cos"), -col("c_id"))).as("c_id"))

  /** TWO-LEVEL codebook assignment — the measured answer to the flat
    * assignment's O(n·nlist) bill (q114's 10× probe read 5.57×, all of
    * it the assignment term: nlist grows with n under stride seeding,
    * so flat assignment is quadratic in n at constant stride).
    *
    * Structure (IVF coarse quantizer over the fine codebook, the
    * two-level trade q114's scaladoc promised): the COARSE codebook is
    * a stride-subset of the fine one (`coarse ⊆ fine`); each fine
    * centroid routes once to its nearest coarse centroid (the cell
    * lists, O(nlist·ncoarse), a codebook-side build); a vector then
    * assigns in two hops — nearest coarse centroid (O(ncoarse)), then
    * argmax over only that cell's fine members (expected
    * nlist/ncoarse). Per-vector cost ncoarse + nlist/ncoarse, minimized
    * at ncoarse ≈ √nlist → O(n·√nlist) total versus O(n·nlist) flat —
    * the SIZING CONTRACT is `coarseFactor ≈ √nlist` (probed: the 10×
    * disk ratio drops from flat 5.57× toward the √-law).
    *
    * Every cell contains its own coarse centroid (a coarse centroid IS
    * a fine centroid and the union below adds the self row), so no
    * cell is empty and the assignment is total. Ties break to the
    * lowest id at every hop; cosines round to 4 decimals before
    * comparison — both as the flat face, so the output is
    * engine-reproducible. The assignment is APPROXIMATE in the IVF
    * sense: a vector whose true nearest fine centroid routes to a
    * different coarse cell gets its cell-local argmax instead
    * (`SimilaritySpec` measures the agreement rate against the flat
    * assignment). Input `(vec_id, vec)`; fine `(c_id, c_vec)`; coarse
    * `(g_id, g_vec)`; output (vec_id, c_id). */
  private def assignTwoLevel(e: DataFrame, fine: DataFrame,
      coarse: DataFrame): DataFrame =
    assignTwoLevelWithCells(e, coarse, twoLevelCells(fine, coarse))

  /** The codebook-side routing structure: each fine centroid routed
    * once to its nearest coarse centroid, plus the coarse self row
    * guaranteeing no empty cell — (c_id, g_id, c_vec), O(nlist·ncoarse)
    * to build, a LANDED/codebook artifact that [[landedTwoLevelCells]]
    * memoizes for the incremental face. */
  private def twoLevelCells(fine: DataFrame, coarse: DataFrame): DataFrame = {
    val route = fine.join(broadcast(coarse))
      .withColumn("rcos", round(cosine(col("c_vec"), col("g_vec")), 4))
      .groupBy("c_id")
      .agg(max_by(col("g_id"), struct(col("rcos"), -col("g_id"))).as("g_id"))
    // self row carries the coarse centroid's OWN vector, so the
    // no-empty-cell guard holds even when the caller's coarse codebook
    // is not a subset of fine (the With face allows an independent
    // coarse k-means); under the stride faces coarse ⊆ fine and the
    // distinct folds the duplicate row — oracle-identical
    route.join(fine, "c_id").select("g_id", "c_id", "c_vec")
      .unionByName(coarse.select(col("g_id"), col("g_id").as("c_id"),
        col("g_vec").as("c_vec")))
      .distinct() // (g_id, c_id, c_vec)
  }

  /** The two vector hops given a prebuilt cell table. */
  private def assignTwoLevelWithCells(e: DataFrame, coarse: DataFrame,
      cells: DataFrame): DataFrame = {
    // hop 1: vector → coarse cell
    val vg = e.join(broadcast(coarse))
      .withColumn("gcos", round(cosine(col("vec"), col("g_vec")), 4))
      .groupBy("vec_id")
      .agg(max_by(col("g_id"), struct(col("gcos"), -col("g_id"))).as("g_id"))
    // hop 2: argmax over the cell's fine members only — the join fans
    // each vector out to ~nlist/ncoarse candidate rows, not nlist
    vg.join(e, "vec_id").join(broadcast(cells), "g_id")
      .withColumn("cos", round(cosine(col("vec"), col("c_vec")), 4))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("cos"), -col("c_id"))).as("c_id"))
  }

  /** [[semanticDedup]] with the two-level codebook assignment — the
    * 100 TB face of SemDeDup when nlist itself is corpus-proportional:
    * identical candidate/verify/CC tail ([[dedupFromAssignment]]), only
    * the assignment differs. The fine codebook is the same stride
    * sample as [[semanticDedup]]'s (`vec_id % fineStride ==
    * fineOffset`); the coarse codebook is its stride-subset
    * (`vec_id % (fineStride·coarseFactor) == fineOffset`). Size
    * `coarseFactor ≈ √nlist` per [[assignTwoLevel]]'s contract. */
  def semanticDedupTwoLevel(embeddings: DataFrame, fineStride: Int = 25,
      fineOffset: Int = 7, coarseFactor: Int = 5, minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // Memoized end table (kind "sem2l-dedup", the dedup-clusters
    // pattern): the CC fixpoint inside runs Spark actions EAGERLY at
    // construction, so without the memo every consumer — q118 itself,
    // and q116/q120 through the 2L default routing — re-pays the
    // whole verify+CC bill per invocation (measured 6.4 s at sf0.1,
    // round-16 profile: construction 6.4 s vs 0.2 s execution).
    CacheRegistry.cache(
      CacheRegistry.key(embeddings, "sem2l-dedup", fineStride, fineOffset,
        coarseFactor, minCosine, idCol, vecCol), {
        val e = embeddings.select(col(idCol).as("vec_id"),
          col(vecCol).as("vec"))
        dedupFromAssignment(e,
          twoLevelAssignment(embeddings, fineStride, fineOffset,
            coarseFactor, idCol, vecCol),
          minCosine, idCol)
      })

  /** The memoized full-corpus two-level assignment (kind "sem2l-asn")
    * — the O(n·√nlist) stage every 2L-default consumer shares: q118
    * runs it directly, and q116/q120 embed it through
    * [[semanticDedup]]'s default routing; before memoization each of
    * the three recomputed it per suite run. One narrow (vec_id, c_id)
    * row per vector, exposed for an index-build phase. */
  def twoLevelAssignment(embeddings: DataFrame, fineStride: Int = 25,
      fineOffset: Int = 7, coarseFactor: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(embeddings, "sem2l-asn", fineStride, fineOffset,
        coarseFactor, idCol, vecCol), {
        val e = embeddings.select(col(idCol).as("vec_id"),
          col(vecCol).as("vec"))
        val fine = e.filter(pmod(col("vec_id"), lit(fineStride)) === fineOffset)
          .select(col("vec_id").as("c_id"), col("vec").as("c_vec"))
        val coarse = e.filter(
            pmod(col("vec_id"), lit(fineStride.toLong * coarseFactor)) ===
              fineOffset)
          .select(col("vec_id").as("g_id"), col("vec").as("g_vec"))
        assignTwoLevel(e, fine, coarse)
      })

  /** Semantic-dedup aggressiveness dial — [[dedupThresholdSweep]]'s
    * pattern ([[graft.dedup.Dedup.dedupThresholdSweep]]) applied to
    * the embedding side: vectors flagged / kept per candidate cosine
    * threshold, EVERY threshold priced from one pass over the
    * two-level cell-mate pair table. Flag rule = the single-pass
    * keep-first convention (some LOWER-id cell-mate is ≥-threshold
    * similar), deliberately NOT the CC clustering the dedup verdict
    * itself runs — a per-threshold CC fixpoint would re-run the whole
    * pipeline per setting, which is exactly what a sweep exists to
    * avoid; the count is the dial, the verdict face stays the policy.
    *
    * Exactness: cosines e4-frozen by the family's own two-step device
    * (round to 4 dp, then ·1e4 to an integer) so every threshold
    * compare is integer-vs-integer in both engines. Cost: the memoized
    * "sem2l-asn" assignment (shared with q118/q116/q120) → one
    * cell-keyed pair join → |thresholds|-row aggregate + a one-row
    * total broadcast. Output: (thr_e4, n_flagged, n_kept). */
  def semanticThresholdSweep(embeddings: DataFrame, thresholdsE4: Seq[Int],
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(thresholdsE4.nonEmpty &&
      thresholdsE4.forall(t => t > 0 && t <= 10000),
      "thresholds are e4 integers in (0, 10000]")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val asn = twoLevelAssignment(embeddings, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    val pairs = asn.select(col("vec_id").as("a_id"), col("c_id"))
      .join(asn.select(col("vec_id").as("b_id"), col("c_id")), "c_id")
      .filter(col("a_id") < col("b_id"))
      .join(e.select(col("vec_id").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("vec").as("b_vec")), "b_id")
      .select(col("b_id"),
        round(round(cosine(col("a_vec"), col("b_vec")), 4) * 10000)
          .cast("long").as("cos_e4"))
      // pairs below the smallest threshold can never flag anything:
      // drop them BEFORE the |thresholds| explode (the text twin's
      // prefilter, exact here because both sides compare integers)
      .filter(col("cos_e4") >= lit(thresholdsE4.min.toLong))
    val flagged = pairs
      .withColumn("thr_e4",
        explode(array(thresholdsE4.map(t => lit(t.toLong)): _*)))
      .filter(col("cos_e4") >= col("thr_e4"))
      .select("thr_e4", "b_id").distinct()
    val total = e.agg(count(lit(1)).as("n_vecs"))
    thresholdsE4.map(_.toLong).toDF("thr_e4")
      .join(flagged.groupBy("thr_e4")
        .agg(count(lit(1)).as("n_flagged")), Seq("thr_e4"), "left")
      .na.fill(0L, Seq("n_flagged"))
      .crossJoin(broadcast(total))
      .select(col("thr_e4"), col("n_flagged"),
        (col("n_vecs") - col("n_flagged")).as("n_kept"))
  }

  /** Leakage-safe train/eval split keyed on SEMANTIC clusters — q54's
    * contract (near-dups never straddle the split, so eval can't be
    * contaminated by a paraphrase of a training doc) upgraded from
    * n-gram clusters to embedding clusters: the split decision is a
    * pure hash of the semantic cluster label, so EVERY member of a
    * cluster of semantic rewrites lands on the same side — the failure
    * mode n-gram clustering misses (a translation or aggressive
    * paraphrase shares no shingles but embeds adjacently).
    *
    * Rides the memoized end table ([[semanticDedupTwoLevel]], kind
    * "sem2l-dedup") — the split adds ONE stateless projection on top;
    * deterministic and partition-independent for a FIXED corpus.
    * Append caveat (inherent to min-label CC, not this face): a
    * higher-id addition to an existing cluster inherits its side, but
    * a LOWER-id addition or a cluster-bridging edge changes the label
    * and can flip the whole cluster — so a frozen eval set must pin
    * the release's split output (the q168 snapshot-diff workflow),
    * never recompute it over a grown corpus and assume stability.
    * Output: (idCol, sem_cluster, split ∈ {train, eval}). */
  def semanticSafeSplit(embeddings: DataFrame, trainPct: Int,
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      minCosine: Double = 0.3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct in (0, 100)")
    semanticDedupTwoLevel(embeddings, fineStride, fineOffset,
        coarseFactor, minCosine, idCol, vecCol)
      .select(col(idCol), col("sem_cluster"))
      .withColumn("split",
        when(pmod(graft.functions.TextFunctions.hash60(
          col("sem_cluster").cast("string")), lit(100L)) < trainPct,
          "train").otherwise("eval"))
  }

  /** A RELEASE's pinned split assignment — [[semanticSafeSplit]] over
    * the landed corpus, memoized as its own index kind ("sem-split-pin")
    * so the release artifact persists across sessions through the
    * IndexStore like every other landed index, instead of the doc-only
    * "pin the release output" workflow the r16 review flagged. The
    * pinned table is the AUTHORITY for every doc it contains:
    * [[semanticSafeSplitPinned]] consults it before hashing anything. */
  def pinnedSemanticSplit(landed: DataFrame, trainPct: Int,
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      minCosine: Double = 0.3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(landed, "sem-split-pin", trainPct, fineStride,
        fineOffset, coarseFactor, minCosine, idCol, vecCol),
      semanticSafeSplit(landed, trainPct, fineStride, fineOffset,
        coarseFactor, minCosine, idCol, vecCol)
        .select(col(idCol), col("split")))

  /** ROTATE a release — the pin lifecycle's missing step: the NEXT
    * pin is this grown corpus's pinned-split assignment, persisted as
    * the grown frame's own "sem-split-pin" kind (the release-over-
    * release workflow pin₀ → release 1 → pin₁ → release 2 → …). The
    * key embeds the caller's `releaseId`, NOT the consulted pin's
    * plan fingerprint: a restored pin is a parquet-read of the store
    * file (different plan, different fingerprint), so a
    * fingerprint-embedding key would MISS across the IndexStore
    * save/restore boundary and silently rebuild the rotation every
    * session (review finding) — a stable, caller-owned release name
    * is what production releases have anyway. Two different pins over
    * the same grown corpus must carry different releaseIds. Pin
    * TRANSITIVITY — a doc released under ANY earlier pin keeps its
    * side through every later rotation, because each rotation copies
    * the consulted pin's verdicts verbatim for its members — is
    * q188's oracle statement. */
  def rotatePinnedSplit(grown: DataFrame, pinned: DataFrame,
      trainPct: Int, releaseId: String, fineStride: Int = 25,
      fineOffset: Int = 7, coarseFactor: Int = 5, minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(grown, "sem-split-pin", trainPct, fineStride,
        fineOffset, coarseFactor, minCosine, idCol, vecCol, releaseId),
      semanticSafeSplitPinned(grown, pinned, trainPct, fineStride,
        fineOffset, coarseFactor, minCosine, idCol, vecCol)
        .select(col(idCol), col("split")))

  /** RETENTION for the pin lifecycle — the face that keeps a
    * long-lived corpus's registry and IndexStore from growing one pin
    * per release forever: release every pin-kind entry whose key does
    * not carry one of the `keep` releaseIds (the last N releases a
    * deployment serves), and — when `storeDir` is given — drop the
    * same keys' staged parquet + manifest lines from the store.
    *
    * Dropping consulted-out pins is SAFE BY TRANSITIVITY: every
    * rotation copies its consulted pin's verdicts verbatim for all
    * its members ([[rotatePinnedSplit]]), so the newest pin subsumes
    * every earlier one for every doc it covers — including the
    * unnamed initial pin (pin₀ carries no releaseId and is always
    * collected once a named rotation exists). PinGcSpec proves the
    * splits survive a GC + cold-restore round-trip. `keep` names must
    * be the caller-owned releaseIds (they match as ":"-delimited key
    * parts; a name colliding with a parameter rendering like "80"
    * would over-retain, so name releases like releases). Returns the
    * number of registry entries released. */
  def gcReleasePins(keep: Set[String], storeDir: Option[String] = None,
      pinKinds: Set[String] = Set("sem-split-pin", "ann-release")): Int = {
    val victim = (k: String) =>
      pinKinds.contains(k.takeWhile(_ != ':')) &&
        !keep.exists(r => k.contains(":" + r + ":"))
    // BEFORE anything is dropped, make every KEPT pin self-contained:
    // a kept pin registered as a lazy plan (a rotation consults the
    // prior pin; a rebuild may read restored artifacts) can still scan
    // a victim's staged parquet or recompute through a victim's frame —
    // deleting first would brick the one release being kept (review
    // finding). selfContain stages the kept pin to its OWN file and
    // re-seeds it as a read of that file, cutting every dependency.
    storeDir.foreach { d =>
      CacheRegistry.entries.keys
        .filter(k => pinKinds.contains(k.takeWhile(_ != ':')) && !victim(k))
        .foreach(graft.sources.IndexStore.selfContain(d, _))
    }
    val released = CacheRegistry.releaseIf(victim)
    storeDir.foreach { d => graft.sources.IndexStore.gc(d, victim); () }
    released
  }

  /** [[semanticSafeSplit]] with a PINNED release — the operator-grade
    * fix for the min-label append caveat above: a doc released under
    * `pinned` (idCol, split) KEEPS its released side verbatim no matter
    * how the grown corpus's clustering moved (a lower-id addition or a
    * bridging edge can relabel or even merge clusters — released eval
    * docs must still never migrate into train, or the eval set silently
    * contaminates itself). New members of a cluster containing pinned
    * docs INHERIT the side of the cluster's minimum-id pinned member
    * (deterministic, and leakage-safe against every pinned doc of that
    * cluster whenever the release was itself cluster-consistent);
    * genuinely-new clusters hash fresh exactly as the unpinned face.
    * A cluster that newly BRIDGES pinned train and pinned eval docs is
    * already leaked *in the release* — both sides keep their pins (the
    * invariant is absolute) and the mixed cluster is visible as both
    * pin sides sharing one `sem_cluster` in the output.
    * Output: (idCol, sem_cluster, split, pin_state ∈ {pinned,
    * inherited, fresh}).
    *
    * Scale: the memoized "sem2l-dedup" end table + one id-keyed
    * broadcast-able join against the pinned release + one cluster-sized
    * `min_by` aggregate — nothing corpus-pairwise. */
  def semanticSafeSplitPinned(embeddings: DataFrame, pinned: DataFrame,
      trainPct: Int, fineStride: Int = 25, fineOffset: Int = 7,
      coarseFactor: Int = 5, minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct in (0, 100)")
    val cur = semanticDedupTwoLevel(embeddings, fineStride, fineOffset,
        coarseFactor, minCosine, idCol, vecCol)
      .select(col(idCol), col("sem_cluster"))
    val p = pinned.select(col(idCol), col("split").as("pin_split"))
    val withPin = cur.join(p, Seq(idCol), "left")
    val inherited = withPin.filter(col("pin_split").isNotNull)
      .groupBy("sem_cluster")
      .agg(min_by(col("pin_split"), col(idCol)).as("inh_split"))
    withPin.join(inherited, Seq("sem_cluster"), "left")
      .select(col(idCol), col("sem_cluster"),
        when(col("pin_split").isNotNull, col("pin_split"))
          .when(col("inh_split").isNotNull, col("inh_split"))
          .otherwise(when(
            pmod(graft.functions.TextFunctions.hash60(
              col("sem_cluster").cast("string")), lit(100L)) < trainPct,
            "train").otherwise("eval")).as("split"),
        when(col("pin_split").isNotNull, "pinned")
          .when(col("inh_split").isNotNull, "inherited")
          .otherwise("fresh").as("pin_state"))
  }

  /** Sample-representativeness audit over the embedding space — does
    * an eval/calibration sample COVER the corpus, or did it miss whole
    * semantic regions? Per two-level cell: corpus count, sample count,
    * and the cell's sample-share over corpus-share ratio in ppm
    * (1e6 = perfectly proportional; 0 = an uncovered region — the
    * number that invalidates an eval set drawn with a biased filter).
    * One cross-multiplied DECIMAL(38,0) division per cell, no
    * intermediate share is ever divided, so 1e9-vector corpora cannot
    * wrap and both engines agree bit-for-bit.
    *
    * Rides the memoized "sem2l-asn" assignment (cells already exist —
    * the audit costs one id-keyed left join + a cell-sized aggregate
    * + a one-row totals broadcast). Sample ids that match NO corpus
    * vector (a stale sample full of dangling references — the drift
    * q172 exists to catch) are NOT silently dropped: they land in the
    * sentinel row c_id = −1 (n_corpus 0, n_sample = the dangling
    * count, rep_ppm NULL), the embeddingCoverage orphan-row
    * convention. Output: (c_id, n_corpus, n_sample, rep_ppm — NULL on
    * the sentinel and when the matched sample is empty). */
  def sampleCoverage(embeddings: DataFrame, sample: DataFrame,
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asn = twoLevelAssignment(embeddings, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    val s = sample.select(col(idCol).as("vec_id")).distinct()
      .withColumn("__s", lit(1L))
    val per = asn.join(s, Seq("vec_id"), "left")
      .groupBy("c_id")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("__s").isNotNull, 1L).otherwise(0L)).as("n_sample"))
    val tot = per.agg(sum("n_corpus").as("nn"), sum("n_sample").as("ss"))
    val dangling = s.join(asn.select("vec_id"), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(-1L).as("c_id"), lit(0L).as("n_corpus"),
        col("n").as("n_sample"), lit(null).cast("long").as("rep_ppm"))
    per.crossJoin(broadcast(tot))
      .select(col("c_id"), col("n_corpus"), col("n_sample"),
        when(col("ss") > 0,
          expr("""CAST(CAST(n_sample AS DECIMAL(38,0)) * nn * 1000000
                  div (CAST(n_corpus AS DECIMAL(38,0)) * ss) AS BIGINT)"""))
          .as("rep_ppm"))
      .unionByName(dangling)
  }

  /** Semantically stratified fixed-k sample — the FIX for a failed
    * [[sampleCoverage]] audit: draw the k smallest hash60(id) per
    * two-level cell, so the sample is balanced across the embedding
    * space BY CONSTRUCTION (every semantic region contributes up to k
    * members, none can be missed) and still fully deterministic /
    * append-stable at the cell level (q53's stratum-sample device with
    * the stratum = the semantic cell). Output: (idCol, c_id, rk ≤ k).
    *
    * Scale: the memoized "sem2l-asn" assignment + one cell-partitioned
    * rank window — rows per window group = cell size (≈ fineStride),
    * human-scale; no global window anywhere. */
  def semanticStratSample(embeddings: DataFrame, k: Int,
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be positive")
    val asn = twoLevelAssignment(embeddings, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    asn
      .withColumn("hk", graft.functions.TextFunctions.hash60(
        col("vec_id").cast("string")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("c_id").orderBy("hk", "vec_id")))
      .filter(col("rk") <= k)
      .select(col("vec_id").as(idCol), col("c_id"), col("rk"))
  }

  /** [[semanticDedupTwoLevel]] with caller-supplied codebooks — the
    * production face: `fine` `(c_id, c_vec)` from [[kMeansCentroids]]
    * and `coarse` `(g_id, g_vec)` from a second, smaller k-means over
    * the fine centroids (or any √nlist-sized subset). The plan
    * (route / two-hop assign / verify / CC) is identical to the
    * stride-seeded oracle face; only the codebook tables change —
    * q37/q114's seeding-vs-refinement pairing. */
  def semanticDedupTwoLevelWith(embeddings: DataFrame, fine: DataFrame,
      coarse: DataFrame, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    dedupFromAssignment(e, assignTwoLevel(e, fine, coarse), minCosine, idCol)
  }

  /** Incremental SEMANTIC dedup for append-only ingest — the semantic
    * cell of the incremental matrix (exact: `exactIncrement` / Bloom;
    * near-dup text: `Dedup.lshIncrement`; near-dup embedding:
    * [[lshIncrement]]; substring: `substringDedupIncrement`; mixture:
    * mergeable partials): an incoming vector batch is screened against
    * the landed corpus's semantic clusters, then against itself. The
    * CODEBOOK is a landed-side artifact — centroids come from the
    * landed slice only, so verdicts are batch-order-independent (an
    * incoming batch must not move the cluster structure it is judged
    * by). Verdict lattice as [[lshIncrement]]: `landed_dup` (exact-
    * cosine-verified ≥ `minCosine` against a landed member of its
    * cluster), `batch_dup` (non-representative of its verified
    * within-batch component among survivors), `keep`.
    *
    * Same architecture as the banded twins with the CLUSTER standing
    * for the bucket: the landed side contributes two memoized
    * projections — its assignment table (kind "sem-assign", the
    * semantic index, one narrow row per vector) and the
    * [[landedVecLookup]] for verification — both reused batch over
    * batch; the batch assigns against the broadcast codebook
    * (O(batch·nlist)), candidates form as ONE c_id equi-join of the
    * batch assignment against the tagged union of both, every
    * candidate verifies at exact cosine before costing a vector, and
    * CC runs over verified batch pairs only. Vectors never shuffle
    * pair-wise. Output: (idCol, verdict), one row per incoming
    * vector.
    *
    * This FLAT face is the oracle twin (q117) — new callers should
    * land on [[semanticDedupIncrement]], which routes to the
    * two-level landed codebook by default. */
  def semanticDedupIncrementFlat(landed: DataFrame, incoming: DataFrame,
      centroidStride: Int = 25, centroidOffset: Int = 7,
      minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val lv = landedVecLookup(landed, idCol, vecCol)
    val cent = lv.filter(pmod(col("sid"), lit(centroidStride)) === centroidOffset)
      .select(col("sid").as("c_id"), col("vec").as("c_vec"))
    val lAsn = landedSemanticAssignment(landed, centroidStride, centroidOffset,
      idCol, vecCol)
    val iv = incoming.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val iAsn = assignToCentroids(
      iv.select(col("sid").as("vec_id"), col("vec")), cent)
    incrementFromAssignments(lv, iv, lAsn, iAsn, minCosine, idCol, incoming)
  }

  /** THE incremental semantic-dedup entry point — routes to the
    * TWO-LEVEL landed codebook ([[semanticDedupIncrementTwoLevel]]),
    * the scale-safe default for both corpus-proportional terms (the
    * landed index build and the per-batch assignment). The flat exact
    * twin stays available as [[semanticDedupIncrementFlat]] (q117's
    * oracle face). */
  def semanticDedupIncrement(landed: DataFrame, incoming: DataFrame,
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    semanticDedupIncrementTwoLevel(landed, incoming, fineStride, fineOffset,
      coarseFactor, minCosine, idCol, vecCol)

  /** The assignment-independent tail of the incremental semantic
    * family: side-tagged cluster-mate candidates, exact-cosine
    * verification, landed-dup absorption, CC over verified batch pairs
    * among survivors — [[semanticDedupIncrement]]'s verdict lattice.
    * Shared by the flat and two-level assignment faces. */
  private def incrementFromAssignments(lv: DataFrame, iv: DataFrame,
      lAsn: DataFrame, iAsn: DataFrame, minCosine: Double,
      idCol: String, incoming: DataFrame): DataFrame =
    // contract shape (one row per incoming vector) over the sparse
    // evidence: absence of a verdict row IS keep (r22 restructure —
    // the gate consumes the sparse frame directly)
    incoming.select(col(idCol))
      .join(incrementEvidenceFromAssignments(lv, iv, lAsn, iAsn,
        minCosine, idCol, incoming), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("verdict"), lit("keep")).as("verdict"))

  /** The SPARSE evidence half of [[incrementFromAssignments]] —
    * (idCol, verdict) rows for the non-keep vectors only
    * ([[graft.dedup.Dedup.pairDupEvidence]]'s lattice: landed-dup
    * absorption first, then CC over verified batch pairs among
    * survivors); the frame the ingest gate left-joins per batch. */
  private[graft] def incrementEvidenceFromAssignments(lv: DataFrame,
      iv: DataFrame, lAsn: DataFrame, iAsn: DataFrame, minCosine: Double,
      idCol: String, incoming: DataFrame): DataFrame = {
    val allAsn = iAsn.select(col("vec_id"), col("c_id"), lit("batch").as("src"))
      .unionByName(lAsn.select(col("vec_id"), col("c_id"),
        lit("landed").as("src")))
    val cand = iAsn.select(col("vec_id").as("a_id"), col("c_id"))
      .join(allAsn.select(col("vec_id").as("b_id"), col("c_id"),
        col("src").as("side")), "c_id")
      .filter(col("side") === "landed" || col("a_id") < col("b_id"))
      .select("a_id", "b_id", "side")
    val v = iv.unionByName(lv)
    // a_id is always a batch vec_id and ids are disjoint across the
    // landed/batch slices, so the a-side reads the batch lookup only —
    // identical rows, one less scan of the landed vector chain per
    // call (r22, same reasoning as lshIncrement's a-side joins)
    val verified = cand
      .join(iv.select(col("sid").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(v.select(col("sid").as("b_id"), col("vec").as("b_vec")), "b_id")
      .filter(round(cosine(col("a_vec"), col("b_vec")), 4) >= lit(minCosine))
      .select("a_id", "b_id", "side")
    graft.dedup.Dedup.pairDupEvidence(verified, incoming, idCol)
  }

  /** The landed corpus's memoized semantic cluster assignment (kind
    * "sem-assign") — [[semanticDedupIncrementFlat]]'s index, one narrow
    * (vec_id, c_id) row per landed vector, reused batch over batch and
    * exposed for an index-build phase. Centroids are the landed stride
    * sample (the codebook is a landed-side artifact). */
  def landedSemanticAssignment(landed: DataFrame, centroidStride: Int = 25,
      centroidOffset: Int = 7, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val lv = landedVecLookup(landed, idCol, vecCol)
    val cent = lv.filter(pmod(col("sid"), lit(centroidStride)) === centroidOffset)
      .select(col("sid").as("c_id"), col("vec").as("c_vec"))
    CacheRegistry.cache(
      CacheRegistry.key(landed, "sem-assign", centroidStride, centroidOffset,
        idCol, vecCol),
      assignToCentroids(lv.select(col("sid").as("vec_id"), col("vec")), cent))
  }

  /** [[semanticDedupIncrementFlat]] with the TWO-LEVEL codebook
    * ([[assignTwoLevel]]) on both sides — the cut for the family's two
    * remaining corpus-proportional assignment terms: the landed INDEX
    * build (O(n_landed·nlist) flat — the 20.4× reading q117's probe
    * history records) and the per-batch assignment against a codebook
    * whose nlist grows with the landed corpus (the linear-in-landed
    * residual behind q117's 2.34× contract probe). Both drop to
    * O(·√nlist) under the `coarseFactor ≈ √nlist` sizing contract.
    * Codebooks (fine and coarse) are landed-side artifacts exactly as
    * the flat face — batch order cannot move the cluster structure —
    * and the verdict lattice, verification, and CC tail are shared
    * ([[incrementFromAssignments]]). With one coarse cell this
    * degenerates to [[semanticDedupIncrementFlat]] (asserted in
    * SimilaritySpec). */
  def semanticDedupIncrementTwoLevel(landed: DataFrame, incoming: DataFrame,
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (lv, iv, lAsn, iAsn) = twoLevelIncrementInputs(landed, incoming,
      fineStride, fineOffset, coarseFactor, idCol, vecCol)
    incrementFromAssignments(lv, iv, lAsn, iAsn, minCosine, idCol, incoming)
  }

  /** [[semanticDedupIncrementTwoLevel]]'s SPARSE evidence half —
    * (idCol, verdict) rows for the non-keep vectors only; the frame
    * the ingest gate left-joins per batch (absence = keep). */
  private[graft] def semanticIncrementEvidenceTwoLevel(landed: DataFrame,
      incoming: DataFrame,
      fineStride: Int = 25, fineOffset: Int = 7, coarseFactor: Int = 5,
      minCosine: Double = 0.3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (lv, iv, lAsn, iAsn) = twoLevelIncrementInputs(landed, incoming,
      fineStride, fineOffset, coarseFactor, idCol, vecCol)
    incrementEvidenceFromAssignments(lv, iv, lAsn, iAsn, minCosine, idCol,
      incoming)
  }

  /** Shared input assembly of the two-level increment faces: the
    * memoized landed artifacts (vector lookup, cell table, assignment)
    * plus the batch's lookup and two-level assignment. */
  private def twoLevelIncrementInputs(landed: DataFrame, incoming: DataFrame,
      fineStride: Int, fineOffset: Int, coarseFactor: Int,
      idCol: String, vecCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val lv = landedVecLookup(landed, idCol, vecCol)
    // codebook routing (route + cell lists) is a LANDED artifact —
    // memoized, never rebuilt per batch
    val cells = landedTwoLevelCells(landed, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    // the coarse codebook is exactly the cell table's SELF rows
    // (twoLevelCells unions one (g, g, g_vec) row per coarse centroid),
    // so derive it from the memoized O(nlist) cells instead of
    // re-filtering the corpus-scale vector lookup per call (r22 —
    // matters most when the landed side is a merge-chain seed)
    val coarse = cells.filter(col("g_id") === col("c_id"))
      .select(col("g_id"), col("c_vec").as("g_vec"))
    val lAsn = landedSemanticAssignment2L(landed, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    val iv = incoming.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val iAsn = assignTwoLevelWithCells(
      iv.select(col("sid").as("vec_id"), col("vec")), coarse, cells)
    (lv, iv, lAsn, iAsn)
  }

  /** The landed codebook's memoized routing/cell table (kind
    * "sem-cells-2l") — (c_id, g_id, c_vec), the O(nlist·ncoarse)
    * structure both the landed index build and every batch assignment
    * read; built once per landed corpus. */
  def landedTwoLevelCells(landed: DataFrame, fineStride: Int = 25,
      fineOffset: Int = 7, coarseFactor: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val lv = landedVecLookup(landed, idCol, vecCol)
    val fine = lv.filter(pmod(col("sid"), lit(fineStride)) === fineOffset)
      .select(col("sid").as("c_id"), col("vec").as("c_vec"))
    val coarse = lv.filter(
        pmod(col("sid"), lit(fineStride.toLong * coarseFactor)) === fineOffset)
      .select(col("sid").as("g_id"), col("vec").as("g_vec"))
    CacheRegistry.cache(
      CacheRegistry.key(landed, "sem-cells-2l", fineStride, fineOffset,
        coarseFactor, idCol, vecCol),
      twoLevelCells(fine, coarse))
  }

  /** The landed corpus's memoized TWO-LEVEL semantic assignment (kind
    * "sem-assign-2l") — [[semanticDedupIncrementTwoLevel]]'s index,
    * built at O(n_landed·√nlist) instead of the flat index's
    * O(n_landed·nlist) over the memoized [[landedTwoLevelCells]],
    * reused batch over batch and exposed for an index-build phase. */
  def landedSemanticAssignment2L(landed: DataFrame, fineStride: Int = 25,
      fineOffset: Int = 7, coarseFactor: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val lv = landedVecLookup(landed, idCol, vecCol)
    val coarse = lv.filter(
        pmod(col("sid"), lit(fineStride.toLong * coarseFactor)) === fineOffset)
      .select(col("sid").as("g_id"), col("vec").as("g_vec"))
    val cells = landedTwoLevelCells(landed, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    CacheRegistry.cache(
      CacheRegistry.key(landed, "sem-assign-2l", fineStride, fineOffset,
        coarseFactor, idCol, vecCol),
      assignTwoLevelWithCells(lv.select(col("sid").as("vec_id"), col("vec")),
        coarse, cells))
  }

  /** The landed corpus's (sid, vec) verification lookup — the second
    * memoized projection [[lshIncrement]] reads (kind "vec-lookup",
    * keyed by the landed plan), exposed so an index-build phase can
    * materialize it once ahead of the per-batch calls. */
  def landedVecLookup(landed: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(landed, "vec-lookup", idCol, vecCol),
      landed.select(col(idCol).as("sid"), col(vecCol).as("vec")))

  /** Absorb an ADMITTED batch's vectors into the landed two-level
    * semantic artifacts under the FROZEN landed codebook — the
    * semantic cell of the absorb family ([[graft.dedup.Dedup.absorbBatch]]):
    * seeds "vec-lookup", "sem-cells-2l" and "sem-assign-2l" for the
    * GROWN landed corpus (`landed2Emb`, the frame the next gate call
    * passes as its landed side) as plain appends — lookup and
    * assignment are per-vector rows, and the cell table is unchanged
    * because the batch contributes no centroids.
    *
    * That last property is the frozen-codebook contract, REQUIRED
    * here, not assumed: a batch id on the centroid stride would grow
    * the codebook and silently stale every landed assignment (each
    * vector's argmax can move when centroids appear). Append-only
    * ingest satisfies it by construction — fresh ids are allocated off
    * the frozen strides; a corpus that must re-seed its codebook
    * rebuilds the landed index instead (the compaction-time path). */
  def absorbSemantic2L(landedEmb: DataFrame, admittedEmb: DataFrame,
      landed2Emb: DataFrame, fineStride: Int = 25, fineOffset: Int = 7,
      coarseFactor: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", probe: Boolean = true): Unit = {
    val iv = admittedEmb.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    // the refusal probe MUST run eagerly (before any seed below — the
    // stream converts the refusal to compaction, so no grown-corpus
    // entry may exist when it throws); it is one short-circuiting job
    // over the batch-sized admitted frame (localCheckpoint'ed in the
    // streaming path), not a gate re-evaluation. `probe = false` is for
    // [[graft.dedup.Dedup.absorbBatch]] ONLY, which has already run the
    // COMBINED probe covering this stride family before any cell —
    // folding the per-family probe jobs into one (r18 verdict task #2)
    // and strengthening the refusal contract to zero partial seeds.
    if (probe &&
        !iv.filter(pmod(col("sid"), lit(fineStride.toLong)) === fineOffset)
          .isEmpty)
      throw new CodebookStrideRefusal(
        s"absorbSemantic2L: admitted batch contains codebook-stride ids " +
          s"(id % $fineStride == $fineOffset) — the frozen-codebook append " +
          "contract requires fresh ids off the centroid strides; rebuild " +
          "the landed index instead")
    val lv = landedVecLookup(landedEmb, idCol, vecCol)
    // seedLazy, not seed, across every absorb/retract merge cell: the
    // landed component is already persisted under its own kind, so
    // persisting the union would re-cache a corpus-scale copy per
    // absorbed batch — see [[graft.util.CacheRegistry.seedLazy]].
    CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Emb, "vec-lookup", idCol, vecCol),
      lv.unionByName(iv))
    val coarse = lv.filter(
        pmod(col("sid"), lit(fineStride.toLong * coarseFactor)) === fineOffset)
      .select(col("sid").as("g_id"), col("vec").as("g_vec"))
    val cells = landedTwoLevelCells(landedEmb, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    // the codebook is FROZEN, so the grown corpus's cell table is the
    // landed one verbatim — but seed a detached copy, not the same
    // object: two registry keys sharing one frame double-save through
    // IndexStore and a release through either key would strip the
    // other's cache out from under it
    CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Emb, "sem-cells-2l", fineStride, fineOffset,
        coarseFactor, idCol, vecCol),
      cells.select(cells.columns.map(col).toIndexedSeq: _*))
    val lAsn = landedSemanticAssignment2L(landedEmb, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    val iAsn = assignTwoLevelWithCells(
      iv.select(col("sid").as("vec_id"), col("vec")), coarse, cells)
    CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Emb, "sem-assign-2l", fineStride, fineOffset,
        coarseFactor, idCol, vecCol),
      lAsn.unionByName(iAsn))
    ()
  }

  /** IVF (inverted-file) approximate top-k — the other classic ANN scale
    * path next to sign-LSH ([[lshTopK]]). Three phases, all linear in the
    * corpus:
    *
    *  1. *coarse quantize*: every corpus vector is assigned to its
    *     nearest centroid by cosine (`nlist` centroids, broadcast; cost
    *     O(n·nlist) dot products, one scan, no shuffle of vectors);
    *  2. *probe*: each query ranks the same centroid table and keeps its
    *     `nprobe` nearest lists;
    *  3. *score*: candidates = the union of the probed lists — an equi-
    *     join on centroid id shipping only (id, centroid) pairs — then
    *     exact cosine top-k within ~`nprobe/nlist` of the corpus.
    *
    * Centroids here are a deterministic id-sampled subset of the corpus
    * (`vec_id % centroidStride == centroidOffset`) so the whole index is
    * reproducible in the DuckDB oracle; a production build would k-means
    * the sample first — the query plan (assign/probe/score) is identical,
    * only the centroid table changes. Cosines are rounded to 4 decimals
    * before every argmax/rank (ties break on id) so assignment, probe
    * sets, and final ranking are engine-independent.
    *
    * Scale shape at 100 TB: assignment is a broadcast nested-loop over
    * `nlist` centroids fused into the corpus scan (no shuffle); the only
    * shuffles ship (long, long) assignment pairs, never embeddings;
    * per-query scored set is bounded by the probed lists, so query cost
    * is O(nprobe·n/nlist) instead of O(n). Size `nlist ≈ √n`, probe a few
    * lists for recall (measured vs [[bruteForceTopK]] in SimilaritySpec).
    */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      centroidStride: Int, centroidOffset: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val cent = e.filter(pmod(col("vec_id"), lit(centroidStride)) === centroidOffset)
      .select(col("vec_id").as("c_id"), col("vec").as("c_vec"))
    ivfTopKWith(embeddings, queries, k, cent, nprobe, idCol, vecCol)
  }

  /** [[ivfTopK]] with a caller-supplied centroid table `(c_id, c_vec)` —
    * e.g. the [[kMeansCentroids]] refinement. The plan (assign / probe /
    * score) is identical; only the centroid table changes. */
  def ivfTopKWith(embeddings: DataFrame, queries: DataFrame, k: Int,
      cent: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    // 1. coarse quantization: argmax cosine over the broadcast centroid
    // table — max_by on (cos, -c_id) = "highest cosine, ties to lowest
    // id", a hash agg with map-side partials (no window sort).
    val assigned = e.join(broadcast(cent))
      .withColumn("cos", round(cosine(col("vec"), col("c_vec")), 4))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("cos"), -col("c_id"))).as("c_id"))
    // 2. probe: each query's nprobe nearest centroids (tiny: |q|·nlist).
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val wProbe = Window.partitionBy("q_id").orderBy(desc("p_cos"), asc("c_id"))
    val probes = qv.join(broadcast(cent))
      .withColumn("p_cos", round(cosine(col("q_vec"), col("c_vec")), 4))
      .withColumn("p_rank", row_number().over(wProbe))
      .filter(col("p_rank") <= nprobe)
      .select("q_id", "c_id")
    // 3. exact top-k inside the probed lists (each vector lives in
    // exactly one list, so the candidate set needs no distinct).
    val cand = probes.join(assigned, "c_id")
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id")
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    // no broadcast hint on qv: the query set is user-sized (can be a large
    // fraction of the corpus) — unlike the genuinely tiny centroid table.
    // AQE broadcasts it when it fits, shuffles otherwise.
    cand
      .join(e, "vec_id")
      .join(qv, "q_id")
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Lloyd's k-means refinement of the IVF centroid table — the
    * production step the id-sampled seed stands in for. Seeded exactly
    * like [[ivfTopK]]'s stride sample (stable `c_id`s), then `iters`
    * rounds of:
    *
    *  1. *assign* a training sample (`vec_id % sampleStride == 0`) to its
    *     nearest centroid — the same broadcast nested-loop + `max_by`
    *     hash-agg as the query-time assignment (no shuffle of vectors
    *     beyond the one groupBy of (id, vec));
    *  2. *recompute* each centroid as the element-wise mean of its
    *     members: `posexplode` to (c_id, pos, value), a (c_id, pos)
    *     hash-agg with map-side partials, re-assembled in position order
    *     — the shuffle ships scalar partial sums, never whole vectors;
    *  3. clusters that lost every member keep their previous centroid
    *     (left join + coalesce), so `nlist` never shrinks.
    *
    * Cost per round is O(|sample|·nlist) dot products + O(|sample|·dim)
    * aggregated scalars — at 100 TB you run this on a stride sample
    * (1e-3 of the corpus is plenty for √n centroids) and the centroid
    * table stays broadcast-sized throughout. Float means depend on
    * reduction order, so refined centroids are NOT bit-reproducible
    * across engines — which is exactly why the oracle-checked q37 pins
    * the stride seed and this refinement is measured by recall
    * (SimilaritySpec), the metric it actually moves.
    *
    * Durability caveat (cluster deployments): each round's centroid
    * table is truncated with `localCheckpoint`, whose blocks live on
    * the executors that computed them and are unrecoverable on
    * executor loss — fine for the broadcast-sized centroid table in a
    * single JVM; a fault-tolerant deployment should swap it for
    * reliable `checkpoint()` (same semantics, survives retries), as
    * documented on [[graft.dedup.Dedup.lshIncrement]]. */
  def kMeansCentroids(embeddings: DataFrame, centroidStride: Int,
      centroidOffset: Int, iters: Int = 2, sampleStride: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val sample = e.filter(pmod(col("vec_id"), lit(sampleStride)) === 0)
    var cent = e.filter(pmod(col("vec_id"), lit(centroidStride)) === centroidOffset)
      .select(col("vec_id").as("c_id"), col("vec").as("c_vec"))
    for (_ <- 1 to iters) {
      val assigned = sample.join(broadcast(cent))
        .withColumn("cos", round(cosine(col("vec"), col("c_vec")), 4))
        .groupBy("vec_id")
        .agg(max_by(col("c_id"), struct(col("cos"), -col("c_id"))).as("c_id"),
          first(col("vec")).as("vec"))
      val means = assigned
        .select(col("c_id"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy("c_id", "pos")
        .agg(avg(col("v")).as("m"))
        .groupBy("c_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("new_vec"))
      cent = cent.join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("new_vec"), col("c_vec")).as("c_vec"))
        .localCheckpoint(true) // truncate the per-iteration lineage
    }
    cent
  }

  /** Engine-exact k-means twin of [[kMeansCentroids]]: every quantity is
    * integer, so the result is bit-reproducible across engines and the
    * whole refinement becomes DuckDB-oracle-able — the device that keeps
    * q56/q72's centroids exact, applied to the ITERATION itself.
    *
    *  - components quantize to micro-units with the engine-identical
    *    `floor(x·1e6 + 0.5)`, then shift by +1e7 so every value (and
    *    every mean numerator) is positive — integer division then
    *    truncates identically in Spark (`div`, toward zero) and DuckDB
    *    (`//`, toward −∞): the two only disagree on negatives;
    *  - assignment is argmin of the exact integer squared distance
    *    (offset cancels in differences; |diff| ≤ ~4e6 so the 64-dim sum
    *    is far under Long range), ties to the lower centroid id;
    *  - new means are the half-up integer `(2s+n) div (2n)` per
    *    dimension (the repo's AVG device); empty clusters keep their
    *    previous centroid, as the float path does.
    *
    * The float [[kMeansCentroids]] stays the production path (real
    * deployments don't need quantized means); this twin is its
    * correctness oracle, the same relationship the sketch paths have to
    * their exact forms — just pointing the other way. Scale shape is
    * identical: per-round broadcast of k centroids, one narrow
    * (c_id, pos) shuffle for the means. Output: (c_id, pos, m_e6). */
  def kMeansCentroidsExact(embeddings: DataFrame, centroidStride: Int,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val Off = 10000000L
    val q = embeddings.select(col(idCol).as("vec_id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long") +
          lit(Off)).as("qv"))
    var cent = q.filter(pmod(col("vec_id"), lit(centroidStride)) === 0)
      .select(col("vec_id").as("c_id"), col("qv").as("cv"))
    for (_ <- 1 to iters) {
      val dist = aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
      val assigned = q.join(broadcast(cent))
        .withColumn("dist", dist)
        .groupBy("vec_id")
        .agg(min_by(struct(col("c_id"), col("qv")),
          struct(col("dist"), col("c_id"))).as("best"))
        .select(col("best.c_id").as("c_id"), col("best.qv").as("qv"))
      val means = assigned
        .select(col("c_id"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("c_id", "pos")
        .agg(expr("(2 * sum(v) + count(v)) div (2 * count(v))").as("m"))
        .groupBy("c_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("nv"))
      cent = cent.join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("nv"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    cent.select(col("c_id"), posexplode(col("cv")).as(Seq("pos", "q")))
      .select(col("c_id"), col("pos"), (col("q") - lit(Off)).as("m_e6"))
  }

  /** Symmetric int8 quantization of a float vector: `q_i = floor(v_i /
    * s + 0.5)` with per-vector scale `s = max|v| / 127` — the standard
    * scalar-quantized ANN storage format (4× less memory/bandwidth than
    * float32, integer dot products). `floor(x + 0.5)` rather than a
    * rounding mode so every engine quantizes identically; zero vectors
    * quantize to zero. Returns the long-array column (long, not byte, so
    * downstream dot products never overflow and stay in Spark's long
    * arithmetic). */
  def quantizeI8(v: Column): Column = {
    val s = array_max(transform(v, x => abs(x))).cast("double") / lit(127.0)
    when(s === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v,
        x => floor(x.cast("double") / s + lit(0.5)).cast("long")))
  }

  /** Integer dot product of two long-array columns. */
  private def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Quantized-scan ANN: brute-force candidate generation over int8
    * vectors, exact float rerank of the survivors. The corpus scan —
    * the memory-bandwidth-bound phase at 100 TB — reads 4×-smaller
    * quantized vectors and ranks by *quantized* cosine (integer dot /
    * integer norms, rounded to 4 dp, ties on id); only the top
    * `k · rerankFactor` candidates per query touch the float vectors for
    * the exact rerank. Complementary to [[lshTopK]]/[[ivfTopK]]: those
    * prune WHICH vectors are scored, this shrinks the COST of scoring —
    * production indexes stack them (IVF lists storing int8 codes).
    *
    * The rerank join ships only (q_id, vec_id) candidate pairs —
    * k·rerankFactor·|queries| rows — and AQE picks the join strategy;
    * nothing re-reads the corpus. Recall vs [[bruteForceTopK]] is
    * measured in SimilaritySpec; quantization error only loses a true
    * neighbor when its margin is below the int8 noise floor, so
    * `rerankFactor` ≈ 4 recovers ~all of top-k. */
  def quantizedTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = embeddings.select(col(idCol).as("vec_id"),
      quantizeI8(col(vecCol)).as("qv"))
    val q = queries.select(col(idCol).as("q_id"),
      quantizeI8(col(vecCol)).as("q_qv"))
    val wCand = Window.partitionBy("q_id").orderBy(desc("q_cos"), asc("vec_id"))
    val cand = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("q_cos", round(
        qdot(col("qv"), col("q_qv")).cast("double") /
          (sqrt(qdot(col("qv"), col("qv")).cast("double")) *
           sqrt(qdot(col("q_qv"), col("q_qv")).cast("double"))), 4))
      .withColumn("c_rank", row_number().over(wCand))
      .filter(col("c_rank") <= k * rerankFactor)
      .select("q_id", "vec_id")
    val v = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    cand
      .join(v, "vec_id")
      .join(qv, "q_id")
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the far
    * end of [[quantizedTopK]]'s "shrink the cost of scoring" axis: the
    * vector splits into `m` disjoint subvectors, each encoded as the id
    * of its nearest (squared-L2) codeword in a per-subspace codebook,
    * so the scanned corpus representation is `m` SMALL INTS per vector
    * (vs dim floats raw, dim int8s for [[quantizedTopK]]: 64× /16×
    * narrower at m=4, dim=64) while representing ksub^m distinct cells.
    * Scoring is ADC (asymmetric distance computation): per query, one
    * lookup table of `m·ksub` exact sub-dot-products, then
    * approx_dot(q,v) = Σⱼ LUT[j][codeⱼ(v)] — the corpus scan does m
    * integer lookups + adds per vector and never touches a float
    * vector; the top `k·rerankFactor` by approximate dot rerank at
    * exact rounded cosine, exactly [[quantizedTopK]]'s tail.
    *
    * Engine-reproducibility: encode argmax is over
    * `round((2·sv·cw − |cw|²)·1e4)` (≡ argmin squared L2 shifted by the
    * per-(sid,j)-constant |sv|², in integer e4 units), ties to the
    * lowest code id; ADC terms are e4-rounded BIGINTs so the per-pair
    * sum is an order-independent integer. Codebooks here are
    * stride-seeded (`vec_id % codeStride == codeOffset`, the family's
    * oracle-able contract face — q37's seeding); production swaps in
    * per-subspace k-means codewords of fixed ksub=256 (the
    * [[kMeansCentroids]] refinement per subspace) without touching the
    * plan — broadcast size m·ksub·(dim/m) = ksub·dim floats, constant
    * in corpus size. THAT constant-size claim is the production
    * (fixed-ksub) face only: under the stride seeding, ksub ≈ n/25
    * grows with the corpus, so the codebook broadcast is ~m·n/25 rows
    * and the per-query LUT ~nq·m·ksub rows — size the stride (or swap
    * in the fixed-ksub codebook) before either approaches the
    * broadcast limit; the LUT join below therefore carries NO
    * broadcast hint and is planned from its actual size stats (AQE
    * broadcasts it when small). At 100 TB the ADC scan reads only the
    * (sid, j, code) table (m small ints/vector); full vectors are
    * fetched by id join for the k·rerankFactor shortlist alone.
    *
    * Construction-time note: dim discovery samples ONE non-null
    * vector row — an eager one-row driver job inside an otherwise
    * lazy plan-construction API. */
  /** One-row dim probe — a driver job at plan-construction time,
    * unavoidable: the PQ subvector slicing is a plan-time literal.
    * Falls back through `fallback` (the query side) so an empty corpus
    * yields an empty result instead of a NoSuchElementException. ONE
    * definition of the probe + divisibility convention for the whole
    * PQ family. */
  /** Memo for [[absorbIvfPq]]'s dimension probe: one probe job per
    * DISTINCT (landed plan, vecCol, m), not one per absorb — a
    * streaming absorb re-runs the fold every micro-batch over the SAME
    * landed corpus. Keyed by plan fingerprint (embeds the landed
    * files' content signature), the [[graft.dedup.Dedup]]
    * coarse-slice-guard idiom. */
  private val dimProbed =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def probeDimMemo(primary: DataFrame, fallback: DataFrame,
      vecCol: String, m: Int): Int =
    dimProbed.getOrElseUpdate(
      CacheRegistry.key(primary, "dim-probe", vecCol, m),
      probeDim(primary, fallback, vecCol, m))

  private def probeDim(primary: DataFrame, fallback: DataFrame,
      vecCol: String, m: Int): Int = {
    val dim = primary.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
      .headOption
      .orElse(fallback.where(col(vecCol).isNotNull)
        .select(size(col(vecCol))).limit(1).collect().headOption)
      .map(_.getInt(0)).getOrElse(m)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    dim
  }

  /** Stride-seeded coarse codebook (c_id, c_vec) over a (sid, vec)
    * frame — THE single definition of the IVF coarse-centroid
    * convention, shared by the one-shot, landed-index and incremental
    * faces (a drifting copy would silently break the landed-codebook
    * equality contract the q158 oracle hash-proves). */
  private def coarseCodebook(e: DataFrame, ivfStride: Int,
      ivfOffset: Int): DataFrame =
    e.filter(pmod(col("sid"), lit(ivfStride)) === ivfOffset)
      .select(col("sid").as("c_id"), col("vec").as("c_vec"))

  def pqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, codeStride: Int = 25, codeOffset: Int = 7,
      rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = probeDim(embeddings, queries, vecCol, m)
    val e = embeddings.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val (codes, lut) = pqCodesAndLut(e, qv, dim, m, codeStride, codeOffset)
    // ADC: m integer terms per (query, vector), summed by hash agg
    // no broadcast hint on the LUT: its nq·m·ksub size is corpus-
    // proportional under stride seeding (scaladoc) — let stats/AQE pick
    val approx = codes.join(lut, Seq("j", "code"))
      .filter(col("sid") =!= col("q_id"))
      .groupBy("q_id", "sid")
      .agg(sum("term_e4").as("approx_e4"))
    val wShort = Window.partitionBy("q_id").orderBy(desc("approx_e4"), asc("sid"))
    val short = approx.withColumn("c_rank", row_number().over(wShort))
      .filter(col("c_rank") <= k * rerankFactor)
      .select("q_id", "sid")
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    short.withColumnRenamed("sid", "vec_id")
      .join(e.select(col("sid").as("vec_id"), col("vec")), "vec_id")
      .join(qv, "q_id")
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Shared PQ machinery of the [[pqTopK]] family: subvector split,
    * stride-seeded per-subspace codebooks, corpus code table
    * (sid, j, code — m small ints per vector), and the per-query ADC
    * lookup table (q_id, j, code, term_e4). Encode argmax and LUT
    * terms are e4-rounded integers with ties to the lowest code id —
    * the engine-reproducibility device both faces share. */
  /** (id, j, sv): the m disjoint subvector projections, one narrow
    * union — each branch is a column-pruned scan, no shuffle. */
  private def pqSubs(df: DataFrame, id: String, v: String, m: Int,
      dsub: Int): DataFrame =
    (0 until m).map { j =>
      df.select(col(id).as("sid"), lit(j).as("j"),
        slice(col(v), j * dsub + 1, dsub).as("sv"))
    }.reduce(_ unionByName _)

  /** Stride-seeded PQ codebook drawn from `src` — the codebook SOURCE
    * is a parameter so an incremental face can encode a batch against
    * the LANDED codebook (q158) while the one-shot faces draw it from
    * the corpus itself. */
  private def pqCodebook(src: DataFrame, m: Int, dsub: Int,
      codeStride: Int, codeOffset: Int): DataFrame =
    pqSubs(src, "sid", "vec", m, dsub)
      .filter(pmod(col("sid"), lit(codeStride)) === codeOffset)
      .select(col("sid").as("code_id"), col("j"), col("sv").as("cw"))

  /** Encode: per (vector, subspace) argmin L2 over the broadcast
    * codebook as a max_by hash agg (map-side partials, no sort). */
  private def pqEncode(e: DataFrame, cw: DataFrame, m: Int,
      dsub: Int): DataFrame =
    pqSubs(e, "sid", "vec", m, dsub).join(broadcast(cw), "j")
      .withColumn("score", round(
        (dot(col("sv"), col("cw")) * 2 - dot(col("cw"), col("cw"))) * 1e4)
        .cast("long"))
      .groupBy("sid", "j")
      .agg(max_by(col("code_id"), struct(col("score"), -col("code_id")))
        .as("code"))

  /** Per-query ADC lookup table over the broadcast codebook. */
  private def pqLut(qv: DataFrame, cw: DataFrame, m: Int,
      dsub: Int): DataFrame =
    pqSubs(qv, "q_id", "q_vec", m, dsub)
      .withColumnRenamed("sid", "q_id")
      .join(broadcast(cw), "j")
      .select(col("q_id"), col("j"), col("code_id").as("code"),
        round(dot(col("sv"), col("cw")) * 1e4).cast("long").as("term_e4"))

  private def pqCodesAndLut(e: DataFrame, qv: DataFrame, dim: Int, m: Int,
      codeStride: Int, codeOffset: Int): (DataFrame, DataFrame) = {
    val dsub = dim / m
    val cw = pqCodebook(e, m, dsub, codeStride, codeOffset)
    (pqEncode(e, cw, m, dsub), pqLut(qv, cw, m, dsub))
  }

  /** IVF-PQ composed ANN — the standard billion-vector layout (Jégou
    * et al. 2011 §IV; every production vector store's default),
    * completing the routing×scoring matrix this library builds up:
    * q37 ROUTES but scores raw vectors, q119 SCORES by PQ-ADC codes
    * but scans every code — this face does both: route each query to
    * its `nprobe` nearest coarse cells, ADC-score ONLY the codes of
    * vectors assigned to the probed cells, exact-cosine rerank of the
    * shortlist.
    *
    * Scale: the scan term drops from n codes per query (q119) to
    * n·nprobe/nlist — with stride-seeded cells (nlist ∝ n) that is a
    * CONSTANT per-cell budget × nprobe, the IVF argument; routing
    * costs O(n) dot products once per corpus (the IVF build, memoized
    * at the ANN-index layer in production; the [[assignToCentroids]]
    * table here) plus O(nq·nlist) for query probing. The recall
    * trade: a true neighbor assigned to an unprobed cell is invisible
    * — raise `nprobe` to buy recall (SimilaritySpec pins planted-dup
    * recall against q21's exact truth).
    *
    * Determinism is the family's: rounded-cosine routing with ties to
    * the lowest cell id, e4-integer ADC terms, (approx desc, sid)
    * shortlist, exact rounded-cosine rerank — every stage
    * DuckDB-replayable (q133). Output: (q_id, rank, vec_id, cos),
    * ≤ k rows per query. */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 3, m: Int = 4, codeStride: Int = 25,
      codeOffset: Int = 7, ivfStride: Int = 50, ivfOffset: Int = 11,
      rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = probeDim(embeddings, queries, vecCol, m)
    val e = embeddings.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val coarse = coarseCodebook(e, ivfStride, ivfOffset)
    // the IVF build: every corpus vector routed once (q37's argmax)
    val asn = assignToCentroids(
      e.select(col("sid").as("vec_id"), col("vec")), coarse)
      .select(col("vec_id").as("sid"), col("c_id"))
    val (codes, lut) = pqCodesAndLut(e, qv, dim, m, codeStride, codeOffset)
    ivfPqServe(e, qv, coarse, asn, codes, lut, k, nprobe, rerankFactor)
  }

  /** The query-side serve path shared by [[ivfPqTopK]] and
    * [[ivfPqIncrement]]: probe top-`nprobe` coarse cells per query,
    * ADC-score only codes assigned to probed cells, exact-cosine
    * rerank of the `k`·`rerankFactor` shortlist. */
  private def ivfPqServe(e: DataFrame, qv: DataFrame, coarse: DataFrame,
      asn: DataFrame, codes: DataFrame, lut: DataFrame, k: Int,
      nprobe: Int, rerankFactor: Int): DataFrame = {
    // query probing: top-nprobe cells by rounded cosine, ties low id
    val wProbe = Window.partitionBy("q_id")
      .orderBy(desc("gcos"), asc("c_id"))
    val probe = qv.join(broadcast(coarse))
      .withColumn("gcos", round(cosine(col("q_vec"), col("c_vec")), 4))
      .select(col("q_id"), col("c_id"), col("gcos"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select("q_id", "c_id")
    // ADC restricted to the probed cells — the composed win
    val cand = probe.join(asn, "c_id")
      .filter(col("sid") =!= col("q_id"))
      .select("q_id", "sid")
    val approx = cand.join(codes, "sid")
      .join(lut, Seq("q_id", "j", "code"))
      .groupBy("q_id", "sid")
      .agg(sum("term_e4").as("approx_e4"))
    val wShort = Window.partitionBy("q_id")
      .orderBy(desc("approx_e4"), asc("sid"))
    val short = approx.withColumn("c_rank", row_number().over(wShort))
      .filter(col("c_rank") <= k * rerankFactor)
      .select("q_id", "sid")
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    short.withColumnRenamed("sid", "vec_id")
      .join(e.select(col("sid").as("vec_id"), col("vec")), "vec_id")
      .join(qv, "q_id")
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Append-only IVF-PQ serving — the ANN-index INGESTION path of the
    * billion-vector layout, completing the incremental matrix for the
    * composed-index family: a batch of new vectors joins the landed
    * index WITHOUT re-touching the landed side. Both codebooks (coarse
    * IVF centroids, PQ subspace codewords) are LANDED artifacts —
    * drawn from the landed stride slices only, exactly the landed-
    * codebook principle every incremental cell here rests on — so a
    * batch vector's cell assignment and PQ code are pure functions of
    * (vector, landed index): batch-order-independent, idempotent on
    * retry, and the landed tables never recompute (memoized kinds
    * "ivfpq-asn"/"ivfpq-codes"; per batch the new work is
    * batch-rows × codebook, plus the query-side serve).
    *
    * The answer CONTRACT: identical to running the landed-codebook
    * index over the full landed∪batch corpus in one shot — the oracle
    * replays exactly that, so the hash match proves the
    * incrementality exact (no drift between the path a vector took in
    * and the index a query sees). A production deployment re-seeds
    * codebooks when the landed stride slice drifts from the data
    * distribution — that is a REBUILD decision (the q145 recall audit
    * is its dial), not part of the append path.
    *
    * Output: (q_id, rank, vec_id, cos) over landed∪batch, ≤ k rows
    * per query. */
  def ivfPqIncrement(landed: DataFrame, batch: DataFrame,
      queries: DataFrame, k: Int,
      nprobe: Int = 3, m: Int = 4, codeStride: Int = 25,
      codeOffset: Int = 7, ivfStride: Int = 50, ivfOffset: Int = 11,
      rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = probeDim(landed, queries, vecCol, m)
    val dsub = dim / m
    val le = landed.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val be = batch.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    // both codebooks are landed-side artifacts
    val coarse = coarseCodebook(le, ivfStride, ivfOffset)
    val cw = pqCodebook(le, m, dsub, codeStride, codeOffset)
    val bAsn = assignToCentroids(
      be.select(col("sid").as("vec_id"), col("vec")), coarse)
      .select(col("vec_id").as("sid"), col("c_id"))
    val bCodes = pqEncode(be, cw, m, dsub)
    val e = le.unionByName(be)
    ivfPqServe(e, qv, coarse,
      landedIvfPqAssignment(landed, ivfStride, ivfOffset, idCol, vecCol)
        .unionByName(bAsn),
      landedIvfPqCodes(landed, m, codeStride, codeOffset, idCol, vecCol)
        .unionByName(bCodes),
      pqLut(qv, cw, m, dsub), k, nprobe, rerankFactor)
  }

  /** Query-side IVF-PQ serving over the LANDED memoized index — the
    * face a retrieval system actually runs per query batch: both
    * codebooks derive from the landed corpus, the routed assignment
    * and PQ code tables are the memoized kinds
    * ([[landedIvfPqAssignment]] / [[landedIvfPqCodes]]) built once per
    * corpus, and a query batch pays only its own probe + ADC over the
    * probed cells + exact rerank of the shortlist. [[ivfPqTopK]]
    * computes the same answer but rebuilds assignment/codes in-plan —
    * the one-shot shape; this is the amortized one. At exhaustive
    * `nprobe`/`rerankFactor` the exact rerank covers every non-self
    * candidate, so ranks collapse to [[bruteForceTopK]]'s (same
    * 4-decimal rounding, same id tie-break) — the parity
    * HybridServedSpec pins. */
  def ivfPqTopKServed(landed: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 3, m: Int = 4, codeStride: Int = 25,
      codeOffset: Int = 7, ivfStride: Int = 50, ivfOffset: Int = 11,
      rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = probeDim(landed, queries, vecCol, m)
    val dsub = dim / m
    val le = landed.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val coarse = coarseCodebook(le, ivfStride, ivfOffset)
    val cw = pqCodebook(le, m, dsub, codeStride, codeOffset)
    ivfPqServe(le, qv, coarse,
      landedIvfPqAssignment(landed, ivfStride, ivfOffset, idCol, vecCol),
      landedIvfPqCodes(landed, m, codeStride, codeOffset, idCol, vecCol),
      pqLut(qv, cw, m, dsub), k, nprobe, rerankFactor)
  }

  /** Landed IVF cell assignment (memoized kind "ivfpq-asn") — every
    * landed vector routed once to its landed-stride coarse centroid;
    * [[ivfPqIncrement]] unions each batch's routing onto this. */
  def landedIvfPqAssignment(landed: DataFrame, ivfStride: Int = 50,
      ivfOffset: Int = 11, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(landed, "ivfpq-asn", ivfStride, ivfOffset,
        idCol, vecCol), {
        val le = landed.select(col(idCol).as("sid"), col(vecCol).as("vec"))
        assignToCentroids(
          le.select(col("sid").as("vec_id"), col("vec")),
          coarseCodebook(le, ivfStride, ivfOffset))
          .select(col("vec_id").as("sid"), col("c_id"))
      })

  /** Landed PQ code table (memoized kind "ivfpq-codes") — every landed
    * vector encoded once against the landed codebook. */
  def landedIvfPqCodes(landed: DataFrame, m: Int = 4,
      codeStride: Int = 25, codeOffset: Int = 7,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(landed, "ivfpq-codes", m, codeStride, codeOffset,
        idCol, vecCol), {
        val dim = probeDim(landed, landed, vecCol, m)
        val dsub = dim / m
        val le = landed.select(col(idCol).as("sid"), col(vecCol).as("vec"))
        pqEncode(le, pqCodebook(le, m, dsub, codeStride, codeOffset),
          m, dsub)
      })

  /** Absorb an ADMITTED batch's vectors into the landed IVF-PQ SERVING
    * kinds under the FROZEN landed codebooks — the ANN-serving cell of
    * the absorb family ([[graft.dedup.Dedup.absorbBatch]]): seeds
    * "ivfpq-asn" and "ivfpq-codes" for the GROWN corpus (`landed2Emb`,
    * the frame the next [[ivfPqTopKServed]] / [[graft.curation.Curation.hybridRrfTopKServed]]
    * call receives) as plain appends — each batch vector's cell
    * assignment and PQ code are pure functions of (vector, frozen
    * codebooks), so the union is byte-identical to the one-shot
    * [[landedIvfPqAssignment]]/[[landedIvfPqCodes]] build over
    * landed ∪ admitted.
    *
    * That identity NEEDS the frozen-codebook contract on BOTH stride
    * families (the same loud requirement as [[absorbSemantic2L]]'s):
    * an admitted id on the coarse-centroid stride (`% ivfStride ==
    * ivfOffset`) or the PQ-codeword stride (`% codeStride ==
    * codeOffset`) would grow a codebook and silently re-route /
    * re-code every landed vector — REFUSED with
    * [[CodebookStrideRefusal]] (the streaming face converts the
    * refusal to compaction; a batch pipeline rebuilds the landed
    * index). The serve faces recompute codebooks in-plan from the
    * grown corpus's stride slices, which under this contract are the
    * landed slices verbatim — so a serve over the seeded kinds is
    * consistent by construction, never by luck. */
  def absorbIvfPq(landedEmb: DataFrame, admittedEmb: DataFrame,
      landed2Emb: DataFrame, m: Int = 4, codeStride: Int = 25,
      codeOffset: Int = 7, ivfStride: Int = 50, ivfOffset: Int = 11,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probe: Boolean = true): Unit = {
    val iv = admittedEmb.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    // eager refusal probe BEFORE any seed (the stream converts the
    // refusal to compaction, so no grown-corpus entry may exist when
    // it throws); one short-circuiting job over the batch-sized frame.
    // `probe = false` only under absorbBatch's combined pre-probe.
    if (probe && !iv.filter(
        pmod(col("sid"), lit(ivfStride.toLong)) === ivfOffset ||
          pmod(col("sid"), lit(codeStride.toLong)) === codeOffset)
        .isEmpty)
      throw new CodebookStrideRefusal(
        s"absorbIvfPq: admitted batch contains codebook-stride ids " +
          s"(id % $ivfStride == $ivfOffset or id % $codeStride == " +
          s"$codeOffset) — the frozen-codebook append contract requires " +
          "fresh ids off the centroid/codeword strides; rebuild the " +
          "landed index instead (the q193 release path)")
    val dim = probeDimMemo(landedEmb, landedEmb, vecCol, m)
    val dsub = dim / m
    val le = landedEmb.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val coarse = coarseCodebook(le, ivfStride, ivfOffset)
    val cw = pqCodebook(le, m, dsub, codeStride, codeOffset)
    val bAsn = assignToCentroids(
      iv.select(col("sid").as("vec_id"), col("vec")), coarse)
      .select(col("vec_id").as("sid"), col("c_id"))
    val bCodes = pqEncode(iv, cw, m, dsub)
    CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Emb, "ivfpq-asn", ivfStride, ivfOffset,
        idCol, vecCol),
      landedIvfPqAssignment(landedEmb, ivfStride, ivfOffset, idCol, vecCol)
        .unionByName(bAsn))
    CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Emb, "ivfpq-codes", m, codeStride,
        codeOffset, idCol, vecCol),
      landedIvfPqCodes(landedEmb, m, codeStride, codeOffset, idCol, vecCol)
        .unionByName(bCodes))
    ()
  }

  /** RETRACT deleted vectors from the landed two-level semantic
    * artifacts — the semantic cell of the retract family
    * ([[graft.dedup.Dedup.retractBatch]], the right-to-be-forgotten
    * inverse of absorb): seeds "vec-lookup", "sem-cells-2l" and
    * "sem-assign-2l" for the KEPT corpus (`kept2Emb`) as anti-joins of
    * the memoized landed artifacts against the (broadcast-sized)
    * delete set — per-vector rows leave, nothing re-encodes, no
    * landed re-scan.
    *
    * The frozen-codebook contract applies in REVERSE: a deleted id on
    * the centroid stride would SHRINK the codebook and re-route every
    * kept vector — REFUSED with [[CodebookStrideRefusal]] (deleting a
    * centroid is a rebuild, the q193 release path). The `% fineStride`
    * check covers the coarse stride too (coarse = fineStride ×
    * coarseFactor at the same offset, so a coarse id is a fine id). */
  def retractSemantic2L(landedEmb: DataFrame, deleteIds: DataFrame,
      kept2Emb: DataFrame, fineStride: Int = 25, fineOffset: Int = 7,
      coarseFactor: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", probe: Boolean = true): Unit = {
    val del = deleteIds.select(col(deleteIds.columns.head).as("sid"))
    // `probe = false` only under retractBatch's combined pre-probe
    if (probe &&
        !del.filter(pmod(col("sid"), lit(fineStride.toLong)) === fineOffset)
          .isEmpty)
      throw new CodebookStrideRefusal(
        s"retractSemantic2L: delete set contains codebook-stride ids " +
          s"(id % $fineStride == $fineOffset) — deleting a centroid " +
          "shrinks the frozen codebook and re-routes every kept vector; " +
          "rebuild the landed index instead")
    val lv = landedVecLookup(landedEmb, idCol, vecCol)
    // seedLazy across the retract cells for the same reason as absorb:
    // the anti-join reads the persisted landed kind; persisting it
    // would re-cache a corpus-scale copy per retracted batch
    CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Emb, "vec-lookup", idCol, vecCol),
      lv.join(broadcast(del), Seq("sid"), "left_anti"))
    val cells = landedTwoLevelCells(landedEmb, fineStride, fineOffset,
      coarseFactor, idCol, vecCol)
    // codebook frozen → the kept corpus's cell table is the landed one
    // verbatim; detached copy, as across the absorb family
    CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Emb, "sem-cells-2l", fineStride, fineOffset,
        coarseFactor, idCol, vecCol),
      cells.select(cells.columns.map(col).toIndexedSeq: _*))
    CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Emb, "sem-assign-2l", fineStride, fineOffset,
        coarseFactor, idCol, vecCol),
      landedSemanticAssignment2L(landedEmb, fineStride, fineOffset,
        coarseFactor, idCol, vecCol)
        .join(broadcast(del.select(col("sid").as("vec_id"))),
          Seq("vec_id"), "left_anti"))
    ()
  }

  /** RETRACT deleted vectors from the landed IVF-PQ serving kinds —
    * the ANN-serving cell of the retract family: "ivfpq-asn" and
    * "ivfpq-codes" for the KEPT corpus are anti-joins of the memoized
    * landed tables (per-vector rows; nothing re-routes or re-encodes).
    * Refuses deletes on EITHER codebook stride, as [[absorbIvfPq]]
    * refuses appends on them — the serve faces recompute codebooks
    * in-plan from the kept corpus's stride slices, which under this
    * contract are the landed slices verbatim. */
  def retractIvfPq(landedEmb: DataFrame, deleteIds: DataFrame,
      kept2Emb: DataFrame, m: Int = 4, codeStride: Int = 25,
      codeOffset: Int = 7, ivfStride: Int = 50, ivfOffset: Int = 11,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probe: Boolean = true): Unit = {
    val del = deleteIds.select(col(deleteIds.columns.head).as("sid"))
    // `probe = false` only under retractBatch's combined pre-probe
    if (probe && !del.filter(
        pmod(col("sid"), lit(ivfStride.toLong)) === ivfOffset ||
          pmod(col("sid"), lit(codeStride.toLong)) === codeOffset)
        .isEmpty)
      throw new CodebookStrideRefusal(
        s"retractIvfPq: delete set contains codebook-stride ids " +
          s"(id % $ivfStride == $ivfOffset or id % $codeStride == " +
          s"$codeOffset) — deleting a centroid/codeword shrinks the " +
          "frozen codebooks; rebuild the landed index instead " +
          "(the q193 release path)")
    CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Emb, "ivfpq-asn", ivfStride, ivfOffset,
        idCol, vecCol),
      landedIvfPqAssignment(landedEmb, ivfStride, ivfOffset, idCol, vecCol)
        .join(broadcast(del), Seq("sid"), "left_anti"))
    CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Emb, "ivfpq-codes", m, codeStride,
        codeOffset, idCol, vecCol),
      landedIvfPqCodes(landedEmb, m, codeStride, codeOffset, idCol, vecCol)
        .join(broadcast(del), Seq("sid"), "left_anti"))
    ()
  }

  /** REBUILD + ATOMIC SWAP of an IVF-PQ release — the lifecycle step
    * the q160 drift alarm points at: when the frozen landed codebooks
    * have drifted from the grown corpus (append-only ingest adds
    * vectors the old centroids quantize poorly), rebuild BOTH
    * codebooks from the grown corpus's stride slices, re-route and
    * re-encode every vector, and publish the result as a RELEASE —
    * q188's caller-owned-releaseId pin idiom applied to ANN artifacts
    * (kind "ann-release", a one-row parameter record that persists
    * through the IndexStore like any landed index; the key embeds the
    * caller's `releaseId`, never a consulted artifact's fingerprint).
    *
    * SWAP ORDER IS THE ATOMICITY: the routed assignment and code
    * tables are registered (and IndexStore-saved) BEFORE the pin, so
    * any reader that can resolve the pin always finds its artifacts —
    * a crashed rebuild leaves the old release intact and consultable.
    * Serving switches releases by changing the `releaseId` it passes
    * to [[ivfPqTopKReleased]]; old releases stay consultable until
    * their pins are dropped. Returns the pin frame. */
  def rebuildIvfPqRelease(corpus: DataFrame, releaseId: String,
      ivfStride: Int = 50, ivfOffset: Int = 11, m: Int = 4,
      codeStride: Int = 25, codeOffset: Int = 7,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // a release is IMMUTABLE: the pin key embeds the releaseId but not
    // the codebook parameters (serving looks releases up by name), so
    // re-publishing an existing name with different parameters would
    // silently keep serving the old codebooks — fail loudly instead
    // (re-publishing with IDENTICAL parameters is an idempotent no-op,
    // the crash-retry shape). Review finding.
    val key = CacheRegistry.key(corpus, "ann-release", idCol, vecCol,
      releaseId)
    CacheRegistry.entries.get(key).foreach { pin =>
      val p = pin.select("ivf_stride", "ivf_offset", "m", "code_stride",
        "code_offset").collect()(0)
      require(p.getAs[Int]("ivf_stride") == ivfStride &&
          p.getAs[Int]("ivf_offset") == ivfOffset &&
          p.getAs[Int]("m") == m &&
          p.getAs[Int]("code_stride") == codeStride &&
          p.getAs[Int]("code_offset") == codeOffset,
        s"rebuildIvfPqRelease: release '$releaseId' is already published " +
          "with different codebook parameters — releases are immutable; " +
          "publish the rebuild under a new releaseId and switch serving")
    }
    // artifacts FIRST (registered under the grown corpus's keys; the
    // builds are the memoized landed-index kinds, so a rebuild whose
    // parameters match an index-phase entry reuses it), pin LAST
    landedIvfPqAssignment(corpus, ivfStride, ivfOffset, idCol, vecCol)
    landedIvfPqCodes(corpus, m, codeStride, codeOffset, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    CacheRegistry.cache(key,
      Seq((releaseId, ivfStride, ivfOffset, m, codeStride, codeOffset))
        .toDF("release_id", "ivf_stride", "ivf_offset", "m",
          "code_stride", "code_offset"))
  }

  /** Serve top-k from a PUBLISHED release: consult the `releaseId`
    * pin ([[rebuildIvfPqRelease]]) for the codebook parameters, then
    * run the served probe/ADC/rerank path ([[ivfPqTopKServed]]) over
    * that release's memoized artifacts. The pin consult is a one-row
    * collect (bounded by construction). Throws if the release was
    * never published — serving from a half-built release is exactly
    * what the pin-last swap order makes impossible. */
  def ivfPqTopKReleased(corpus: DataFrame, queries: DataFrame, k: Int,
      releaseId: String, nprobe: Int = 3, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val key = CacheRegistry.key(corpus, "ann-release", idCol, vecCol,
      releaseId)
    val pin = CacheRegistry.entries.getOrElse(key,
      throw new IllegalStateException(
        s"ivfPqTopKReleased: no ann-release pin for '$releaseId' over " +
          "this corpus — rebuildIvfPqRelease publishes one (artifacts " +
          "first, pin last)"))
    val p = pin.select("ivf_stride", "ivf_offset", "m", "code_stride",
      "code_offset").collect()(0)
    ivfPqTopKServed(corpus, queries, k, nprobe = nprobe,
      m = p.getAs[Int]("m"), codeStride = p.getAs[Int]("code_stride"),
      codeOffset = p.getAs[Int]("code_offset"),
      ivfStride = p.getAs[Int]("ivf_stride"),
      ivfOffset = p.getAs[Int]("ivf_offset"),
      rerankFactor = rerankFactor, idCol = idCol, vecCol = vecCol)
  }

  /** Rank-position discount LUT for [[servedNdcg]]: e6-rounded
    * 1/log2(r+1), the one float per rank, frozen to an integer ONCE so
    * Spark and the oracle multiply identical constants (the σ-e6
    * device applied to ranking discounts). */
  def ndcgDiscountsE6(k: Int): Seq[(Int, Long)] =
    (1 to k).map(r =>
      r -> math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** nDCG@k of the SERVED ranking ([[ivfPqTopK]]) against the exact
    * ideal ([[bruteForceTopK]]) — the ranking-quality dial recall@k
    * cannot express: recall counts set membership, nDCG prices WHERE
    * a true neighbor landed (a hit demoted from rank 1 to rank 5
    * costs 1 − disc(5)/disc(1) of its gain). Together with q145 this
    * completes the serving audit: recall prices the candidate set,
    * nDCG the delivered order.
    *
    * Exactness: gains are the e4-rounded EXACT cosines (the rerank
    * scorer's own output) shifted +1e4 to be non-negative (cosine
    * spans [−1, 1]; an unshifted negative gain would reward MISSING a
    * weakly-relevant true neighbor); discounts come from
    * [[ndcgDiscountsE6]] so every product is integer. A query the
    * index serves nothing for scores dcg = 0, and idcg = 0 (no
    * corpus neighbor at all) yields NULL rather than 0/0.
    *
    * Scale: two k-row-per-query frames joined to a broadcast k-row
    * LUT and folded per query — the audit's cost IS the served+exact
    * passes it grades (run it on the query SAMPLE, q145's sizing
    * lever). Output: (q_id, dcg, idcg, ndcg_ppm). */
  def servedNdcg(embeddings: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 3, m: Int = 4, codeStride: Int = 25,
      codeOffset: Int = 7, ivfStride: Int = 50, ivfOffset: Int = 11,
      rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val disc = ndcgDiscountsE6(k).toDF("rank", "disc_e6")
    def dcgOf(df: DataFrame, out: String): DataFrame =
      df.join(broadcast(disc), "rank")
        .withColumn("gain",
          round(col("cos") * 10000).cast("long") + lit(10000L))
        .groupBy("q_id").agg(sum(col("gain") * col("disc_e6")).as(out))
    val served = ivfPqTopK(embeddings, queries, k, nprobe, m, codeStride,
      codeOffset, ivfStride, ivfOffset, rerankFactor, idCol, vecCol)
    val ideal = bruteForceTopK(embeddings, queries, k, idCol, vecCol)
    dcgOf(ideal, "idcg").join(dcgOf(served, "dcg"), Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("dcg"), lit(0L)).as("dcg"),
        col("idcg"),
        expr("""CASE WHEN idcg > 0 THEN
                  coalesce(dcg, CAST(0 AS BIGINT)) * 1000000 div idcg
                END""").as("ndcg_ppm"))
  }

  /** Embedding-table health gate — the QA report run BEFORE any ANN
    * index build or semantic pass trusts a vector column: how many
    * rows are null / contain a non-finite element / have exactly zero
    * norm (all-zero vectors poison cosine math with 0/0), do all rows
    * agree on dimensionality (min_dim = max_dim or the table is
    * corrupt), and the e4-integer norm profile (min/max/sum — mean =
    * sum div n at the consumer). Every output is an exact integer:
    * norms e4-rounded per row (the assignment family's own device)
    * then folded by order-independent integer min/max/sum; the
    * bad-element test is the single predicate `x IS NULL ∨
    * ¬(|x| ≤ 3.4e38)`, which catches NULL holes, NaN (all comparisons
    * false) and ±Inf with one expression both engines evaluate
    * identically — a [1.0, NULL] vector is a caught pathology, not a
    * silently unprofiled row.
    *
    * Scale: ONE projection-only scan folded to one row — no shuffle
    * beyond the final single-row aggregate; runs ahead of every index
    * build at any corpus size. Output: (n_rows, n_null, n_nonfinite,
    * n_zero_norm, min_dim, max_dim, min_norm_e4, max_norm_e4,
    * sum_norm_e4); the dim/norm stats cover healthy rows only (null /
    * non-finite rows are counted, not profiled). */
  def embeddingHealthReport(embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val bad = exists(v,
      x => x.isNull || !(abs(x.cast("double")) <= lit(3.4e38)))
    val healthy = v.isNotNull && !bad
    val normE4 = round(norm(v) * 10000).cast("long")
    embeddings.select(v.isNull.as("isnull"),
        coalesce(bad, lit(false)).as("bad"),
        when(healthy, size(v)).as("dim"),
        when(healthy, normE4).as("ne4"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("isnull"), 1L).otherwise(0L)).as("n_null"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("ne4") === 0L, 1L).otherwise(0L)).as("n_zero_norm"),
        min("dim").cast("long").as("min_dim"),
        max("dim").cast("long").as("max_dim"),
        min("ne4").as("min_norm_e4"), max("ne4").as("max_norm_e4"),
        sum("ne4").as("sum_norm_e4"))
  }

  /** Codebook-staleness drift audit — the REBUILD dial the append-only
    * serving path ([[ivfPqIncrement]]) defers to: how well does the
    * LANDED coarse codebook quantize an incoming batch, relative to
    * how well it quantizes the landed corpus it was drawn from?
    * Residual = 1e4 − the assignment's own best e4 cosine, so
    * `drift_ppm` = (batch mean residual)/(landed mean residual) in
    * ppm: 1e6 means the batch quantizes exactly as well as the
    * codebook's own training data; a sustained climb means the
    * stride-seeded codebook no longer covers the incoming
    * distribution, and the owner schedules a codebook REBUILD (then
    * re-prices the rebuilt index with [[ivfPqRecall]]). q158 keeps the
    * append path exact under a FIXED codebook; this is the monitor
    * that says when "fixed" has become "stale".
    *
    * Exactness: residuals are non-negative integers (cosine e4-rounded
    * by the assignment itself, shifted from 1e4), the ratio of means
    * is ONE cross-multiplied truncating division with DECIMAL(38,0)-
    * widened products — no intermediate mean is ever divided, so 1e9
    * vectors cannot wrap and both engines agree bit-for-bit.
    *
    * Scale: two corpus × broadcast-codebook assignment passes (the q37
    * cost shape already on record) folded to two rows; the one-row
    * landed total rides a tiny broadcast cross join. Output:
    * (grp ∈ {landed, batch}, n, mean_res_e4, max_res_e4, drift_ppm)
    * with drift_ppm only on the batch row (NULL when the landed
    * residual sum is zero — a codebook that memorized its corpus
    * yields no denominator). */
  def codebookDrift(landed: DataFrame, batch: DataFrame,
      ivfStride: Int = 50, ivfOffset: Int = 11,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val be = batch.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val le = landed.select(col(idCol).as("sid"), col(vecCol).as("vec"))
    val coarse = le.filter(pmod(col("sid"), lit(ivfStride)) === ivfOffset)
      .select(col("sid").as("c_id"), col("vec").as("c_vec"))
    val lFold = landedDriftFold(landed, ivfStride, ivfOffset, idCol,
      vecCol)
    val bFold = driftResiduals(be, coarse, "batch")
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("res").as("sum_res"),
        max("res").as("max_res_e4"))
    val folded = lFold.unionByName(bFold)
    val landedRow = lFold
      .select(col("n").as("ln"), col("sum_res").as("ls"))
    folded.crossJoin(broadcast(landedRow))
      .select(col("grp"), col("n"),
        expr("sum_res div n").as("mean_res_e4"),
        col("max_res_e4"),
        expr("""CASE WHEN grp = 'batch' AND ls > 0 THEN
                  CAST(CAST(sum_res AS DECIMAL(38,0)) * ln * 1000000
                       div (CAST(ls AS DECIMAL(38,0)) * n) AS BIGINT)
                END""").as("drift_ppm"))
  }

  private def driftResiduals(df: DataFrame, coarse: DataFrame,
      grp: String): DataFrame =
    df.join(broadcast(coarse))
      .withColumn("cos", round(cosine(col("vec"), col("c_vec")), 4))
      .groupBy("sid").agg(max("cos").as("best"))
      .select(lit(grp).as("grp"),
        (lit(10000L) - round(col("best") * 10000).cast("long")).as("res"))

  /** The landed corpus's memoized DRIFT BASELINE (kind
    * "drift-landed-res"): one row — how well the landed coarse
    * codebook quantizes its own training corpus, folded to
    * (grp='landed', n, sum_res, max_res_e4). A property of (landed
    * corpus, codebook), computed once: without this every
    * [[codebookDrift]] / [[driftRebuildPolicy]] invocation re-paid a
    * full landed-corpus assignment pass for a denominator that never
    * changes between rebuilds (round-18 review finding). */
  def landedDriftFold(landed: DataFrame, ivfStride: Int = 50,
      ivfOffset: Int = 11, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(landed, "drift-landed-res", ivfStride, ivfOffset,
        idCol, vecCol), {
        val le = landed.select(col(idCol).as("sid"), col(vecCol).as("vec"))
        val coarse = le.filter(
            pmod(col("sid"), lit(ivfStride)) === ivfOffset)
          .select(col("sid").as("c_id"), col("vec").as("c_vec"))
        driftResiduals(le, coarse, "landed")
          .groupBy("grp")
          .agg(count(lit(1)).as("n"), sum("res").as("sum_res"),
            max("res").as("max_res_e4"))
      })

  /** Drift-triggered REBUILD POLICY — the control loop that connects
    * the q160 staleness alarm to the q193 rebuild, so "schedule a
    * codebook rebuild" is an operator, not a human reading a
    * dashboard. Per invocation:
    *
    *  1. *measure*: [[codebookDrift]] over (landed, batch) — how much
    *     worse does the frozen landed coarse codebook quantize the
    *     batch than its own training corpus;
    *  2. *decide*: trip iff `drift_ppm > maxDriftPpm`; a NULL drift
    *     (the landed residual sum is zero — a codebook that memorized
    *     its corpus has no denominator) trips iff the batch has ANY
    *     positive residual (`max_res_e4 > 0`: strictly worse than the
    *     memorizing codebook's zero) — the policy is total;
    *  3. *act*: tripped → [[rebuildIvfPqRelease]] over `grown` (the
    *     caller's landed ∪ batch frame — passed explicitly so a
    *     deployment's canonical corpus frame keys the release
    *     artifacts, the q193 idiom) and serve the queries through the
    *     published pin ([[ivfPqTopKReleased]]); not tripped → serve
    *     through the frozen-codebook append path ([[ivfPqIncrement]],
    *     q158's exact contract) and publish NOTHING.
    *
    * The decision scalar is a one-row collect (bounded by
    * construction, the pin-consult shape). Output: (action ∈ {keep,
    * rebuild}, drift_ppm — the measured value, NULL-able, constant
    * across rows, so the decision evidence rides in the answer —
    * q_id, rnk, vec_id, cos). The q197 oracle replays measure +
    * decide + BOTH serve chains in SQL and selects the branch the
    * decision picks — policy and consequence hash-checked together. */
  def driftRebuildPolicy(landed: DataFrame, batch: DataFrame,
      grown: DataFrame, queries: DataFrame, releaseId: String,
      maxDriftPpm: Long, k: Int = 5, nprobe: Int = 3, m: Int = 4,
      codeStride: Int = 25, codeOffset: Int = 7, ivfStride: Int = 50,
      ivfOffset: Int = 11, rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // one-row bounded collect (the pin-consult shape); an EMPTY batch
    // contributes no batch row — no evidence, no rebuild (keep)
    val d = codebookDrift(landed, batch, ivfStride, ivfOffset, idCol,
        vecCol)
      .filter(col("grp") === "batch")
      .select("drift_ppm", "max_res_e4").collect().headOption
    val driftPpm = d.filter(!_.isNullAt(0)).map(_.getLong(0))
    val trip = d.exists { r =>
      driftPpm match {
        case Some(p) => p > maxDriftPpm
        case None => r.getLong(1) > 0
      }
    }
    val served =
      if (trip) {
        rebuildIvfPqRelease(grown, releaseId, ivfStride, ivfOffset, m,
          codeStride, codeOffset, idCol, vecCol)
        ivfPqTopKReleased(grown, queries, k, releaseId, nprobe,
          rerankFactor, idCol, vecCol)
      } else
        ivfPqIncrement(landed, batch, queries, k, nprobe, m, codeStride,
          codeOffset, ivfStride, ivfOffset, rerankFactor, idCol, vecCol)
    served.select(
      lit(if (trip) "rebuild" else "keep").as("action"),
      driftPpm.map(lit(_)).getOrElse(lit(null)).cast("long")
        .as("drift_ppm"),
      col("q_id"), col("rank").as("rnk"), col("vec_id"), col("cos"))
  }

  /** Recall@k audit for [[ivfPqTopK]] — the tuning report the
    * billion-vector layout needs before anyone trusts it: for each
    * (nprobe, rerankFactor) configuration, how much of the EXACT top-k
    * ([[bruteForceTopK]], q21's truth) the composed route-ADC-rerank
    * path recovers, pooled over all queries as integer ppm. nprobe
    * prices routing loss (the true neighbor lives in an unprobed
    * cell); rerankFactor prices ADC shortlist loss (the true neighbor
    * is probed but quantization ranks it below the cut) — the two
    * dials move independently, so the report separates them where a
    * single recall number cannot (the q98/q101 pattern applied to the
    * composed index).
    *
    * Scale: the truth is one broadcast-queries exact pass (an audit
    * runs on a SAMPLE of queries — the queries frame is the sizing
    * lever); each config adds the ivf-pq pipeline restricted to its
    * probe width plus a pair-keyed left join and a two-long fold.
    * Configs share the corpus-side stages semantically (codes and
    * cell assignments are config-independent) — memoize them
    * registry-side when auditing many configs at scale.
    *
    * Output: (nprobe, rerank_factor, n_true, n_found, recall_ppm),
    * one row per configuration. */
  def ivfPqRecall(embeddings: DataFrame, queries: DataFrame, k: Int,
      configs: Seq[(Int, Int)] = Seq((1, 4), (2, 4), (4, 4), (2, 1)),
      m: Int = 4, codeStride: Int = 25, codeOffset: Int = 7,
      ivfStride: Int = 50, ivfOffset: Int = 11,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(configs.nonEmpty, "at least one (nprobe, rerankFactor) config")
    val truth = bruteForceTopK(embeddings, queries, k, idCol, vecCol)
      .select(col("q_id"), col("vec_id"))
    configs.map { case (np, rf) =>
      val got = ivfPqTopK(embeddings, queries, k, nprobe = np, m = m,
          codeStride = codeStride, codeOffset = codeOffset,
          ivfStride = ivfStride, ivfOffset = ivfOffset,
          rerankFactor = rf, idCol = idCol, vecCol = vecCol)
        .select(col("q_id"), col("vec_id"))
        .withColumn("__hit", lit(1L))
      truth.join(got, Seq("q_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
        .select(lit(np).as("nprobe"), lit(rf).as("rerank_factor"),
          col("n_true"), col("n_found"),
          expr("n_found * 1000000 div n_true").as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Nearest-centroid classification over labeled embeddings — the
    * standard embedding-space sanity check (how separable are the
    * labels?) and the evaluation face of the IVF machinery. Centroids
    * are per-(label, dim) SUMS of micro-unit-quantized components, not
    * means: cosine is scale-invariant, so the sum vector IS the centroid
    * direction, and skipping the division keeps every centroid component
    * an exact integer (quantize: `floor(x·1e6 + 0.5)` — sums stay well
    * under 2^53, so both engines' doubles hold them exactly; a float
    * mean would be reduction-order-dependent and never oracle-stable).
    * One shuffle of (label, dim, value) triples builds the centroids;
    * scoring is a broadcast nested-loop over |labels| rows fused into
    * the scan, ties broken toward the lower label. Output: the confusion
    * matrix (label, assigned, n). */
  def nearestCentroidConfusion(embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q6 = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1e6) + lit(0.5)))
    val cent = embeddings
      .select(col(labelCol).as("c_label"), posexplode(q6).as(Seq("pos", "v")))
      .groupBy("c_label", "pos")
      .agg(sum(col("v")).as("s"))
      .groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("c_vec"))
    // cosineHof: double-space sequential dot/norms — the same operation
    // stream DuckDB's list_dot_product runs, so scores are bit-identical
    // (every product of micro-unit ints is < 2^53, hence exact)
    val scored = embeddings
      .select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        q6.as("qv"))
      .join(broadcast(cent))
      .withColumn("cos", round(cosineHof(col("qv"), col("c_vec")), 4))
      .groupBy("vec_id", "label")
      .agg(max_by(col("c_label"), struct(col("cos"), -col("c_label")))
        .as("assigned"))
    scored.groupBy("label", "assigned")
      .agg(count(lit(1)).as("n"))
  }

  /** Cluster-cohesion report over the labeled embeddings — the "are my
    * labels clean" check run before training on them: per label, the
    * mean cosine of its members to their OWN centroid (cohesion) vs to
    * the best OTHER centroid (separation), and the margin between the
    * two. A label whose margin approaches zero is blending into a
    * neighbor — the per-cluster rendering of a silhouette score, built
    * from the same integer-micro-unit centroids as
    * [[nearestCentroidConfusion]] (float centroid means are
    * reduction-order-dependent; integer sums are not — and cosine's
    * scale invariance makes the division unnecessary). Per-vector
    * scores are quantized to 1e-6 before the per-label integer sum, so
    * every aggregate is engine-exact (the q55/q71 device). Scale shape:
    * one (label, dim) shuffle for centroids + a broadcast of |labels|
    * centroid rows scored in-scan — no all-pairs anywhere.
    * Output: (label, n, sum_self_e6, sum_other_e6, avg_self,
    * avg_other, margin). */
  def clusterCohesion(embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q6 = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1e6) + lit(0.5)))
    val cent = embeddings
      .select(col(labelCol).as("c_label"), posexplode(q6).as(Seq("pos", "v")))
      .groupBy("c_label", "pos")
      .agg(sum(col("v")).as("s"))
      .groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("c_vec"))
    val perVec = embeddings
      .select(col(idCol).as("vec_id"), col(labelCol).as("label"), q6.as("qv"))
      .join(broadcast(cent))
      .withColumn("s_e6",
        round(cosineHof(col("qv"), col("c_vec")) * lit(1000000)).cast("long"))
      .groupBy("vec_id", "label")
      .agg(
        max(when(col("c_label") === col("label"), col("s_e6"))).as("self_e6"),
        max(when(col("c_label") =!= col("label"), col("s_e6"))).as("other_e6"))
    perVec.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum("self_e6").as("sum_self_e6"),
        sum("other_e6").as("sum_other_e6"))
      .withColumn("avg_self", col("sum_self_e6") / lit(1000000.0) / col("n"))
      .withColumn("avg_other", col("sum_other_e6") / lit(1000000.0) / col("n"))
      .withColumn("margin", col("avg_self") - col("avg_other"))
  }

  /** Approximate top-k: exact cosine rank over the LSH candidate set
    * (corpus vectors sharing ≥1 (band, bucket) with the query). Sub-
    * quadratic: candidate generation is a (band, bucket) equi-join, and
    * each query scores only its collisions instead of the corpus — at
    * bitsPerBand ≈ log2(n) that is O(bands·n) expected scored pairs for n
    * queries, vs O(n²) brute force. Queries with fewer than k collisions
    * return fewer rows (no brute-force fallback — at scale the fallback
    * IS the problem); recall rises with `bands` (measured in
    * SimilaritySpec: > 0.9 for near-duplicate neighbors at 4×8). */
  def lshTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      bands: Int, bitsPerBand: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = bandedTable(embeddings, bands, bitsPerBand, idCol, vecCol)
    val qb = bandedTable(queries, bands, bitsPerBand, idCol, vecCol)
    val cand = qb.select(col("sid").as("q_id"), col("band"), col("bucket"))
      .join(cb.select(col("sid").as("vec_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").distinct()
    val v = embeddings.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))
    // no broadcast hint on qv: like ivfTopKWith, the query set is
    // user-sized and can be a large fraction of the corpus — AQE
    // broadcasts it when it fits, shuffles otherwise.
    cand
      .join(v, "vec_id")
      .join(qv, "q_id")
      .withColumn("cos", round(cosine(col("vec"), col("q_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos")
  }

  /** Per-dimension moment sums over an embedding corpus — the
    * normalization statistics (mean/variance per dimension) every
    * embedding pipeline computes before whitening, PCA, or drift
    * monitoring, shipped as EXACT integers: components quantize to
    * micro-units (`floor(x·1e6 + 0.5)`, the house device) and the
    * per-dimension Σx and Σx² are integer sums — order-independent
    * under any partitioning, so a 100 TB run, its retry, and the SQL
    * oracle agree bit for bit.
    *
    * The squared sums are accumulated in DECIMAL(38,0) — Σx² grows as
    * rows × 1e12 and would wrap BIGINT past ~9.2 M rows per dimension —
    * and surface as DOUBLE (both engines emit the correctly-rounded
    * double of the same exact decimal; a DECIMAL output column would
    * hash-mismatch on rendering, per the house rule). The mean/variance
    * divisions are left to the consumer: Σx can be negative and Spark's
    * `div` truncates where DuckDB's `//` floors.
    *
    * Scale: one scan; the explode fans each row into `dim` narrow
    * (pos, x_e6) pairs and the aggregate is map-side combined down to
    * `dim` rows before the only shuffle. Output: (pos, n, sum_e6,
    * sumsq_e12), ordered by dimension. */
  def embeddingDimStats(embeddings: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("pos"),
        floor(col("x").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("x_e6"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("x_e6")).as("sum_e6"),
        sum(col("x_e6").cast("decimal(38,0)") * col("x_e6"))
          .cast("double").as("sumsq_e12"))

  /** The quantized (row, dim, value) triples every power-iteration
    * stage reads: micro-unit integers via the corpus-standard
    * `floor(x·1e6 + 0.5)` device (q96's quantizer). */
  private def microTriples(embeddings: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    embeddings
      .select(col(idCol).as("rid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("rid"), col("pos"),
        floor(col("x").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("x_e6"))

  /** Deterministic power iteration for the TOP principal direction of
    * the embeddings' (uncentered) second-moment matrix A = Σ xxᵀ —
    * the transform [[embeddingDimStats]]'s moments point at but don't
    * compute: `iters` synchronous rounds of y = A·v from the all-ones
    * micro-unit start, entirely in exact integers so both engines
    * replay the identical trajectory (the q141/q80 fixed-point
    * contract). Uncentered on purpose: for the cosine-normalized
    * embeddings this engine indexes, direction — not offset — carries
    * the signal, and skipping the mean subtraction keeps every stage a
    * plain integer aggregate (centering would force a negative-operand
    * division, where Spark's `div` truncates and DuckDB's `//` floors).
    *
    * Each round, distributed as two keyed aggregates (never a d×d
    * matrix materialization — A is only ever applied):
    *
    *   s_i = Σ_j x_ij·v_j    (row-keyed sum — BIGINT-exact: micro-unit
    *                          products ≤ 1e12·d)
    *   y_j = Σ_i x_ij·s_i    (dim-keyed DECIMAL(38,0) sum — corpus-
    *                          scale magnitudes cannot wrap)
    *
    * then renormalize to max |component| = 1e6 with the sign-safe
    * `sign(y)·(|y|·1e6 div max|y|)` (non-negative numerator: trunc ≡
    * floor in both engines) and anchor the global sign so the
    * lowest-index maximal-|y| component is positive — eigenvectors
    * are sign-ambiguous; the anchor makes the answer unique.
    *
    * Scale: per round one row-keyed + one dim-keyed shuffle of narrow
    * triples, plus three one-row/d-row auxiliary aggregates — the
    * same exchange pair as distributed PageRank (A is applied via the
    * data, never built: d×d would be fine at d=64 but not at d=4096
    * with the full corpus as rows). Precondition: some component of
    * A·v must be nonzero (an all-zero corpus has no direction).
    *
    * Output: (pos, v_e6) — one row per dimension, the unit-∞-norm
    * eigenvector estimate in micro-units. */
  def powerIterationTop(embeddings: DataFrame, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "iters must be positive")
    // memoized (kind "power-iter"): the d-row direction is built once
    // per (corpus, iters) and shared by the projection face — q146
    // emits it, q147 projects onto it (round-16 review finding)
    CacheRegistry.cache(
      CacheRegistry.key(embeddings, "power-iter", iters, idCol, vecCol),
      powerIterationBuild(embeddings, iters, idCol, vecCol))
  }

  private def powerIterationBuild(embeddings: DataFrame, iters: Int,
      idCol: String, vecCol: String): DataFrame = {
    val q = microTriples(embeddings, idCol, vecCol)
    var v = q.select("pos").distinct()
      .withColumn("v_e6", lit(1000000L))
    (1 to iters).foreach { _ =>
      val s = q.join(v, "pos")
        .groupBy("rid").agg(sum(col("x_e6") * col("v_e6")).as("s"))
      // materialize the d-row y ONCE per round (localCheckpoint — the
      // q141 single-node caveat applies): it feeds FOUR consumers
      // (max, anchor position, anchor sign, the new v), and without
      // the cut each consumer re-derives the full corpus pass —
      // measured 4× blowup per round at the 10× disk probe
      val y = q.join(s, "rid")
        .groupBy("pos")
        .agg(sum(col("x_e6").cast("decimal(38,0)") * col("s")).as("y"))
        .localCheckpoint(true)
      val m = y.agg(max(abs(col("y"))).as("my"))
      val anchorPos = y.crossJoin(m)
        .filter(abs(col("y")) === col("my"))
        .agg(min(col("pos")).as("pj"))
      val anchorSign = y.crossJoin(anchorPos)
        .filter(col("pos") === col("pj"))
        .select(when(col("y") < 0, lit(-1L)).otherwise(lit(1L)).as("sgn"))
      v = y.crossJoin(broadcast(m)).crossJoin(broadcast(anchorSign))
        .select(col("pos"),
          (col("sgn") *
            when(col("y") < 0, lit(-1L)).when(col("y") > 0, lit(1L))
              .otherwise(lit(0L)) *
            expr("CAST((abs(y) * 1000000) div my AS BIGINT)")).as("v_e6"))
    }
    v
  }

  /** Variance-explained report for [[powerIterationTop]]'s direction —
    * the number that says whether the corpus HAS a dominant axis worth
    * projecting onto: the Rayleigh quotient λ̂₁ = vᵀAv / vᵀv of the
    * iterated direction against the uncentered second-moment matrix
    * A = Σxxᵀ, next to trace(A) = Σᵢ|xᵢ|², with their ratio in ppm
    * (λ₁/trace = the share of total second moment the top axis
    * carries; a near-uniform spectrum reads ~1/d·1e6). All exact
    * integers at ANY corpus size: the corpus-sum quantities live only
    * in DECIMAL(38,0) (a BIGINT trace wraps at ~9e6 unit vectors);
    * what the report EMITS are their per-vector means — every integer
    * division's quotient is ≤ d·1e12, so no cast can overflow, and
    * all operands are non-negative (trunc ≡ floor in both engines).
    * One corpus pass (the s-projection) + three one-row aggregates
    * over memoized v.
    *
    * Output: one row (lambda1_mean_e12, trace_mean_e12, ratio_ppm,
    * n_vecs). */
  def varianceExplained(embeddings: DataFrame, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = powerIterationTop(embeddings, iters, idCol, vecCol)
    val q = microTriples(embeddings, idCol, vecCol)
    val s = q.join(v, "pos")
      .groupBy("rid").agg(sum(col("x_e6") * col("v_e6")).as("s"))
    val num = s.agg(sum(col("s").cast("decimal(38,0)") * col("s")).as("ss"),
      count(lit(1)).as("n"))
    val den = v.agg(sum(col("v_e6") * col("v_e6")).as("vv"))
    val tr = q.agg(sum(col("x_e6").cast("decimal(38,0)") * col("x_e6"))
      .as("tr"))
    num.crossJoin(broadcast(den)).crossJoin(broadcast(tr))
      .select(
        expr("CAST(ss div (CAST(vv AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("lambda1_mean_e12"),
        expr("CAST(tr div n AS BIGINT)").as("trace_mean_e12"),
        expr("CAST((CAST(ss div (CAST(vv AS DECIMAL(38,0)) * n)" +
          " AS DECIMAL(38,0)) * 1000000) div (tr div n) AS BIGINT)")
          .as("ratio_ppm"),
        col("n").as("n_vecs"))
  }

  /** Projection of every embedding onto [[powerIterationTop]]'s
    * principal direction — the 1-D PCA feature (corpus position along
    * its dominant axis: the ordering dial for curriculum buckets,
    * diversity strata, or a first split of a too-big semantic cell).
    * Exact integers end to end: proj = Σ_j x_e6·v_e6 at e12 scale,
    * one dim-keyed join + row-keyed sum over the same triples the
    * iteration used. Output: (idCol, proj_e12). */
  def pcaProjection(embeddings: DataFrame, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = powerIterationTop(embeddings, iters, idCol, vecCol)
    microTriples(embeddings, idCol, vecCol)
      .join(v, "pos")
      .groupBy("rid").agg(sum(col("x_e6") * col("v_e6")).as("proj_e12"))
      .select(col("rid").as(idCol), col("proj_e12"))
  }

  /** SECOND principal direction via orthogonal-deflation power
    * iteration — the axis [[powerIterationTop]]'s direction leaves
    * behind (with [[pcaProjection]] this gives the 2-D PCA map:
    * semantic-cell splitting, curriculum grids, drift plots). Same
    * exact-integer fixed-point contract as the top face, with the
    * deflation kept DIVISION-FREE so no negative-operand `div` exists
    * for the engines to disagree on: instead of subtracting the
    * projection (v̂₁ᵀu/v̂₁ᵀv̂₁)·v̂₁ — a division whose operands can be
    * negative — each round orthogonalizes by cross-scaling,
    *
    *   w_j = u_j·(v̂₁ᵀv̂₁) − v̂₁_j·(v̂₁ᵀu)
    *
    * (exactly ⊥ v̂₁ by construction, DECIMAL(38,0)-widened products),
    * then ∞-norm renormalizes w with the sign-safe
    * `sign(w)·(|w|·1e6 div max|w|)` (non-negative numerator) BEFORE
    * applying A = Σxxᵀ — so every division in the trajectory has
    * non-negative operands and trunc ≡ floor holds in both engines.
    * Re-orthogonalizing every round (not once) is the standard guard
    * against A's application re-amplifying the dominant axis out of
    * rounding residue.
    *
    * Scale: per round the SAME two keyed corpus aggregates as the top
    * face plus d-row/one-row auxiliaries; v̂₁ comes from the memoized
    * "power-iter" table (built once, shared with q146/q147/q149).
    * Precondition: the deflated image must be nonzero — a corpus whose
    * second moment is exactly rank-1 has no second axis. Failure is
    * LOUD by explicit `require`s on both ∞-norms (max|w| and max|A·w|,
    * each read off an already-checkpointed d-row table): with ANSI off
    * a bare `div 0` would be a silent NULL that collapses the
    * trajectory, never an error.
    *
    * Output: (pos, v2_e6) — the unit-∞-norm second-direction estimate
    * in micro-units, sign-anchored like the top face. */
  def powerIterationSecond(embeddings: DataFrame, iters: Int = 3,
      itersTop: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    CacheRegistry.cache(
      CacheRegistry.key(embeddings, "power-iter-2", iters, itersTop,
        idCol, vecCol),
      powerIterationSecondBuild(embeddings, iters, itersTop, idCol, vecCol))

  private def powerIterationSecondBuild(embeddings: DataFrame, iters: Int,
      itersTop: Int, idCol: String, vecCol: String): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val v1 = powerIterationTop(embeddings, itersTop, idCol, vecCol)
      .select(col("pos"), col("v_e6").as("v1"))
    val q = microTriples(embeddings, idCol, vecCol)
    val vv1 = v1.agg(sum(col("v1") * col("v1")).as("vv1"))
    var u = q.select("pos").distinct()
      .withColumn("u_e6", lit(1000000L))
    (1 to iters).foreach { _ =>
      // division-free orthogonalization against the memoized v̂₁
      val c = u.join(v1, "pos")
        .agg(sum(col("v1") * col("u_e6")).as("c"))
      val w = u.join(v1, "pos")
        .crossJoin(broadcast(vv1)).crossJoin(broadcast(c))
        .select(col("pos"),
          (col("u_e6").cast("decimal(38,0)") * col("vv1") -
            col("v1").cast("decimal(38,0)") * col("c")).as("wy"))
        .localCheckpoint(true)
      val mw = w.agg(max(abs(col("wy"))).as("mw"))
      // the documented loud failure, made actually loud: with ANSI
      // off, `div 0` is a silent NULL that collapses the trajectory
      // to an EMPTY frame — so the rank-1 precondition is asserted on
      // the already-checkpointed d-row table (one trivial job)
      val mwVal = mw.collect()(0).getDecimal(0)
      require(mwVal != null && mwVal.signum > 0,
        "deflated image is zero: the corpus second moment is rank-1 — " +
          "no second principal axis exists")
      val wp = w.crossJoin(broadcast(mw))
        .select(col("pos"),
          (when(col("wy") < 0, lit(-1L)).when(col("wy") > 0, lit(1L))
            .otherwise(lit(0L)) *
            expr("CAST((abs(wy) * 1000000) div mw AS BIGINT)")).as("w_e6"))
      // y = A·w′ — the q146 exchange pair, materialized once per
      // round for its four consumers (the q141/q146 device)
      val s = q.join(wp, "pos")
        .groupBy("rid").agg(sum(col("x_e6") * col("w_e6")).as("s"))
      val y = q.join(s, "rid")
        .groupBy("pos")
        .agg(sum(col("x_e6").cast("decimal(38,0)") * col("s")).as("y"))
        .localCheckpoint(true)
      val m = y.agg(max(abs(col("y"))).as("my"))
      // A annihilates everything ⊥ v̂₁ exactly when the second moment
      // is rank-1: my = 0 would NULL the whole trajectory silently
      val myVal = m.collect()(0).getDecimal(0)
      require(myVal != null && myVal.signum > 0,
        "A·w is zero: the corpus second moment is rank-1 — " +
          "no second principal axis exists")
      val anchorPos = y.crossJoin(m)
        .filter(abs(col("y")) === col("my"))
        .agg(min(col("pos")).as("pj"))
      val anchorSign = y.crossJoin(anchorPos)
        .filter(col("pos") === col("pj"))
        .select(when(col("y") < 0, lit(-1L)).otherwise(lit(1L)).as("sgn"))
      u = y.crossJoin(broadcast(m)).crossJoin(broadcast(anchorSign))
        .select(col("pos"),
          (col("sgn") *
            when(col("y") < 0, lit(-1L)).when(col("y") > 0, lit(1L))
              .otherwise(lit(0L)) *
            expr("CAST((abs(y) * 1000000) div my AS BIGINT)")).as("u_e6"))
    }
    u.select(col("pos"), col("u_e6").as("v2_e6"))
  }
}
