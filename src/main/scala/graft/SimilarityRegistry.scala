package graft

import graft.exec.BatchExec
import graft.rules.RuleCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The embedding/ANN family registry: exact and approximate top-k
  * (LSH / IVF / PQ / IVF-PQ), semantic dedup (flat and two-level),
  * recall audits, k-means, dimension stats, and the power-iteration
  * PCA pair. */
trait SimilarityRegistry extends EntryHelpers {

  protected def similarityQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.dedup.Dedup
    import graft.functions.TextFunctions
    import graft.similarity.Similarity
    Map(

      // Nearest-centroid confusion matrix over the labeled embeddings —
      // integer-sum centroids (scale-invariant under cosine) keep every
      // score engine-reproducible.
      "q56_centroid_confusion" -> ((s, dir) =>
        Similarity.nearestCentroidConfusion(table(s, dir, "embeddings"))
          .orderBy("label", "assigned")),

      // Cluster-cohesion report: per label, mean cosine to own centroid
      // vs best other centroid — the label-cleanliness check before
      // training on the labels (same integer-centroid machinery as q56).
      "q72_embed_cohesion" -> ((s, dir) =>
        Similarity.clusterCohesion(table(s, dir, "embeddings"))
          .orderBy("label")),

      // Brute-force cosine top-5 (exact ANN baseline; query side broadcast).
      "q21_ann_topk" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, queryVecs(emb), 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // Multi-band sign-LSH near-duplicate pairs: 4 bands × 8 bits (256
      // buckets per band) over disjoint dimension ranges — bucket
      // population O(n/256) per band, so pair generation stays near-linear
      // where a single small-bit bucket table is O(n²/buckets). Threshold
      // tuned to the corpus cosine distribution (max ≈ 0.51).
      "q22_embed_neardup_lsh" -> ((s, dir) =>
        Similarity.lshNearDupPairs(table(s, dir, "embeddings"),
            bands = 4, bitsPerBand = 8, minCosine = 0.4)
          .orderBy("a_id", "b_id")),

      // Approximate top-5 via the same banded LSH: rank only the query's
      // bucket collisions instead of the whole corpus (the sub-quadratic
      // ANN path; q21 is the exact baseline).
      "q29_ann_topk_lsh" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.lshTopK(emb, queryVecs(emb), 5,
            bands = 4, bitsPerBand = 8)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // IVF ANN: deterministic id-sampled centroids (vec_id % 25 == 7),
      // nearest-centroid assignment, probe 4 lists per query, exact
      // cosine top-5 inside the probed lists — the inverted-file scale
      // path next to q29's LSH (assignment O(n·nlist), query O(n/nlist)).
      "q37_ann_topk_ivf" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.ivfTopK(emb, queryVecs(emb), 5,
            centroidStride = 25, centroidOffset = 7, nprobe = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // Quantized-scan ANN: int8 candidate generation (4× cheaper corpus
      // scan), exact float rerank of the top-20, final top-5 — the
      // "shrink the cost of scoring" axis next to q29/q37's "shrink the
      // candidate set" axis.
      "q49_ann_topk_quantized" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.quantizedTopK(emb,
            queryVecs(emb), 5, rerankFactor = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // Engine-exact k-means refinement (two rounds, stride-100 init):
      // all-integer micro-unit arithmetic makes the ITERATION itself
      // reproducible, so the last algorithmic spec-only face gets a
      // CORRECTNESS row — the oracle unrolls both rounds (assignment by
      // exact integer squared distance, half-up integer means) in plain
      // SQL. The float kMeansCentroids stays the production path; this
      // is its exactness oracle (the sketch-path relationship, pointed
      // the other way).
      "q80_kmeans_exact" -> ((s, dir) =>
        Similarity.kMeansCentroidsExact(
            table(s, dir, "embeddings"), centroidStride = 100, iters = 2)
          .orderBy("c_id", "pos")),

      // Hard-negative mining: top-5 below cos < 0.25 per query — the
      // q21 brute-force face with the positive threshold applied
      // before ranking (above-threshold neighbors are presumed
      // positives and would be false negatives in a contrastive
      // batch). 0.25 sits inside this corpus's neighbor-cosine range
      // (max ~0.45, 9-56 exclusions per query at every SF), so the
      // threshold provably changes the answer vs plain top-k.
      "q86_hard_negatives" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.hardNegatives(emb,
            queryVecs(emb), 5, 0.25)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // Per-dimension embedding moment sums in exact integers (Σx² in
      // DECIMAL(38,0) internally, DOUBLE on the wire) — the whitening /
      // drift-monitoring statistics, bit-identical on any engine.
      "q96_embedding_dim_stats" -> ((s, dir) =>
        Similarity.embeddingDimStats(table(s, dir, "embeddings"))
          .orderBy("pos")),

      // Incremental EMBEDDING near-dup (q99's shape on the vector
      // modality): the vec_id%5==2 slice arrives as a batch against the
      // landed rest; sign-LSH banded index probed by batch equi-joins,
      // exact-cosine verification at 0.3 (the threshold that exercises
      // BOTH dup branches on this corpus), CC over verified batch pairs.
      "q110_embed_incremental" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.lshIncrement(
          landed5(emb),
          batch5(emb),
          bands = 4, bitsPerBand = 8, minCosine = 0.3)
          .orderBy("vec_id")
      }),

      // Semantic dedup (SemDeDup): q37's stride-centroid assignment
      // buckets the embedding space, pairwise exact cosine >= 0.3
      // within each bucket, CC merges verified pairs, min id kept.
      "q114_semantic_dedup" -> ((s, dir) =>
        graft.similarity.Similarity.semanticDedupFlat(
            table(s, dir, "embeddings"))
          .orderBy("vec_id")),

      // Incremental SEMANTIC dedup (the semantic cell of the
      // incremental matrix): the vec_id%5==3 slice arrives as a batch;
      // codebook = landed stride centroids only (batch must not move
      // the structure it is judged by); q110's verdict lattice over
      // cluster-mates instead of band collisions.
      "q117_semantic_incremental" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.semanticDedupIncrementFlat(
          landed5b(emb),
          batch5b(emb))
          .orderBy("vec_id")
      }),

      // Two-level codebook SemDeDup: q114's fine codebook gains a
      // coarse quantizer (ids ≡7 mod 125 ⊂ ids ≡7 mod 25); vectors
      // assign coarse-then-cell-local — O(n·√nlist) vs flat
      // O(n·nlist), the measured scale answer to q114's 5.57× probe.
      // Semantic-dedup aggressiveness dial: q167's sweep pattern on
      // the embedding side — every cosine threshold priced from one
      // pass over the memoized 2L cell-mate pair table.
      "q169_semantic_sweep" -> ((s, dir) =>
        graft.similarity.Similarity.semanticThresholdSweep(
            table(s, dir, "embeddings"),
            thresholdsE4 = Seq(2000, 3000, 4000, 5000, 7000, 9000))
          .orderBy("thr_e4")),

      // Semantically stratified fixed-k sample: the k smallest
      // hash60(id) per 2L cell — the balanced eval draw a failed
      // q179 audit prescribes.
      "q180_semantic_sample" -> ((s, dir) =>
        graft.similarity.Similarity.semanticStratSample(
            table(s, dir, "embeddings"), k = 3)
          .orderBy("c_id", "rk")),

      // Sample-representativeness audit: per 2L cell, corpus vs
      // sample counts + proportionality ratio in ppm — the eval-set
      // coverage check (sample = the %10 stride slice).
      "q179_sample_coverage" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        // the sample carries dangling ids (+999983 twins) so the
        // stale-reference sentinel row is exercised, not just declared
        val sm = modIs(emb.select(col("vec_id")), 10, 3)
        graft.similarity.Similarity.sampleCoverage(emb,
            sm.unionByName(
              sm.select((col("vec_id") + 999983L).as("vec_id"))))
          .orderBy("c_id")
      }),

      // Leakage-safe split on SEMANTIC clusters — q54's contract where
      // the cluster is an embedding CC, so paraphrase/translation
      // near-dups land on one side; rides the memoized end table.
      "q176_semantic_safe_split" -> ((s, dir) =>
        graft.similarity.Similarity.semanticSafeSplit(
            table(s, dir, "embeddings"), trainPct = 80)
          .orderBy("vec_id")),

      // q176 with a PINNED release (r16 verdict #7): the %10!=3 landed
      // slice's split is the release artifact (its own IndexStore kind,
      // "sem-split-pin"); the grown corpus consults it before hashing —
      // released docs keep their side verbatim, new cluster-mates
      // inherit, genuinely-new clusters hash fresh.
      "q186_semantic_split_pinned" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.semanticSafeSplitPinned(emb,
            graft.similarity.Similarity.pinnedSemanticSplit(
              pinLanded(emb),
              trainPct = 80),
            trainPct = 80)
          .orderBy("vec_id")
      }),

      // q186's pin rotated across TWO appends (release-over-release):
      // pin0 = the %10∉{3,7} landed release; pin1 = the %10≠7 grown
      // corpus consulting pin0, persisted as its own release; the
      // final corpus consults pin1 — a doc released under pin0 must
      // keep its side through BOTH rotations (pin transitivity).
      "q188_split_pin_rotation" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        val l0 = modNotIn(emb, 10, Seq(3L, 7L))
        val g1 = pinGrown1(emb)
        val pin1 = graft.similarity.Similarity.rotatePinnedSplit(g1,
          graft.similarity.Similarity.pinnedSemanticSplit(l0,
            trainPct = 80),
          trainPct = 80, releaseId = "rel1")
        graft.similarity.Similarity.semanticSafeSplitPinned(emb, pin1,
            trainPct = 80)
          .orderBy("vec_id")
      }),

      "q118_semantic_dedup_2l" -> ((s, dir) =>
        graft.similarity.Similarity.semanticDedupTwoLevel(
            table(s, dir, "embeddings"))
          .orderBy("vec_id")),

      // PQ-ADC ANN (Jégou et al. 2011): 4 subspaces × stride-seeded
      // codebooks, vectors scanned as 4 small ints (16× narrower than
      // q49's int8 row), per-query integer lookup-table scoring, exact
      // rerank of the top-20 — completes the scoring-cost axis
      // q21 (raw) → q49 (int8) → PQ.
      "q119_ann_topk_pq" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.pqTopK(emb,
            queryVecs(emb), 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // q117's incremental semantic dedup with q118's two-level
      // codebook on both sides: landed index build AND per-batch
      // assignment drop from O(·nlist) to O(·√nlist) — the cut for
      // q117's documented linear-in-landed residual. Codebooks stay
      // landed-side artifacts; verdict lattice unchanged.
      "q122_semantic_inc_2l" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.semanticDedupIncrementTwoLevel(
          landed5b(emb),
          batch5b(emb))
          .orderBy("vec_id")
      }),

      // IVF-PQ composed ANN (the billion-vector layout): route each
      // query to its nprobe nearest coarse cells (q37's machinery),
      // ADC-score only the probed cells' codes (q119's LUT), exact
      // rerank — completes the routing×scoring matrix (q37 routes
      // raw, q119 scans all codes, q133 does both).
      "q133_ann_ivf_pq" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.ivfPqTopK(emb,
            queryVecs(emb), 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // Append-only IVF-PQ serving (the composed-index family's
      // incremental cell): the %4==2 embedding slice arrives as a
      // batch, routed + PQ-encoded against the LANDED codebooks
      // (memoized landed assignment/codes — zero landed recompute);
      // the answer equals the landed-codebook one-shot over the
      // union, which is exactly what the oracle replays.
      "q158_ivfpq_incremental" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.ivfPqIncrement(
            landed4(emb),
            batch4(emb),
            queryVecs(emb), 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("q_id", "rnk")
      }),

      // nDCG@5 of the served IVF-PQ ranking vs the exact ideal —
      // recall prices the candidate SET (q145), nDCG the delivered
      // ORDER; gains = shifted e4 exact cosines, discounts e6-frozen.
      "q159_served_ndcg" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.servedNdcg(emb,
            queryVecs(emb), 5)
          .orderBy("q_id")
      }),

      // Vector-table health gate: null / non-finite / zero-norm counts,
      // dim agreement, e4-integer norm profile — run before any ANN
      // build trusts the column.
      "q164_embedding_health" -> ((s, dir) =>
        graft.similarity.Similarity.embeddingHealthReport(
          table(s, dir, "embeddings"))),

      // Codebook-staleness monitor: how well does the LANDED coarse
      // codebook quantize the incoming batch vs its own corpus —
      // drift_ppm = ratio of mean residuals, the q158 REBUILD dial
      "q160_codebook_drift" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.codebookDrift(
            landed4(emb),
            batch4(emb))
          .orderBy("grp")
      }),

      // CODEBOOK REBUILD + ATOMIC SWAP — the lifecycle step q160's
      // drift alarm triggers, closing the ANN loop (q158 appends under
      // the frozen codebooks → q160 alarms → THIS rebuilds + swaps):
      // "before" = the q158 served answers (landed-drawn codebooks
      // over the grown corpus); then the codebooks REBUILD from the
      // grown corpus's own stride slices (which now include the
      // absorbed batch's stride vectors — a genuinely different
      // codebook), re-route + re-encode, and publish as a release
      // (artifacts first, pin last — the atomic swap); "after" = the
      // same queries served through the released pin. Both stages are
      // exactly the already-verified q158/q133 pipelines, so the
      // oracle is their union.
      "q193_codebook_rebuild" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = queryVecs(emb)
        val before = graft.similarity.Similarity.ivfPqIncrement(
            landed4(emb),
            batch4(emb), queries, 5)
          .withColumnRenamed("rank", "rnk")
          .withColumn("release", lit("before"))
        graft.similarity.Similarity.rebuildIvfPqRelease(emb, "r18-rebuild")
        val after = graft.similarity.Similarity.ivfPqTopKReleased(
            emb, queries, 5, "r18-rebuild")
          .withColumnRenamed("rank", "rnk")
          .withColumn("release", lit("after"))
        before.unionByName(after)
          .select("release", "q_id", "rnk", "vec_id", "cos")
          .orderBy("release", "q_id", "rnk")
      }),

      // DRIFT-TRIGGERED REBUILD POLICY — the control loop over the
      // q160 alarm and the q193 rebuild: measure the frozen codebook's
      // drift on the batch, decide against the threshold, then serve
      // through the RELEASE it publishes (tripped) or the
      // frozen-codebook append path (not tripped). maxDriftPpm = 0
      // makes the fixture's decision deterministic at every SF (any
      // positive batch residual trips); the oracle replays measure +
      // decide + BOTH serve chains and selects the branch the decision
      // picks — the policy's consequence is hash-checked, not just its
      // scalar.
      "q197_drift_policy" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.driftRebuildPolicy(
            landed4(emb),
            batch4(emb),
            emb,
            queryVecs(emb),
            "q197-policy", maxDriftPpm = 0L)
          .orderBy("q_id", "rnk")
      }),

      // IVF-PQ recall audit: q133's composed index priced against
      // q21's exact truth across (nprobe, rerankFactor) — routing loss
      // and ADC-shortlist loss separated, the q98/q101 tuning pattern
      // applied to the billion-vector layout.
      "q145_ivfpq_recall" -> ((s, dir) => {
        val emb = table(s, dir, "embeddings")
        graft.similarity.Similarity.ivfPqRecall(emb,
            queryVecs(emb), 5)
          .orderBy("nprobe", "rerank_factor")
      }),

      // Power-iteration top principal direction (uncentered PCA) over
      // the embeddings: 3 integer micro-unit rounds of y = (Σxxᵀ)·v
      // from the all-ones start, ∞-norm renormalized, sign-anchored —
      // the second fixed-point operator on the q141 machinery; the
      // oracle unrolls the identical trajectory.
      "q146_power_iteration" -> ((s, dir) =>
        graft.similarity.Similarity.powerIterationTop(
            table(s, dir, "embeddings"), iters = 3)
          .orderBy("pos")),

      // The transform the moments (q96) point at: every embedding
      // projected onto q146's principal direction — the 1-D PCA
      // feature, exact e12 integers.
      // Is there a dominant axis at all? Rayleigh quotient of q146's
      // direction vs trace — the variance-explained share in ppm, all
      // exact integers (one corpus pass + three one-row aggregates
      // over the memoized direction).
      "q149_variance_explained" -> ((s, dir) =>
        graft.similarity.Similarity.varianceExplained(
            table(s, dir, "embeddings"), iters = 3)),

      "q147_pca_project" -> ((s, dir) =>
        graft.similarity.Similarity.pcaProjection(
            table(s, dir, "embeddings"), iters = 3)
          .orderBy("vec_id")),

      // Second principal direction by orthogonal-deflation power
      // iteration: division-free deflation (cross-scaled
      // w = u·(v̂₁ᵀv̂₁) − v̂₁·(v̂₁ᵀu), exactly ⊥ v̂₁, no negative-operand
      // div anywhere), sign-safe renormalize, then the q146 A·w
      // exchange pair — reads the memoized "power-iter" v̂₁. With q147
      // this completes the 2-D PCA map.
      "q152_pca_second" -> ((s, dir) =>
        graft.similarity.Similarity.powerIterationSecond(
            table(s, dir, "embeddings"), iters = 3)
          .orderBy("pos")),
    )
  }

  /** The full-corpus two-level (coarse-routed fine) assignment oracle
    * chain, ending in `asn(sid, c_id)` plus the raw `e`/`cent`/`crs`
    * tables — factored so q118's dedup oracle and q169's threshold
    * sweep close over EXACTLY the same assignment (one definition of
    * the stride/routing conventions, the `unifiedCtes` pattern). */
  protected lazy val sem2lAsnCtes: String =
    """e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
         cent AS (SELECT sid c_id, v c_vec FROM e WHERE sid % 25 = 7),
         crs AS (SELECT sid g_id, v g_vec FROM e WHERE sid % 125 = 7),
         rt AS (SELECT c_id, g_id FROM (
                  SELECT c.c_id, g.g_id,
                         ROW_NUMBER() OVER (PARTITION BY c.c_id
                           ORDER BY round(list_dot_product(c.c_vec, g.g_vec) /
                             (sqrt(list_dot_product(c.c_vec, c.c_vec)) *
                              sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                             DESC, g.g_id) rn
                  FROM cent c, crs g) t WHERE rn = 1),
         cells AS (SELECT DISTINCT g_id, c_id FROM (
                     SELECT g_id, c_id FROM rt
                     UNION ALL SELECT g_id, g_id FROM crs)),
         vg AS (SELECT sid, g_id FROM (
                  SELECT e.sid, g.g_id,
                         ROW_NUMBER() OVER (PARTITION BY e.sid
                           ORDER BY round(list_dot_product(e.v, g.g_vec) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                             DESC, g.g_id) rn
                  FROM e, crs g) t WHERE rn = 1),
         asn AS (SELECT sid, c_id FROM (
                   SELECT e.sid, cells.c_id,
                          ROW_NUMBER() OVER (PARTITION BY e.sid
                            ORDER BY round(list_dot_product(e.v, c.c_vec) /
                              (sqrt(list_dot_product(e.v, e.v)) *
                               sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                              DESC, cells.c_id) rn
                   FROM e JOIN vg ON vg.sid = e.sid
                          JOIN cells ON cells.g_id = vg.g_id
                          JOIN cent c ON c.c_id = cells.c_id) t
                 WHERE rn = 1)"""

  /** q118's verify + min-label CC walk over the two-level cell-mate
    * pairs, ending in `cl(sid, lbl)` — factored so the dedup oracle
    * (q118) and the semantic split oracle (q176) close over the SAME
    * cluster labels. Expects [[sem2lAsnCtes]] in scope; interpolate
    * after WITH RECURSIVE. */
  protected lazy val sem2lClusterCtes: String =
    """pr AS (SELECT a.sid a_id, b.sid b_id
                FROM asn a JOIN asn b ON a.c_id = b.c_id AND a.sid < b.sid
                JOIN e x ON x.sid = a.sid JOIN e y ON y.sid = b.sid
                WHERE round(list_dot_product(x.v, y.v) /
                      (sqrt(list_dot_product(x.v, x.v)) *
                       sqrt(list_dot_product(y.v, y.v))), 4) >= 0.3),
         ed AS (SELECT a_id u, b_id v FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
         walk(u, r) AS (SELECT sid, sid FROM e
                        UNION
                        SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
         cl AS (SELECT u sid, MIN(r) lbl FROM walk GROUP BY u)"""

  /** [[sem2lAsnCtes]] + [[sem2lClusterCtes]] parameterized by a
    * CTE-name prefix and a corpus slice predicate — the q188 pin
    * ROTATION oracle needs THREE full chains (landed release, first
    * grown release, final corpus) in one query; every chain must run
    * the same stride/routing/CC conventions or the pins drift. Ends in
    * `<p>cl(sid, lbl)`. */
  protected def sem2lChain(p: String, where: String): String =
    s"""${p}e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings
              $where),
       ${p}cent AS (SELECT sid c_id, v c_vec FROM ${p}e WHERE sid % 25 = 7),
       ${p}crs AS (SELECT sid g_id, v g_vec FROM ${p}e WHERE sid % 125 = 7),
       ${p}rt AS (SELECT c_id, g_id FROM (
                 SELECT c.c_id, g.g_id,
                        ROW_NUMBER() OVER (PARTITION BY c.c_id
                          ORDER BY round(list_dot_product(c.c_vec, g.g_vec) /
                            (sqrt(list_dot_product(c.c_vec, c.c_vec)) *
                             sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                            DESC, g.g_id) rn
                 FROM ${p}cent c, ${p}crs g) t WHERE rn = 1),
       ${p}cells AS (SELECT DISTINCT g_id, c_id FROM (
                    SELECT g_id, c_id FROM ${p}rt
                    UNION ALL SELECT g_id, g_id FROM ${p}crs)),
       ${p}vg AS (SELECT sid, g_id FROM (
                 SELECT e.sid, g.g_id,
                        ROW_NUMBER() OVER (PARTITION BY e.sid
                          ORDER BY round(list_dot_product(e.v, g.g_vec) /
                            (sqrt(list_dot_product(e.v, e.v)) *
                             sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                            DESC, g.g_id) rn
                 FROM ${p}e e, ${p}crs g) t WHERE rn = 1),
       ${p}asn AS (SELECT sid, c_id FROM (
                  SELECT e.sid, ${p}cells.c_id,
                         ROW_NUMBER() OVER (PARTITION BY e.sid
                           ORDER BY round(list_dot_product(e.v, c.c_vec) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                             DESC, ${p}cells.c_id) rn
                  FROM ${p}e e JOIN ${p}vg ON ${p}vg.sid = e.sid
                         JOIN ${p}cells ON ${p}cells.g_id = ${p}vg.g_id
                         JOIN ${p}cent c ON c.c_id = ${p}cells.c_id) t
                WHERE rn = 1),
       ${p}pr AS (SELECT a.sid a_id, b.sid b_id
                 FROM ${p}asn a JOIN ${p}asn b
                   ON a.c_id = b.c_id AND a.sid < b.sid
                 JOIN ${p}e x ON x.sid = a.sid
                 JOIN ${p}e y ON y.sid = b.sid
                 WHERE round(list_dot_product(x.v, y.v) /
                       (sqrt(list_dot_product(x.v, x.v)) *
                        sqrt(list_dot_product(y.v, y.v))), 4) >= 0.3),
       ${p}ed AS (SELECT a_id u, b_id v FROM ${p}pr
                 UNION ALL SELECT b_id, a_id FROM ${p}pr),
       ${p}walk(u, r) AS (SELECT sid, sid FROM ${p}e
                         UNION
                         SELECT w.u, ${p}ed.v FROM ${p}walk w
                           JOIN ${p}ed ON ${p}ed.u = w.r),
       ${p}cl AS (SELECT u sid, MIN(r) lbl FROM ${p}walk GROUP BY u)"""

  /** The q176/q186 hash device as SQL text: `hash60(lbl) % 100 <
    * trainPct → train` (60 bits of md5 as BIGINT in both engines). */
  protected def splitHash(lblExpr: String, trainPct: Int): String =
    s"""CASE WHEN ('0x' || substr(md5(CAST($lblExpr AS VARCHAR)), 1, 15))
               ::BIGINT % 100 < $trainPct
             THEN 'train' ELSE 'eval' END"""

  /** The similarity family's index-phase entries: corpus LSH and
    * semantic-dedup tables, the landed vector indexes of the
    * incremental faces, the served IVF-PQ layout, the power-iteration
    * memos and the pinned semantic-split releases. */
  protected def similarityIndexes: Seq[IndexDecl] = {
    import graft.similarity.Similarity
    Seq(
      IndexDecl("sign-bands", "q22_embed_neardup_lsh", "q29_ann_topk_lsh")((s, dir) =>
        Similarity.bandedTable(embeddings(s, dir), 4, 8)),
      IndexDecl("sem2l-asn", "q116_unified_dedup_verdict",
        "q118_semantic_dedup_2l", "q120_curation_funnel",
        "q157_method_agreement", "q169_semantic_sweep",
        "q176_semantic_safe_split", "q177_quality_loss",
        "q179_sample_coverage", "q180_semantic_sample",
        "q186_semantic_split_pinned", "q188_split_pin_rotation")((s, dir) =>
        Similarity.twoLevelAssignment(embeddings(s, dir))),
      // the 2L semantic-dedup table: its CC fixpoint runs eagerly at
      // construction
      IndexDecl("sem2l-dedup", "q116_unified_dedup_verdict",
        "q118_semantic_dedup_2l", "q120_curation_funnel",
        "q157_method_agreement", "q176_semantic_safe_split",
        "q177_quality_loss", "q186_semantic_split_pinned",
        "q188_split_pin_rotation")((s, dir) =>
        Similarity.semanticDedupTwoLevel(embeddings(s, dir))),
      // the gate's two-level semantic index at its offset-8 codebook
      IndexDecl("q129-sem-cells-2l", gateReaders: _*)((s, dir) =>
        Similarity.landedTwoLevelCells(landed5(embeddings(s, dir)), 25, 8, 5)),
      IndexDecl("q129-sem-assign-2l", gateReaders: _*)((s, dir) =>
        Similarity.landedSemanticAssignment2L(landed5(embeddings(s, dir)), 25, 8, 5)),
      IndexDecl("q184-vec-lookup", absorbReaders: _*)((s, dir) =>
        Similarity.landedVecLookup(absorbLanded(embeddings(s, dir)))),
      IndexDecl("q184-sem-cells-2l", absorbReaders: _*)((s, dir) =>
        Similarity.landedTwoLevelCells(absorbLanded(embeddings(s, dir)), 25, 8, 5)),
      IndexDecl("q184-sem-assign-2l", absorbReaders: _*)((s, dir) =>
        Similarity.landedSemanticAssignment2L(absorbLanded(embeddings(s, dir)), 25, 8, 5)),
      // the routed/coded ANN pair the absorb merges extend
      IndexDecl("q196-ivfpq-asn", "q184_absorb_gate", "q191_streaming_absorb",
        "q196_absorb_serve", "q199_retract_gate", "q200_churn_gate",
        "q201_streaming_churn", "q202_churn_serve", "q211_streaming_resume",
        "q213_retention_ageout", "q214_serve_during_churn")((s, dir) =>
        Similarity.landedIvfPqAssignment(absorbLanded(embeddings(s, dir)))),
      IndexDecl("q196-ivfpq-codes", "q184_absorb_gate",
        "q191_streaming_absorb", "q196_absorb_serve", "q199_retract_gate",
        "q200_churn_gate", "q201_streaming_churn", "q202_churn_serve",
        "q211_streaming_resume", "q213_retention_ageout",
        "q214_serve_during_churn")((s, dir) =>
        Similarity.landedIvfPqCodes(absorbLanded(embeddings(s, dir)))),
      IndexDecl("q205-vec-lookup", migrateReaders: _*)((s, dir) =>
        Similarity.landedVecLookup(snapshot(embeddings(s, dir), migrateOldRes))),
      IndexDecl("q205-sem-cells-2l", migrateReaders: _*)((s, dir) =>
        Similarity.landedTwoLevelCells(snapshot(embeddings(s, dir), migrateOldRes),
          25, 8, 5)),
      IndexDecl("q205-sem-assign-2l", migrateReaders: _*)((s, dir) =>
        Similarity.landedSemanticAssignment2L(
          snapshot(embeddings(s, dir), migrateOldRes), 25, 8, 5)),
      IndexDecl("q205-ivfpq-asn", migrateReaders: _*)((s, dir) =>
        Similarity.landedIvfPqAssignment(snapshot(embeddings(s, dir), migrateOldRes))),
      IndexDecl("q205-ivfpq-codes", migrateReaders: _*)((s, dir) =>
        Similarity.landedIvfPqCodes(snapshot(embeddings(s, dir), migrateOldRes))),
      IndexDecl("q110-landed-bands", "q110_embed_incremental")((s, dir) =>
        Similarity.bandedTable(landed5(embeddings(s, dir)), 4, 8)),
      IndexDecl("q110-landed-vecs", "q110_embed_incremental",
        "q129_ingest_gate", "q132_ingest_gate_full", "q189_mixture_shift",
        "q190_streaming_gate")((s, dir) =>
        Similarity.landedVecLookup(landed5(embeddings(s, dir)))),
      // the landed IVF-PQ pair and the drift baseline on the %4 slice
      IndexDecl("q158-ivfpq-asn", "q158_ivfpq_incremental",
        "q193_codebook_rebuild")((s, dir) =>
        Similarity.landedIvfPqAssignment(landed4(embeddings(s, dir)))),
      IndexDecl("q158-ivfpq-codes", "q158_ivfpq_incremental",
        "q193_codebook_rebuild")((s, dir) =>
        Similarity.landedIvfPqCodes(landed4(embeddings(s, dir)))),
      IndexDecl("q160-drift-res", "q160_codebook_drift", "q197_drift_policy")((s, dir) =>
        Similarity.landedDriftFold(landed4(embeddings(s, dir)))),
      IndexDecl("q117-landed-vecs", "q117_semantic_incremental",
        "q122_semantic_inc_2l")((s, dir) =>
        Similarity.landedVecLookup(landed5b(embeddings(s, dir)))),
      IndexDecl("q117-landed-assign", "q117_semantic_incremental")((s, dir) =>
        Similarity.landedSemanticAssignment(landed5b(embeddings(s, dir)))),
      IndexDecl("q122-landed-cells-2l", "q122_semantic_inc_2l")((s, dir) =>
        Similarity.landedTwoLevelCells(landed5b(embeddings(s, dir)))),
      IndexDecl("q122-landed-assign-2l", "q122_semantic_inc_2l")((s, dir) =>
        Similarity.landedSemanticAssignment2L(landed5b(embeddings(s, dir)))),
      // the served semantic index: the full corpus routed and
      // PQ-encoded under the full-corpus codebooks
      IndexDecl("q192-ivfpq-asn", "q192_hybrid_served",
        "q193_codebook_rebuild", "q195_hybrid_audit", "q197_drift_policy",
        "q198_streaming_serve")((s, dir) =>
        Similarity.landedIvfPqAssignment(embeddings(s, dir))),
      IndexDecl("q192-ivfpq-codes", "q192_hybrid_served",
        "q193_codebook_rebuild", "q195_hybrid_audit", "q197_drift_policy",
        "q198_streaming_serve")((s, dir) =>
        Similarity.landedIvfPqCodes(embeddings(s, dir))),
      IndexDecl("power-iter", "q146_power_iteration", "q147_pca_project",
        "q149_variance_explained", "q152_pca_second")((s, dir) =>
        Similarity.powerIterationTop(embeddings(s, dir), iters = 3)),
      IndexDecl("power-iter-2", "q152_pca_second")((s, dir) =>
        Similarity.powerIterationSecond(embeddings(s, dir), iters = 3)),
      // q188's pin lifecycle: the landed release and its rotation over
      // the first grown corpus
      IndexDecl("q188-split-pin0", "q188_split_pin_rotation")((s, dir) =>
        Similarity.pinnedSemanticSplit(pinLanded0(embeddings(s, dir)), 80)),
      IndexDecl("q188-split-pin1", "q188_split_pin_rotation")((s, dir) => {
        val emb = embeddings(s, dir)
        Similarity.rotatePinnedSplit(pinGrown1(emb),
          Similarity.pinnedSemanticSplit(pinLanded0(emb), 80), 80,
          releaseId = "rel1")
      }),
      // q186's release: the pin is the index, and building it seeds
      // the slice's sem2l-asn/sem2l-dedup instances
      IndexDecl("q186-split-pin", "q186_semantic_split_pinned")((s, dir) =>
        Similarity.pinnedSemanticSplit(pinLanded(embeddings(s, dir)), 80)))
  }

  protected def similarityOracles: Map[String, String] = Map(

    // Same two-phase algorithm replayed: int8 quantization (floor(x/s +
    // 0.5), s = max|v|/127 — all-integer products stay exact in doubles),
    // quantized-cosine top-20 candidates, exact-cosine top-5 rerank.
    "q49_ann_topk_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          s AS (SELECT vec_id, v,
                  list_max(list_transform(v, x -> abs(x)))/127.0 sc FROM e),
          q8 AS (SELECT vec_id, v,
                   CASE WHEN sc = 0
                     THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                     ELSE list_transform(v, x -> floor(x/sc + 0.5)) END qv
                 FROM s),
          qq AS (SELECT vec_id q_id, qv q_qv, v q_v FROM q8
                 WHERE vec_id % 100 = 0),
          cand AS (SELECT q_id, c.vec_id,
                     round(list_dot_product(c.qv, q_qv) /
                           (sqrt(list_dot_product(c.qv, c.qv)) *
                            sqrt(list_dot_product(q_qv, q_qv))), 4) q_cos
                   FROM q8 c, qq WHERE c.vec_id != q_id),
          keep AS (SELECT q_id, vec_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY q_cos DESC, vec_id) c_rank FROM cand) t
                   WHERE c_rank <= 20),
          scored AS (SELECT k.q_id, k.vec_id,
                       round(list_dot_product(c.v, q.q_v) /
                             (sqrt(list_dot_product(c.v, c.v)) *
                              sqrt(list_dot_product(q.q_v, q.q_v))), 4) cos
                     FROM keep k JOIN e c ON c.vec_id = k.vec_id
                       JOIN qq q ON q.q_id = k.q_id),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
                FROM scored)
          SELECT q_id, rnk, vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // Two unrolled k-means rounds in integer micro-units: quantize with
    // floor(x*1e6 + 0.5) + 1e7 (positive domain, so // == Spark's div),
    // assign by exact integer squared distance (ties to lower centroid
    // id), means by the half-up (2s+n)//(2n) device, empty clusters
    // keep their centroid.
    "q80_kmeans_exact" ->
      """WITH q AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                  CAST(floor(unnest(embedding)::DOUBLE * 1000000 + 0.5)
                       AS BIGINT) + 10000000 AS v
           FROM embeddings),
         c0 AS (SELECT vec_id AS c_id, pos, v FROM q WHERE vec_id % 100 = 0),
         d1 AS (SELECT q.vec_id, c.c_id,
                       SUM((q.v - c.v) * (q.v - c.v)) AS dist
                FROM q JOIN c0 c ON q.pos = c.pos
                GROUP BY q.vec_id, c.c_id),
         b1 AS (SELECT vec_id, c_id FROM (
                  SELECT vec_id, c_id, ROW_NUMBER() OVER
                    (PARTITION BY vec_id ORDER BY dist, c_id) rn FROM d1)
                WHERE rn = 1),
         m1 AS (SELECT b.c_id, q.pos,
                       (2 * SUM(q.v) + COUNT(*)) // (2 * COUNT(*)) AS v
                FROM b1 b JOIN q ON q.vec_id = b.vec_id
                GROUP BY b.c_id, q.pos),
         c1 AS (SELECT c0.c_id, c0.pos, COALESCE(m1.v, c0.v) AS v
                FROM c0 LEFT JOIN m1
                  ON m1.c_id = c0.c_id AND m1.pos = c0.pos),
         d2 AS (SELECT q.vec_id, c.c_id,
                       SUM((q.v - c.v) * (q.v - c.v)) AS dist
                FROM q JOIN c1 c ON q.pos = c.pos
                GROUP BY q.vec_id, c.c_id),
         b2 AS (SELECT vec_id, c_id FROM (
                  SELECT vec_id, c_id, ROW_NUMBER() OVER
                    (PARTITION BY vec_id ORDER BY dist, c_id) rn FROM d2)
                WHERE rn = 1),
         m2 AS (SELECT b.c_id, q.pos,
                       (2 * SUM(q.v) + COUNT(*)) // (2 * COUNT(*)) AS v
                FROM b2 b JOIN q ON q.vec_id = b.vec_id
                GROUP BY b.c_id, q.pos),
         c2 AS (SELECT c1.c_id, c1.pos, COALESCE(m2.v, c1.v) AS v
                FROM c1 LEFT JOIN m2
                  ON m2.c_id = c1.c_id AND m2.pos = c1.pos)
         SELECT c_id, CAST(pos AS INT) AS pos,
                CAST(v - 10000000 AS BIGINT) AS m_e6
         FROM c2 ORDER BY c_id, pos""",

    // The q21 oracle with the positive-threshold WHERE before the rank
    // window — identical double cosine arithmetic, 4dp round.
    "q86_hard_negatives" ->
      """WITH q AS (SELECT vec_id q_id, embedding::DOUBLE[] qv
                    FROM embeddings WHERE vec_id % 100 = 0),
          c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          s AS (SELECT q_id, vec_id,
                  round(list_dot_product(v, qv) /
                        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                        4) AS cos
                FROM c, q WHERE vec_id != q_id),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
                FROM s WHERE cos < 0.25)
          SELECT q_id, rnk, vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // Integer-sum centroids (cosine is scale-invariant, so the division
    // is skipped and every component stays an exact integer); scores via
    // the same sequential double dot/norms as the ANN family.
    "q56_centroid_confusion" ->
      """WITH e6 AS (SELECT vec_id, label,
                       list_transform(embedding::DOUBLE[],
                         x -> floor(x * 1000000 + 0.5)) qv
                     FROM embeddings),
          cpos AS (SELECT label c_label, i pos, SUM(qv[i]) s
                   FROM e6, unnest(range(1, len(qv) + 1)) t(i)
                   GROUP BY 1, 2),
          cent AS (SELECT c_label, list(s ORDER BY pos) c_vec
                   FROM cpos GROUP BY c_label),
          sc AS (SELECT vec_id, label, c_label,
                   round(list_dot_product(qv, c_vec) /
                         (sqrt(list_dot_product(qv, qv)) *
                          sqrt(list_dot_product(c_vec, c_vec))), 4) cos
                 FROM e6, cent),
          asg AS (SELECT vec_id, label, c_label AS assigned FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, c_label) rn FROM sc) t
                  WHERE rn = 1)
          SELECT label, assigned, CAST(COUNT(*) AS BIGINT) AS n
          FROM asg GROUP BY label, assigned ORDER BY label, assigned""",

    // q56's centroid machinery; per-vector self/best-other scores
    // quantized to micro-units pre-sum, one double division chain per
    // aggregate in the same op order as the Spark side.
    "q72_embed_cohesion" ->
      """WITH e6 AS (SELECT vec_id, label,
                       list_transform(embedding::DOUBLE[],
                         x -> floor(x * 1000000 + 0.5)) qv
                     FROM embeddings),
          cpos AS (SELECT label c_label, i pos, SUM(qv[i]) s
                   FROM e6, unnest(range(1, len(qv) + 1)) t(i)
                   GROUP BY 1, 2),
          cent AS (SELECT c_label, list(s ORDER BY pos) c_vec
                   FROM cpos GROUP BY c_label),
          sc AS (SELECT vec_id, label, c_label,
                   CAST(round(list_dot_product(qv, c_vec) /
                         (sqrt(list_dot_product(qv, qv)) *
                          sqrt(list_dot_product(c_vec, c_vec)))
                         * 1000000, 0) AS BIGINT) s_e6
                 FROM e6, cent),
          pv AS (SELECT vec_id, label,
                   MAX(CASE WHEN c_label = label THEN s_e6 END) self_e6,
                   MAX(CASE WHEN c_label <> label THEN s_e6 END) other_e6
                 FROM sc GROUP BY vec_id, label),
          ag AS (SELECT label, CAST(COUNT(*) AS BIGINT) n,
                   CAST(SUM(self_e6) AS BIGINT) sum_self_e6,
                   CAST(SUM(other_e6) AS BIGINT) sum_other_e6
                 FROM pv GROUP BY label)
          SELECT label, n, sum_self_e6, sum_other_e6,
                 sum_self_e6 / 1000000.0 / n AS avg_self,
                 sum_other_e6 / 1000000.0 / n AS avg_other,
                 sum_self_e6 / 1000000.0 / n -
                   sum_other_e6 / 1000000.0 / n AS margin
          FROM ag ORDER BY label""",

    "q21_ann_topk" ->
      """WITH q AS (SELECT vec_id q_id, embedding::DOUBLE[] qv
                    FROM embeddings WHERE vec_id % 100 = 0),
          c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          s AS (SELECT q_id, vec_id,
                  round(list_dot_product(v, qv) /
                        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                        4) AS cos
                FROM c, q WHERE vec_id != q_id),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM s)
          SELECT q_id, rnk, vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // Same 4-band × 8-bit sign-LSH as Similarity.bandedTable: band j
    // hashes dims j*8+1..j*8+8; any shared (band, bucket) admits the
    // candidate, then exact cosine ≥ 0.4.
    "q22_embed_neardup_lsh" ->
      s"""WITH e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
          bd AS ($duckBandedCte),
          cand AS (SELECT DISTINCT a.sid a_id, b.sid b_id
                   FROM bd a JOIN bd b
                     ON a.band = b.band AND a.bucket = b.bucket AND a.sid < b.sid)
          SELECT a_id, b_id, cos FROM (
            SELECT a_id, b_id,
                   round(list_dot_product(x.v, y.v) /
                         (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
                         4) AS cos
            FROM cand JOIN e x ON x.sid = a_id JOIN e y ON y.sid = b_id) p
          WHERE cos >= 0.4
          ORDER BY a_id, b_id""",

    // Approximate top-5 over the banded candidate set (q29's Spark side =
    // Similarity.lshTopK); q21 stays the exact baseline.
    "q29_ann_topk_lsh" ->
      s"""WITH e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
          bd AS ($duckBandedCte),
          cand AS (SELECT DISTINCT qa.sid q_id, cb.sid vec_id
                   FROM bd qa JOIN bd cb
                     ON qa.band = cb.band AND qa.bucket = cb.bucket
                   WHERE qa.sid % 100 = 0 AND qa.sid != cb.sid),
          s AS (SELECT q_id, vec_id,
                  round(list_dot_product(x.v, y.v) /
                        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
                        4) AS cos
                FROM cand JOIN e x ON x.sid = vec_id JOIN e y ON y.sid = q_id),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM s)
          SELECT q_id, rnk, vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // IVF replayed in SQL: same deterministic centroid sample
    // (vec_id % 25 = 7), same rounded-cosine argmax assignment (ties to
    // the lowest centroid id), same 4-list probe, same in-list top-5.
    "q37_ann_topk_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          c AS (SELECT vec_id c_id, v cv FROM e WHERE vec_id % 25 = 7),
          ac AS (SELECT e.vec_id, c.c_id,
                   round(list_dot_product(e.v, c.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
                         4) AS cos
                 FROM e, c),
          asn AS (SELECT vec_id, c_id FROM (
                    SELECT *, row_number() OVER
                      (PARTITION BY vec_id ORDER BY cos DESC, c_id) AS rn FROM ac)
                  WHERE rn = 1),
          q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id % 100 = 0),
          pc AS (SELECT q.q_id, c.c_id,
                   round(list_dot_product(q.qv, c.cv) /
                         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))),
                         4) AS cos
                 FROM q, c),
          probe AS (SELECT q_id, c_id FROM (
                      SELECT *, row_number() OVER
                        (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM pc)
                    WHERE rn <= 4),
          s AS (SELECT p.q_id, a.vec_id,
                  round(list_dot_product(x.v, y.qv) /
                        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.qv, y.qv))),
                        4) AS cos
                FROM probe p JOIN asn a ON a.c_id = p.c_id
                JOIN e x ON x.vec_id = a.vec_id JOIN q y ON y.q_id = p.q_id
                WHERE a.vec_id != p.q_id),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM s)
          SELECT q_id, rnk, vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // Micro-unit quantization then exact integer sums; Σx² widened to
    // DECIMAL before summing, surfaced as the correctly-rounded DOUBLE
    // (a DECIMAL output column would hash-mismatch on rendering).
    "q96_embedding_dim_stats" ->
      """WITH e6 AS (SELECT list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) qv
                     FROM embeddings),
          d AS (SELECT CAST(i - 1 AS INT) pos, qv[i] x
                FROM e6, unnest(range(1, len(qv) + 1)) t(i))
          SELECT pos, CAST(COUNT(*) AS BIGINT) n, CAST(SUM(x) AS BIGINT) sum_e6,
                 CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) sumsq_e12
          FROM d GROUP BY pos ORDER BY pos""",

    // q22's banded sign-LSH + exact-cosine verification, side-tagged by
    // slice (batch = vec_id%5=2), then q108's recursive reachability
    // walk over verified BATCH pairs whose endpoints survived the
    // landed screen — landed_dup beats batch_dup beats keep.
    "q110_embed_incremental" ->
      s"""WITH RECURSIVE
          e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
          bd AS ($duckBandedCte),
          cand AS (SELECT DISTINCT a.sid a_id, b.sid b_id,
                     CASE WHEN b.sid % 5 = 2 THEN 'batch'
                          ELSE 'landed' END side
                   FROM bd a JOIN bd b
                     ON a.band = b.band AND a.bucket = b.bucket
                   WHERE a.sid % 5 = 2
                     AND (b.sid % 5 != 2 OR a.sid < b.sid)),
          ver AS (SELECT a_id, b_id, side FROM (
                    SELECT a_id, b_id, side,
                           round(list_dot_product(x.v, y.v) /
                                 (sqrt(list_dot_product(x.v, x.v)) *
                                  sqrt(list_dot_product(y.v, y.v))), 4) cos
                    FROM cand JOIN e x ON x.sid = a_id
                              JOIN e y ON y.sid = b_id) t
                  WHERE cos >= 0.3),
          ld AS (SELECT DISTINCT a_id sid FROM ver WHERE side = 'landed'),
          bp AS (SELECT a_id, b_id FROM ver WHERE side = 'batch'
                   AND a_id NOT IN (SELECT sid FROM ld)
                   AND b_id NOT IN (SELECT sid FROM ld)),
          ed AS (SELECT a_id u, b_id v FROM bp
                 UNION ALL SELECT b_id, a_id FROM bp),
          walk(u, r) AS (
            SELECT sid, sid FROM e WHERE sid % 5 = 2
            UNION
            SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
          cl AS (SELECT u AS sid, MIN(r) AS lbl FROM walk GROUP BY u)
          SELECT cl.sid AS vec_id,
                 CASE WHEN cl.sid IN (SELECT sid FROM ld) THEN 'landed_dup'
                      WHEN cl.lbl != cl.sid THEN 'batch_dup'
                      ELSE 'keep' END AS verdict
          FROM cl
          ORDER BY vec_id""",

    // q37's stride-centroid assignment (rounded-cosine argmax, ties to
    // the lowest centroid id), within-cluster exact-cosine pairs at
    // 0.3, then q110's recursive reachability walk over ALL vectors —
    // min reachable id is the semantic cluster; its member keeps.
    "q114_semantic_dedup" ->
      """WITH RECURSIVE
         e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
         cent AS (SELECT sid c_id, v c_vec FROM e WHERE sid % 25 = 7),
         asn AS (SELECT sid, c_id FROM (
                   SELECT e.sid, c.c_id,
                          ROW_NUMBER() OVER (PARTITION BY e.sid
                            ORDER BY round(list_dot_product(e.v, c.c_vec) /
                              (sqrt(list_dot_product(e.v, e.v)) *
                               sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                              DESC, c.c_id) rn
                   FROM e, cent c) t WHERE rn = 1),
         pr AS (SELECT a.sid a_id, b.sid b_id
                FROM asn a JOIN asn b ON a.c_id = b.c_id AND a.sid < b.sid
                JOIN e x ON x.sid = a.sid JOIN e y ON y.sid = b.sid
                WHERE round(list_dot_product(x.v, y.v) /
                      (sqrt(list_dot_product(x.v, x.v)) *
                       sqrt(list_dot_product(y.v, y.v))), 4) >= 0.3),
         ed AS (SELECT a_id u, b_id v FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
         walk(u, r) AS (SELECT sid, sid FROM e
                        UNION
                        SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
         cl AS (SELECT u sid, MIN(r) lbl FROM walk GROUP BY u)
         SELECT sid vec_id, lbl sem_cluster, sid = lbl AS keep
         FROM cl ORDER BY vec_id""",

    // q114's assignment restricted to LANDED centroids (every id ≡ 7
    // mod 25 is ≡ 2 mod 5, so none is in the %5=3 batch), side-tagged
    // cluster-mate candidates, exact-cosine verification at 0.3, then
    // q110's recursive walk over verified batch pairs among survivors.
    "q117_semantic_incremental" ->
      """WITH RECURSIVE
         e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
         cent AS (SELECT sid c_id, v c_vec FROM e
                  WHERE sid % 25 = 7 AND sid % 5 != 3),
         asn AS (SELECT sid, c_id FROM (
                   SELECT e.sid, c.c_id,
                          ROW_NUMBER() OVER (PARTITION BY e.sid
                            ORDER BY round(list_dot_product(e.v, c.c_vec) /
                              (sqrt(list_dot_product(e.v, e.v)) *
                               sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                              DESC, c.c_id) rn
                   FROM e, cent c) t WHERE rn = 1),
         cand AS (SELECT a.sid a_id, b.sid b_id,
                    CASE WHEN b.sid % 5 = 3 THEN 'batch'
                         ELSE 'landed' END side
                  FROM asn a JOIN asn b ON a.c_id = b.c_id
                  WHERE a.sid % 5 = 3
                    AND (b.sid % 5 != 3 OR a.sid < b.sid)),
         ver AS (SELECT a_id, b_id, side FROM (
                   SELECT a_id, b_id, side,
                          round(list_dot_product(x.v, y.v) /
                                (sqrt(list_dot_product(x.v, x.v)) *
                                 sqrt(list_dot_product(y.v, y.v))), 4) cos
                   FROM cand JOIN e x ON x.sid = a_id
                             JOIN e y ON y.sid = b_id) t
                 WHERE cos >= 0.3),
         ld AS (SELECT DISTINCT a_id sid FROM ver WHERE side = 'landed'),
         bp AS (SELECT a_id, b_id FROM ver WHERE side = 'batch'
                  AND a_id NOT IN (SELECT sid FROM ld)
                  AND b_id NOT IN (SELECT sid FROM ld)),
         ed AS (SELECT a_id u, b_id v FROM bp
                UNION ALL SELECT b_id, a_id FROM bp),
         walk(u, r) AS (
           SELECT sid, sid FROM e WHERE sid % 5 = 3
           UNION
           SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
         cl AS (SELECT u AS sid, MIN(r) AS lbl FROM walk GROUP BY u)
         SELECT cl.sid AS vec_id,
                CASE WHEN cl.sid IN (SELECT sid FROM ld) THEN 'landed_dup'
                     WHEN cl.lbl != cl.sid THEN 'batch_dup'
                     ELSE 'keep' END AS verdict
         FROM cl
         ORDER BY vec_id""",

    // q114's walk with the two-hop assignment replayed literally:
    // fine→coarse routing (rt), cell lists with the coarse self row
    // (cells), vector→coarse (vg), then cell-local argmax (asn).
    // q169: q118's own assignment chain, every threshold priced from
    // ONE cell-mate pair pass; cosines e4-frozen by the family's
    // two-step device so both engines compare identical integers
    "q169_semantic_sweep" ->
      s"""WITH $sem2lAsnCtes,
          pc AS (SELECT b.sid b_id,
                   CAST(round(round(list_dot_product(x.v, y.v) /
                     (sqrt(list_dot_product(x.v, x.v)) *
                      sqrt(list_dot_product(y.v, y.v))), 4) * 10000)
                     AS BIGINT) cos_e4
                 FROM asn a JOIN asn b ON a.c_id = b.c_id AND a.sid < b.sid
                 JOIN e x ON x.sid = a.sid JOIN e y ON y.sid = b.sid),
          th AS (SELECT CAST(unnest([2000, 3000, 4000, 5000, 7000, 9000])
                   AS BIGINT) thr_e4),
          fl AS (SELECT DISTINCT thr_e4, b_id FROM pc, th
                 WHERE cos_e4 >= thr_e4),
          tot AS (SELECT CAST(COUNT(*) AS BIGINT) n_vecs FROM e),
          ag AS (SELECT thr_e4, CAST(COUNT(*) AS BIGINT) n_flagged
                 FROM fl GROUP BY 1)
          SELECT th.thr_e4,
                 CAST(COALESCE(ag.n_flagged, 0) AS BIGINT) n_flagged,
                 tot.n_vecs - COALESCE(ag.n_flagged, 0) AS n_kept
          FROM th LEFT JOIN ag USING (thr_e4) CROSS JOIN tot
          ORDER BY th.thr_e4""",

    "q118_semantic_dedup_2l" ->
      s"""WITH RECURSIVE $sem2lAsnCtes, $sem2lClusterCtes
         SELECT sid vec_id, lbl sem_cluster, sid = lbl AS keep
         FROM cl ORDER BY vec_id""",

    // q180: the same assignment chain + q53's per-stratum rank device
    // with the stratum = the semantic cell
    "q180_semantic_sample" ->
      s"""WITH $sem2lAsnCtes,
          h AS (SELECT sid, c_id,
                  ('0x' || substr(md5(CAST(sid AS VARCHAR)), 1, 15))
                    ::BIGINT hk
                FROM asn),
          r AS (SELECT sid, c_id,
                  CAST(row_number() OVER (PARTITION BY c_id
                    ORDER BY hk, sid) AS BIGINT) rk
                FROM h)
          SELECT sid vec_id, c_id, rk FROM r WHERE rk <= 3
          ORDER BY c_id, rk""",

    // q179: the same assignment chain, folded to per-cell corpus vs
    // sample counts; one HUGEINT cross-multiplied ratio per cell
    "q179_sample_coverage" ->
      s"""WITH $sem2lAsnCtes,
          smd AS (SELECT DISTINCT sid FROM (
                    SELECT sid FROM e WHERE sid % 10 = 3
                    UNION ALL
                    SELECT sid + 999983 FROM e WHERE sid % 10 = 3)),
          per AS (SELECT a.c_id, CAST(COUNT(*) AS BIGINT) n_corpus,
                    CAST(SUM(CASE WHEN s.sid IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) n_sample
                  FROM asn a LEFT JOIN smd s ON s.sid = a.sid
                  GROUP BY 1),
          tot AS (SELECT CAST(SUM(n_corpus) AS HUGEINT) nn,
                         CAST(SUM(n_sample) AS HUGEINT) ss FROM per),
          um AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM smd
                 WHERE sid NOT IN (SELECT sid FROM asn))
          SELECT c_id, n_corpus, n_sample,
                 CASE WHEN ss > 0 THEN
                   CAST(n_sample * nn * 1000000 // (n_corpus * ss)
                     AS BIGINT) END AS rep_ppm
          FROM per, tot
          UNION ALL
          SELECT -1, 0, n, NULL FROM um
          ORDER BY c_id""",

    // q176: q118's own cluster labels, split by the q54 hash device —
    // the oracle closes over exactly the clusters the dedup oracle
    // checks, so a paraphrase cluster can never straddle the split
    "q176_semantic_safe_split" ->
      s"""WITH RECURSIVE $sem2lAsnCtes, $sem2lClusterCtes
         SELECT sid vec_id, lbl sem_cluster,
                CASE WHEN ('0x' || substr(md5(CAST(lbl AS VARCHAR)), 1, 15))
                       ::BIGINT % 100 < 80
                     THEN 'train' ELSE 'eval' END AS split
         FROM cl ORDER BY vec_id""",

    // q186: TWO full sem2l chains — the landed %10!=3 slice's clusters
    // hashed into the pinned release split (prefix l; same stride
    // conventions, so every codebook id stays landed: x≡7 mod 25 →
    // x≡2 mod 5, never ≡3 mod 10), then the grown corpus's chain (the
    // q118/q176 CTEs verbatim) consulting it: pinned side wins, else
    // the min-id pinned cluster-mate's side, else the fresh hash.
    "q186_semantic_split_pinned" ->
      s"""WITH RECURSIVE
          le AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings
                 WHERE vec_id % 10 != 3),
          lcent AS (SELECT sid c_id, v c_vec FROM le WHERE sid % 25 = 7),
          lcrs AS (SELECT sid g_id, v g_vec FROM le WHERE sid % 125 = 7),
          lrt AS (SELECT c_id, g_id FROM (
                    SELECT c.c_id, g.g_id,
                           ROW_NUMBER() OVER (PARTITION BY c.c_id
                             ORDER BY round(list_dot_product(c.c_vec, g.g_vec) /
                               (sqrt(list_dot_product(c.c_vec, c.c_vec)) *
                                sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                               DESC, g.g_id) rn
                    FROM lcent c, lcrs g) t WHERE rn = 1),
          lcells AS (SELECT DISTINCT g_id, c_id FROM (
                       SELECT g_id, c_id FROM lrt
                       UNION ALL SELECT g_id, g_id FROM lcrs)),
          lvg AS (SELECT sid, g_id FROM (
                    SELECT e.sid, g.g_id,
                           ROW_NUMBER() OVER (PARTITION BY e.sid
                             ORDER BY round(list_dot_product(e.v, g.g_vec) /
                               (sqrt(list_dot_product(e.v, e.v)) *
                                sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                               DESC, g.g_id) rn
                    FROM le e, lcrs g) t WHERE rn = 1),
          lasn AS (SELECT sid, c_id FROM (
                     SELECT e.sid, lcells.c_id,
                            ROW_NUMBER() OVER (PARTITION BY e.sid
                              ORDER BY round(list_dot_product(e.v, c.c_vec) /
                                (sqrt(list_dot_product(e.v, e.v)) *
                                 sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                                DESC, lcells.c_id) rn
                     FROM le e JOIN lvg ON lvg.sid = e.sid
                            JOIN lcells ON lcells.g_id = lvg.g_id
                            JOIN lcent c ON c.c_id = lcells.c_id) t
                   WHERE rn = 1),
          lpr AS (SELECT a.sid a_id, b.sid b_id
                    FROM lasn a JOIN lasn b ON a.c_id = b.c_id AND a.sid < b.sid
                    JOIN le x ON x.sid = a.sid JOIN le y ON y.sid = b.sid
                    WHERE round(list_dot_product(x.v, y.v) /
                          (sqrt(list_dot_product(x.v, x.v)) *
                           sqrt(list_dot_product(y.v, y.v))), 4) >= 0.3),
          led AS (SELECT a_id u, b_id v FROM lpr
                  UNION ALL SELECT b_id, a_id FROM lpr),
          lwalk(u, r) AS (SELECT sid, sid FROM le
                          UNION
                          SELECT w.u, led.v FROM lwalk w JOIN led ON led.u = w.r),
          lcl AS (SELECT u sid, MIN(r) lbl FROM lwalk GROUP BY u),
          lsplit AS (SELECT sid,
                       CASE WHEN ('0x' || substr(md5(CAST(lbl AS VARCHAR)), 1, 15))
                              ::BIGINT % 100 < 80
                            THEN 'train' ELSE 'eval' END AS split
                     FROM lcl),
          $sem2lAsnCtes, $sem2lClusterCtes,
          pj AS (SELECT cl.sid, cl.lbl, ls.split pin_split
                 FROM cl LEFT JOIN lsplit ls ON ls.sid = cl.sid),
          inh AS (SELECT lbl, min_by(pin_split, sid) inh_split
                  FROM pj WHERE pin_split IS NOT NULL GROUP BY lbl)
          SELECT pj.sid AS vec_id, pj.lbl AS sem_cluster,
                 CASE WHEN pj.pin_split IS NOT NULL THEN pj.pin_split
                      WHEN i.inh_split IS NOT NULL THEN i.inh_split
                      WHEN ('0x' || substr(md5(CAST(pj.lbl AS VARCHAR)), 1, 15))
                             ::BIGINT % 100 < 80
                        THEN 'train' ELSE 'eval' END AS split,
                 CASE WHEN pj.pin_split IS NOT NULL THEN 'pinned'
                      WHEN i.inh_split IS NOT NULL THEN 'inherited'
                      ELSE 'fresh' END AS pin_state
          FROM pj LEFT JOIN inh i ON i.lbl = pj.lbl
          ORDER BY vec_id""",

    // q188: THREE sem2l chains — the landed release hashed (l), the
    // first grown corpus consulting it (m), the final corpus
    // consulting the rotated pin (f); each tier applies the identical
    // pinned > inherited(min-id) > fresh-hash lattice.
    "q188_split_pin_rotation" ->
      s"""WITH RECURSIVE
          ${sem2lChain("l", "WHERE vec_id % 10 NOT IN (3, 7)")},
          lsplit AS (SELECT sid, ${splitHash("lbl", 80)} AS split FROM lcl),
          ${sem2lChain("m", "WHERE vec_id % 10 != 7")},
          mpj AS (SELECT mcl.sid, mcl.lbl, ls.split pin
                  FROM mcl LEFT JOIN lsplit ls ON ls.sid = mcl.sid),
          minh AS (SELECT lbl, min_by(pin, sid) inh
                   FROM mpj WHERE pin IS NOT NULL GROUP BY lbl),
          msplit AS (SELECT mpj.sid,
                       CASE WHEN mpj.pin IS NOT NULL THEN mpj.pin
                            WHEN i.inh IS NOT NULL THEN i.inh
                            ELSE ${splitHash("mpj.lbl", 80)} END AS split
                     FROM mpj LEFT JOIN minh i ON i.lbl = mpj.lbl),
          ${sem2lChain("f", "")},
          fpj AS (SELECT fcl.sid, fcl.lbl, ms.split pin
                  FROM fcl LEFT JOIN msplit ms ON ms.sid = fcl.sid),
          finh AS (SELECT lbl, min_by(pin, sid) inh
                   FROM fpj WHERE pin IS NOT NULL GROUP BY lbl)
          SELECT fpj.sid AS vec_id, fpj.lbl AS sem_cluster,
                 CASE WHEN fpj.pin IS NOT NULL THEN fpj.pin
                      WHEN i.inh IS NOT NULL THEN i.inh
                      ELSE ${splitHash("fpj.lbl", 80)} END AS split,
                 CASE WHEN fpj.pin IS NOT NULL THEN 'pinned'
                      WHEN i.inh IS NOT NULL THEN 'inherited'
                      ELSE 'fresh' END AS pin_state
          FROM fpj LEFT JOIN finh i ON i.lbl = fpj.lbl
          ORDER BY vec_id""",

    // PQ encode (argmin shifted-L2 in e4 ints, ties low code id), ADC
    // integer-sum scoring, exact-cosine rerank of the top-20 — every
    // comparison an order-independent BIGINT, per the repo's
    // engine-agnostic exactness conventions.
    "q119_ann_topk_pq" ->
      """WITH e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
          js AS (SELECT unnest(range(4)) j),
          sub AS (SELECT sid, j, v[j*16+1 : (j+1)*16] sv FROM e, js),
          qq AS (SELECT sid q_id, v q_v FROM e WHERE sid % 100 = 0),
          cw AS (SELECT sid code_id, j, sv cw FROM sub WHERE sid % 25 = 7),
          codes AS (SELECT sid, j, code FROM (
                      SELECT s.sid, s.j, c.code_id code,
                             ROW_NUMBER() OVER (PARTITION BY s.sid, s.j
                               ORDER BY CAST(round(
                                 (2*list_dot_product(s.sv, c.cw) -
                                  list_dot_product(c.cw, c.cw)) * 10000)
                                 AS BIGINT) DESC, c.code_id) rn
                      FROM sub s JOIN cw c ON c.j = s.j) t WHERE rn = 1),
          lut AS (SELECT qs.sid q_id, c.j, c.code_id code,
                    CAST(round(list_dot_product(qs.sv, c.cw) * 10000)
                      AS BIGINT) term
                  FROM sub qs JOIN cw c ON c.j = qs.j
                  WHERE qs.sid % 100 = 0),
          appr AS (SELECT q_id, sid, SUM(term) a
                   FROM codes JOIN lut USING (j, code)
                   WHERE sid != q_id GROUP BY q_id, sid),
          short AS (SELECT q_id, sid FROM (
                      SELECT q_id, sid, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY a DESC, sid) cr FROM appr) t
                    WHERE cr <= 20),
          scored AS (SELECT s.q_id, s.sid,
                       round(list_dot_product(e.v, q.q_v) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(q.q_v, q.q_v))), 4) cos
                     FROM short s JOIN e ON e.sid = s.sid
                       JOIN qq q ON q.q_id = s.q_id),
          r AS (SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, sid) rnk
                FROM scored)
          SELECT q_id, rnk, sid vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // q117's verdict walk with q118's two-hop assignment replayed for
    // every vector against the LANDED codebook (fine ≡7 mod 25, coarse
    // ≡7 mod 125 — all landed: 7 mod 5 = 2).
    "q122_semantic_inc_2l" ->
      """WITH RECURSIVE
         e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
         cent AS (SELECT sid c_id, v c_vec FROM e
                  WHERE sid % 25 = 7 AND sid % 5 != 3),
         crs AS (SELECT sid g_id, v g_vec FROM e
                 WHERE sid % 125 = 7 AND sid % 5 != 3),
         rt AS (SELECT c_id, g_id FROM (
                  SELECT c.c_id, g.g_id,
                         ROW_NUMBER() OVER (PARTITION BY c.c_id
                           ORDER BY round(list_dot_product(c.c_vec, g.g_vec) /
                             (sqrt(list_dot_product(c.c_vec, c.c_vec)) *
                              sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                             DESC, g.g_id) rn
                  FROM cent c, crs g) t WHERE rn = 1),
         cells AS (SELECT DISTINCT g_id, c_id FROM (
                     SELECT g_id, c_id FROM rt
                     UNION ALL SELECT g_id, g_id FROM crs)),
         vg AS (SELECT sid, g_id FROM (
                  SELECT e.sid, g.g_id,
                         ROW_NUMBER() OVER (PARTITION BY e.sid
                           ORDER BY round(list_dot_product(e.v, g.g_vec) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(g.g_vec, g.g_vec))), 4)
                             DESC, g.g_id) rn
                  FROM e, crs g) t WHERE rn = 1),
         asn AS (SELECT sid, c_id FROM (
                   SELECT e.sid, cells.c_id,
                          ROW_NUMBER() OVER (PARTITION BY e.sid
                            ORDER BY round(list_dot_product(e.v, c.c_vec) /
                              (sqrt(list_dot_product(e.v, e.v)) *
                               sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                              DESC, cells.c_id) rn
                   FROM e JOIN vg ON vg.sid = e.sid
                          JOIN cells ON cells.g_id = vg.g_id
                          JOIN cent c ON c.c_id = cells.c_id) t
                 WHERE rn = 1),
         cand AS (SELECT a.sid a_id, b.sid b_id,
                    CASE WHEN b.sid % 5 = 3 THEN 'batch'
                         ELSE 'landed' END side
                  FROM asn a JOIN asn b ON a.c_id = b.c_id
                  WHERE a.sid % 5 = 3
                    AND (b.sid % 5 != 3 OR a.sid < b.sid)),
         ver AS (SELECT a_id, b_id, side FROM (
                   SELECT a_id, b_id, side,
                          round(list_dot_product(x.v, y.v) /
                                (sqrt(list_dot_product(x.v, x.v)) *
                                 sqrt(list_dot_product(y.v, y.v))), 4) cos
                   FROM cand JOIN e x ON x.sid = a_id
                             JOIN e y ON y.sid = b_id) t
                 WHERE cos >= 0.3),
         ld AS (SELECT DISTINCT a_id sid FROM ver WHERE side = 'landed'),
         bp AS (SELECT a_id, b_id FROM ver WHERE side = 'batch'
                  AND a_id NOT IN (SELECT sid FROM ld)
                  AND b_id NOT IN (SELECT sid FROM ld)),
         ed AS (SELECT a_id u, b_id v FROM bp
                UNION ALL SELECT b_id, a_id FROM bp),
         walk(u, r) AS (
           SELECT sid, sid FROM e WHERE sid % 5 = 3
           UNION
           SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
         cl AS (SELECT u AS sid, MIN(r) AS lbl FROM walk GROUP BY u)
         SELECT cl.sid AS vec_id,
                CASE WHEN cl.sid IN (SELECT sid FROM ld) THEN 'landed_dup'
                     WHEN cl.lbl != cl.sid THEN 'batch_dup'
                     ELSE 'keep' END AS verdict
         FROM cl
         ORDER BY vec_id""",

    "q145_ivfpq_recall" ->
      ivfPqRecallOracle(Seq((1, 4), (2, 4), (4, 4), (2, 1)), 5),

    "q146_power_iteration" -> powerIterOracle(3, "vector"),

    "q147_pca_project" -> powerIterOracle(3, "project"),

    "q149_variance_explained" -> powerIterOracle(3, "variance"),

    "q152_pca_second" -> powerIterSecondOracle(3, 3),

    // q119's PQ replay composed with IVF routing: corpus assignment
    // argmax over the ≡11 mod 50 cells, per-query top-3 probe, ADC
    // restricted to probed cells, exact-cosine rerank.
    "q133_ann_ivf_pq" ->
      s"""WITH ${ivfPqUniverseCtes()},
          ${ivfPqChainCtes("", "")}
          SELECT q_id, rnk, sid vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // q193: the rebuild+swap round-trip — "before" is q158's chain
    // (landed-drawn codebooks), "after" is q133's (codebooks from the
    // full grown corpus: the rebuilt release); union tagged.
    "q193_codebook_rebuild" ->
      s"""WITH ${ivfPqUniverseCtes()},
          ${ivfPqChainCtes("b_", " AND sid % 4 != 2")},
          ${ivfPqChainCtes("a_", "")}
          SELECT 'before' AS release, q_id, rnk, sid vec_id, cos
          FROM b_r WHERE rnk <= 5
          UNION ALL
          SELECT 'after', q_id, rnk, sid, cos FROM a_r WHERE rnk <= 5
          ORDER BY release, q_id, rnk""",

    // q158: q133's pipeline with BOTH codebooks drawn from the LANDED
    // slice only (sid % 4 != 2) while codes/assignments/serving run
    // over the full union — the landed-codebook one-shot the
    // incremental face must equal
    "q158_ivfpq_incremental" ->
      s"""WITH ${ivfPqUniverseCtes()},
          ${ivfPqChainCtes("", " AND sid % 4 != 2")}
          SELECT q_id, rnk, sid vec_id, cos FROM r WHERE rnk <= 5
          ORDER BY q_id, rnk""",

    // q159: q133's served chain + the brute-force ideal, both folded
    // through the SAME e6-frozen discount LUT (interpolated from
    // Similarity.ndcgDiscountsE6 — single source of the constants)
    "q159_served_ndcg" -> {
      val lut = graft.similarity.Similarity.ndcgDiscountsE6(5)
        .map { case (r, d) => s"($r, $d)" }.mkString(", ")
      s"""WITH e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
          js AS (SELECT unnest(range(4)) j),
          sub AS (SELECT sid, j, v[j*16+1 : (j+1)*16] sv FROM e, js),
          qq AS (SELECT sid q_id, v q_v FROM e WHERE sid % 100 = 0),
          cw AS (SELECT sid code_id, j, sv cw FROM sub WHERE sid % 25 = 7),
          codes AS (SELECT sid, j, code FROM (
                      SELECT s.sid, s.j, c.code_id code,
                             ROW_NUMBER() OVER (PARTITION BY s.sid, s.j
                               ORDER BY CAST(round(
                                 (2*list_dot_product(s.sv, c.cw) -
                                  list_dot_product(c.cw, c.cw)) * 10000)
                                 AS BIGINT) DESC, c.code_id) rn
                      FROM sub s JOIN cw c ON c.j = s.j) t WHERE rn = 1),
          lut AS (SELECT qs.sid q_id, c.j, c.code_id code,
                    CAST(round(list_dot_product(qs.sv, c.cw) * 10000)
                      AS BIGINT) term
                  FROM sub qs JOIN cw c ON c.j = qs.j
                  WHERE qs.sid % 100 = 0),
          crs AS (SELECT sid c_id, v c_vec FROM e WHERE sid % 50 = 11),
          asnv AS (SELECT sid, c_id FROM (
                     SELECT e.sid, c.c_id,
                            ROW_NUMBER() OVER (PARTITION BY e.sid
                              ORDER BY round(list_dot_product(e.v, c.c_vec) /
                                (sqrt(list_dot_product(e.v, e.v)) *
                                 sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                                DESC, c.c_id) rn
                     FROM e, crs c) t WHERE rn = 1),
          prb AS (SELECT q_id, c_id FROM (
                    SELECT q.q_id, c.c_id,
                           ROW_NUMBER() OVER (PARTITION BY q.q_id
                             ORDER BY round(list_dot_product(q.q_v, c.c_vec) /
                               (sqrt(list_dot_product(q.q_v, q.q_v)) *
                                sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                               DESC, c.c_id) rn
                    FROM qq q, crs c) t WHERE rn <= 3),
          cnd AS (SELECT p.q_id, a.sid FROM prb p JOIN asnv a USING (c_id)
                  WHERE a.sid != p.q_id),
          appr AS (SELECT c.q_id, c.sid, SUM(l.term) a
                   FROM cnd c JOIN codes co ON co.sid = c.sid
                     JOIN lut l ON l.q_id = c.q_id AND l.j = co.j
                                AND l.code = co.code
                   GROUP BY c.q_id, c.sid),
          short AS (SELECT q_id, sid FROM (
                      SELECT q_id, sid, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY a DESC, sid) cr FROM appr) t
                    WHERE cr <= 20),
          scored AS (SELECT s.q_id, s.sid,
                       round(list_dot_product(e.v, q.q_v) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(q.q_v, q.q_v))), 4) cos
                     FROM short s JOIN e ON e.sid = s.sid
                       JOIN qq q ON q.q_id = s.q_id),
          r AS (SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, sid) rnk
                FROM scored),
          bfr AS (SELECT q_id, rn rnk, cos FROM (
                    SELECT q.q_id, e.sid,
                           round(list_dot_product(e.v, q.q_v) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(q.q_v, q.q_v))), 4) cos,
                           ROW_NUMBER() OVER (PARTITION BY q.q_id
                             ORDER BY round(list_dot_product(e.v, q.q_v) /
                               (sqrt(list_dot_product(e.v, e.v)) *
                                sqrt(list_dot_product(q.q_v, q.q_v))), 4)
                               DESC, e.sid) rn
                    FROM e, qq q WHERE e.sid != q.q_id) t
                  WHERE rn <= 5),
          disc AS (SELECT * FROM (VALUES $lut) AS t(rnk, d)),
          srv AS (SELECT q_id, rnk, cos FROM r WHERE rnk <= 5),
          dg AS (SELECT s.q_id,
                   CAST(SUM((CAST(round(s.cos*10000) AS BIGINT) + 10000)
                     * d.d) AS BIGINT) dcg
                 FROM srv s JOIN disc d ON d.rnk = s.rnk GROUP BY s.q_id),
          ig AS (SELECT b.q_id,
                   CAST(SUM((CAST(round(b.cos*10000) AS BIGINT) + 10000)
                     * d.d) AS BIGINT) idcg
                 FROM bfr b JOIN disc d ON d.rnk = b.rnk GROUP BY b.q_id)
          SELECT i.q_id, CAST(COALESCE(dg.dcg, 0) AS BIGINT) dcg, i.idcg,
                 CASE WHEN i.idcg > 0 THEN
                   CAST(COALESCE(dg.dcg, 0) * 1000000 // i.idcg AS BIGINT)
                 END AS ndcg_ppm
          FROM ig i LEFT JOIN dg ON dg.q_id = i.q_id
          ORDER BY i.q_id"""
    },

    // q164: the x IS NULL OR NOT(|x| ≤ 3.4e38) predicate catches NULL
    // holes, NaN (comparisons false in Spark; NaN sorts above all
    // doubles in DuckDB — either way the ≤ fails) and ±Inf
    // identically in both engines
    "q164_embedding_health" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
          h AS (SELECT v IS NULL is_null,
                  COALESCE(len(list_filter(v,
                    x -> x IS NULL OR NOT (abs(x) <= 3.4e38))) > 0,
                    FALSE) bad,
                  v FROM e),
          p AS (SELECT is_null, bad,
                  CASE WHEN NOT is_null AND NOT bad
                    THEN CAST(len(v) AS BIGINT) END dim,
                  CASE WHEN NOT is_null AND NOT bad THEN
                    CAST(round(sqrt(list_dot_product(v, v)) * 10000)
                      AS BIGINT) END ne4
                FROM h)
          SELECT CAST(COUNT(*) AS BIGINT) n_rows,
                 CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
                   n_null,
                 CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
                   n_nonfinite,
                 CAST(SUM(CASE WHEN ne4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   n_zero_norm,
                 CAST(MIN(dim) AS BIGINT) min_dim,
                 CAST(MAX(dim) AS BIGINT) max_dim,
                 CAST(MIN(ne4) AS BIGINT) min_norm_e4,
                 CAST(MAX(ne4) AS BIGINT) max_norm_e4,
                 CAST(SUM(ne4) AS BIGINT) sum_norm_e4
          FROM p""",

    // q197: the q160 drift measurement (d-prefixed CTEs over the
    // shared universe) folded to the trip decision (threshold 0, the
    // entry's maxDriftPpm; NULL drift trips iff the batch has any
    // positive residual), then BOTH serve chains — q158's landed-
    // codebook chain for 'keep', q133's full-corpus chain for
    // 'rebuild' — with the final select gated on the decision scalar
    "q197_drift_policy" ->
      s"""WITH ${ivfPqUniverseCtes()},
          dle AS (SELECT * FROM e WHERE sid % 4 != 2),
          dbe AS (SELECT * FROM e WHERE sid % 4 = 2),
          dcrs AS (SELECT sid c_id, v c_vec FROM dle WHERE sid % 50 = 11),
          dres AS (SELECT grp, sid,
                     10000 - CAST(round(best * 10000) AS BIGINT) res
                   FROM (
                     SELECT 'landed' grp, dle.sid,
                            MAX(round(list_dot_product(dle.v, c.c_vec) /
                              (sqrt(list_dot_product(dle.v, dle.v)) *
                               sqrt(list_dot_product(c.c_vec, c.c_vec))), 4))
                              best
                     FROM dle, dcrs c GROUP BY dle.sid
                     UNION ALL
                     SELECT 'batch', dbe.sid,
                            MAX(round(list_dot_product(dbe.v, c.c_vec) /
                              (sqrt(list_dot_product(dbe.v, dbe.v)) *
                               sqrt(list_dot_product(c.c_vec, c.c_vec))), 4))
                     FROM dbe, dcrs c GROUP BY dbe.sid)),
          dfold AS (SELECT grp, CAST(COUNT(*) AS BIGINT) n,
                           CAST(SUM(res) AS BIGINT) sum_res,
                           CAST(MAX(res) AS BIGINT) max_res_e4
                    FROM dres GROUP BY grp),
          dlr AS (SELECT n ln, sum_res ls FROM dfold WHERE grp = 'landed'),
          dtrip AS (SELECT CASE WHEN ls > 0 THEN
                             CASE WHEN CAST(CAST(sum_res AS HUGEINT) * ln
                                    * 1000000 // (CAST(ls AS HUGEINT) * n)
                                    AS BIGINT) > 0 THEN 1 ELSE 0 END
                           WHEN max_res_e4 > 0 THEN 1 ELSE 0 END trip,
                           CASE WHEN ls > 0 THEN
                             CAST(CAST(sum_res AS HUGEINT) * ln * 1000000
                                  // (CAST(ls AS HUGEINT) * n) AS BIGINT)
                           END drift_ppm
                    FROM dfold, dlr WHERE grp = 'batch'),
          ${ivfPqChainCtes("b_", " AND sid % 4 != 2")},
          ${ivfPqChainCtes("a_", "")}
          SELECT 'keep' AS "action", t.drift_ppm, r.q_id, r.rnk, r.sid vec_id,
                 r.cos
          FROM b_r r, dtrip t WHERE t.trip = 0 AND r.rnk <= 5
          UNION ALL
          SELECT 'rebuild', t.drift_ppm, r.q_id, r.rnk, r.sid, r.cos
          FROM a_r r, dtrip t WHERE t.trip = 1 AND r.rnk <= 5
          ORDER BY q_id, rnk""",

    // q160: residual = 1e4 − best e4 cosine to the LANDED stride
    // codebook, per group; drift = one cross-multiplied HUGEINT
    // truncating division (the Spark side widens to DECIMAL(38,0))
    "q160_codebook_drift" ->
      """WITH e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
          le AS (SELECT * FROM e WHERE sid % 4 != 2),
          be AS (SELECT * FROM e WHERE sid % 4 = 2),
          crs AS (SELECT sid c_id, v c_vec FROM le WHERE sid % 50 = 11),
          res AS (SELECT grp, sid,
                    10000 - CAST(round(best * 10000) AS BIGINT) res
                  FROM (
                    SELECT 'landed' grp, le.sid,
                           MAX(round(list_dot_product(le.v, c.c_vec) /
                             (sqrt(list_dot_product(le.v, le.v)) *
                              sqrt(list_dot_product(c.c_vec, c.c_vec))), 4))
                             best
                    FROM le, crs c GROUP BY le.sid
                    UNION ALL
                    SELECT 'batch', be.sid,
                           MAX(round(list_dot_product(be.v, c.c_vec) /
                             (sqrt(list_dot_product(be.v, be.v)) *
                              sqrt(list_dot_product(c.c_vec, c.c_vec))), 4))
                    FROM be, crs c GROUP BY be.sid)),
          f AS (SELECT grp, CAST(COUNT(*) AS BIGINT) n,
                       CAST(SUM(res) AS BIGINT) sum_res,
                       CAST(MAX(res) AS BIGINT) max_res_e4
                FROM res GROUP BY grp),
          l AS (SELECT n ln, sum_res ls FROM f WHERE grp = 'landed')
          SELECT grp, n, CAST(sum_res // n AS BIGINT) mean_res_e4,
                 max_res_e4,
                 CASE WHEN grp = 'batch' AND ls > 0 THEN
                   CAST(CAST(sum_res AS HUGEINT) * ln * 1000000 //
                        (CAST(ls AS HUGEINT) * n) AS BIGINT)
                 END AS drift_ppm
          FROM f, l ORDER BY grp""",
  )

  /** q146/q147/q149's power iteration unrolled to `iters` explicit
    * CTE rounds: micro-unit triples (q96's quantizer), HUGEINT
    * dim-sums mirroring the Spark side's DECIMAL(38,0), non-negative
    * ∞-norm renormalization (trunc ≡ floor), lowest-index sign anchor.
    * `mode`: "vector" (q146 — the direction itself), "project" (q147 —
    * one more row-keyed sum over the final direction), "variance"
    * (q149 — Rayleigh quotient + trace + ratio, one row). */
  /** One top-chain power-iteration round (CTEs s/y/m/p/g/v suffixed
    * `i`, reading direction table `v${i-1}`) — shared by
    * [[powerIterOracle]] and [[powerIterSecondOracle]]. Every CTE is
    * MATERIALIZED: multiply-referenced round tables would otherwise be
    * INLINED per reference, duplicating the whole upstream subtree —
    * at 3+3 unrolled rounds the expansion is exponential (measured:
    * >20k parquet-scan opens, "Too many open files"). */
  private def piRound(i: Int): String =
    s"""s$i AS MATERIALIZED (SELECT rid, SUM(x * vv) s
               FROM q JOIN v${i - 1} USING (j) GROUP BY rid),
        y$i AS MATERIALIZED (SELECT j, SUM(CAST(x AS HUGEINT) * s) y
               FROM q JOIN s$i USING (rid) GROUP BY j),
        m$i AS MATERIALIZED (SELECT MAX(abs(y)) my FROM y$i),
        p$i AS MATERIALIZED (SELECT MIN(j) pj
               FROM y$i, m$i WHERE abs(y) = my),
        g$i AS MATERIALIZED (SELECT CASE WHEN y < 0 THEN -1 ELSE 1 END sg
               FROM y$i, p$i WHERE j = pj),
        v$i AS MATERIALIZED (SELECT j, CAST(sg *
                 (CASE WHEN y < 0 THEN -1 WHEN y > 0 THEN 1 ELSE 0 END)
                 * ((abs(y) * 1000000) // my) AS BIGINT) vv
               FROM y$i, m$i, g$i)"""

  protected def powerIterOracle(iters: Int, mode: String): String = {
    val rounds = (1 to iters).map(piRound).mkString(",\n          ")
    val tail = mode match {
      case "project" =>
        s"""SELECT rid AS vec_id, CAST(SUM(x * vv) AS BIGINT) AS proj_e12
            FROM q JOIN v$iters USING (j) GROUP BY rid ORDER BY vec_id"""
      case "variance" =>
        s""", sF AS (SELECT rid, SUM(x * vv) s
                  FROM q JOIN v$iters USING (j) GROUP BY rid),
          num AS (SELECT SUM(CAST(s AS HUGEINT) * s) ss,
                         CAST(COUNT(*) AS HUGEINT) c FROM sF),
          den AS (SELECT SUM(CAST(vv AS HUGEINT) * vv) dv FROM v$iters),
          trc AS (SELECT SUM(CAST(x AS HUGEINT) * x) t FROM q)
          SELECT CAST(ss // (dv * c) AS BIGINT) AS lambda1_mean_e12,
                 CAST(t // c AS BIGINT) AS trace_mean_e12,
                 CAST(((ss // (dv * c)) * 1000000) // (t // c) AS BIGINT)
                   AS ratio_ppm,
                 CAST(c AS BIGINT) AS n_vecs
          FROM num, den, trc"""
      case _ =>
        s"SELECT CAST(j AS INT) AS pos, vv AS v_e6 FROM v$iters ORDER BY pos"
    }
    s"""WITH e AS (SELECT vec_id rid, embedding::DOUBLE[] v FROM embeddings),
          js AS (SELECT unnest(range(64)) j),
          q AS MATERIALIZED (SELECT rid, j,
                  CAST(floor(v[j+1] * 1000000 + 0.5) AS BIGINT) x
                FROM e, js),
          v0 AS (SELECT j, CAST(1000000 AS BIGINT) vv FROM js),
          $rounds
          $tail"""
  }

  /** q152's deflated second-direction iteration unrolled: the top
    * chain to `v$itersTop` (the [[piRound]] CTEs), then per deflated
    * round the division-free orthogonalization
    * w = u·(v̂₁ᵀv̂₁) − v̂₁·(v̂₁ᵀu) (HUGEINT cross-scaling — no
    * negative-operand division exists), sign-safe ∞-renormalization,
    * and the same A·w exchange + anchor as the top rounds. */
  protected def powerIterSecondOracle(iters: Int, itersTop: Int): String = {
    val topRounds = (1 to itersTop).map(piRound).mkString(",\n          ")
    val defRounds = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT SUM(CAST(a.vv AS HUGEINT) * b.uu) c
                 FROM v$itersTop a JOIN u${i - 1} b USING (j)),
          w$i AS MATERIALIZED (SELECT b.j,
                   CAST(b.uu AS HUGEINT) * t - CAST(a.vv AS HUGEINT) * c wy
                 FROM v$itersTop a JOIN u${i - 1} b USING (j), vv1, c$i),
          mw$i AS MATERIALIZED (SELECT MAX(abs(wy)) mw FROM w$i),
          wp$i AS MATERIALIZED (SELECT j, CAST(
                   (CASE WHEN wy < 0 THEN -1 WHEN wy > 0 THEN 1 ELSE 0 END)
                   * ((abs(wy) * 1000000) // mw) AS BIGINT) ww
                 FROM w$i, mw$i),
          ds$i AS MATERIALIZED (SELECT rid, SUM(x * ww) s
                 FROM q JOIN wp$i USING (j) GROUP BY rid),
          dy$i AS MATERIALIZED (SELECT j, SUM(CAST(x AS HUGEINT) * s) y
                 FROM q JOIN ds$i USING (rid) GROUP BY j),
          dm$i AS MATERIALIZED (SELECT MAX(abs(y)) my FROM dy$i),
          dp$i AS MATERIALIZED (SELECT MIN(j) pj
                 FROM dy$i, dm$i WHERE abs(y) = my),
          dg$i AS MATERIALIZED (SELECT CASE WHEN y < 0 THEN -1 ELSE 1 END sg
                 FROM dy$i, dp$i WHERE j = pj),
          u$i AS MATERIALIZED (SELECT j, CAST(sg *
                   (CASE WHEN y < 0 THEN -1 WHEN y > 0 THEN 1 ELSE 0 END)
                   * ((abs(y) * 1000000) // my) AS BIGINT) uu
                 FROM dy$i, dm$i, dg$i)"""
    }.mkString(",\n          ")
    s"""WITH e AS (SELECT vec_id rid, embedding::DOUBLE[] v FROM embeddings),
          js AS (SELECT unnest(range(64)) j),
          q AS MATERIALIZED (SELECT rid, j,
                  CAST(floor(v[j+1] * 1000000 + 0.5) AS BIGINT) x
                FROM e, js),
          v0 AS (SELECT j, CAST(1000000 AS BIGINT) vv FROM js),
          $topRounds,
          vv1 AS MATERIALIZED (SELECT SUM(CAST(vv AS HUGEINT) * vv) t FROM v$itersTop),
          u0 AS (SELECT j, CAST(1000000 AS BIGINT) uu FROM js),
          $defRounds
          SELECT CAST(j AS INT) AS pos, uu AS v2_e6 FROM u$iters
          ORDER BY pos"""
  }

  /** q145's recall audit: q133's ivf-pq CTE chain instantiated once
    * per (nprobe, rerankFactor) configuration over shared
    * corpus-side CTEs (codes/LUT/assignments are config-independent),
    * each config folded against q21's exact-truth pairs. */
  protected def ivfPqRecallOracle(configs: Seq[(Int, Int)],
      k: Int): String = {
    val perCfg = configs.map { case (np, rf) =>
      val x = s"_${np}_$rf"
      s"""prb$x AS (SELECT q_id, c_id FROM (
                    SELECT q.q_id, c.c_id,
                           ROW_NUMBER() OVER (PARTITION BY q.q_id
                             ORDER BY round(list_dot_product(q.q_v, c.c_vec) /
                               (sqrt(list_dot_product(q.q_v, q.q_v)) *
                                sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                               DESC, c.c_id) rn
                    FROM qq q, crs c) t WHERE rn <= $np),
          cnd$x AS (SELECT p.q_id, a.sid FROM prb$x p
                    JOIN asnv a USING (c_id) WHERE a.sid != p.q_id),
          appr$x AS (SELECT c.q_id, c.sid, SUM(l.term) a
                   FROM cnd$x c JOIN codes co ON co.sid = c.sid
                     JOIN lut l ON l.q_id = c.q_id AND l.j = co.j
                                AND l.code = co.code
                   GROUP BY c.q_id, c.sid),
          short$x AS (SELECT q_id, sid FROM (
                      SELECT q_id, sid, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY a DESC, sid) cr FROM appr$x) t
                    WHERE cr <= ${k * rf}),
          got$x AS (SELECT q_id, vec_id FROM (
                     SELECT s.q_id, s.sid vec_id,
                       ROW_NUMBER() OVER (PARTITION BY s.q_id
                         ORDER BY round(list_dot_product(e.v, q.q_v) /
                               (sqrt(list_dot_product(e.v, e.v)) *
                                sqrt(list_dot_product(q.q_v, q.q_v))), 4)
                           DESC, s.sid) rnk
                     FROM short$x s JOIN e ON e.sid = s.sid
                       JOIN qq q ON q.q_id = s.q_id) t WHERE rnk <= $k),
          rec$x AS (SELECT $np nprobe, $rf rerank_factor,
                   CAST(COUNT(*) AS BIGINT) n_true,
                   CAST(SUM(CASE WHEN g.vec_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) n_found,
                   CAST(SUM(CASE WHEN g.vec_id IS NOT NULL
                     THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
                     recall_ppm
                 FROM tr LEFT JOIN got$x g
                   ON g.q_id = tr.q_id AND g.vec_id = tr.vec_id)"""
    }.mkString(",\n          ")
    val unions = configs
      .map { case (np, rf) => s"SELECT * FROM rec_${np}_$rf" }
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM embeddings),
          js AS (SELECT unnest(range(4)) j),
          sub AS (SELECT sid, j, v[j*16+1 : (j+1)*16] sv FROM e, js),
          qq AS (SELECT sid q_id, v q_v FROM e WHERE sid % 100 = 0),
          cw AS (SELECT sid code_id, j, sv cw FROM sub WHERE sid % 25 = 7),
          codes AS (SELECT sid, j, code FROM (
                      SELECT s.sid, s.j, c.code_id code,
                             ROW_NUMBER() OVER (PARTITION BY s.sid, s.j
                               ORDER BY CAST(round(
                                 (2*list_dot_product(s.sv, c.cw) -
                                  list_dot_product(c.cw, c.cw)) * 10000)
                                 AS BIGINT) DESC, c.code_id) rn
                      FROM sub s JOIN cw c ON c.j = s.j) t WHERE rn = 1),
          lut AS (SELECT qs.sid q_id, c.j, c.code_id code,
                    CAST(round(list_dot_product(qs.sv, c.cw) * 10000)
                      AS BIGINT) term
                  FROM sub qs JOIN cw c ON c.j = qs.j
                  WHERE qs.sid % 100 = 0),
          crs AS (SELECT sid c_id, v c_vec FROM e WHERE sid % 50 = 11),
          asnv AS (SELECT sid, c_id FROM (
                     SELECT e.sid, c.c_id,
                            ROW_NUMBER() OVER (PARTITION BY e.sid
                              ORDER BY round(list_dot_product(e.v, c.c_vec) /
                                (sqrt(list_dot_product(e.v, e.v)) *
                                 sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                                DESC, c.c_id) rn
                     FROM e, crs c) t WHERE rn = 1),
          tr AS (SELECT q_id, vec_id FROM (
                   SELECT q.q_id, e.sid vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_dot_product(e.v, q.q_v) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(q.q_v, q.q_v))), 4)
                         DESC, e.sid) rnk
                   FROM e, qq q WHERE e.sid != q.q_id) t WHERE rnk <= $k),
          $perCfg
          $unions ORDER BY nprobe, rerank_factor"""
  }


}
