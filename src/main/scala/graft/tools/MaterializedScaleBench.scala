package graft.tools

import graft.dedup.Dedup
import graft.functions.GeoFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** On-disk complement to [[ScaleBench]]: the in-memory probe isolates
  * algorithmic scaling (codegen/JIT cancel out of the ratio) but never
  * pays real parquet scan + shuffle I/O at the larger volume. This one
  * MATERIALIZES the replicated corpus to parquet first, then benches
  * the five heaviest operators reading from disk in a fresh
  * SparkSession (fresh file index, fresh plan cache), so the 1× vs N×
  * ratio includes scan, decode and shuffle spill exactly as a cluster
  * run would. Page cache stays warm between runs on one box — the
  * measured I/O is decode + shuffle, which is what scales with data;
  * cold-device read bandwidth is a cluster-provisioning constant, not
  * an operator property.
  *
  * Usage: runMain graft.tools.MaterializedScaleBench [factor] [outDir] [ops]
  * (`ops` = comma-separated op-name filter, e.g. at the 30× decade only
  * the heavy trio is worth the disk: q18_jaccard,q43_clusters,q68_novelty)
  */
object MaterializedScaleBench {
  /** The two-level sizing contract, `coarseFactor ≈ √nlist` for the
    * default fineStride 25 — shared by the q118/q122 probe rows and
    * their preps (prep and run must agree on the codebook). Counts the
    * ACTUAL fine-centroid population (ids ≡ 7 mod 25 surviving the
    * caller's filter) rather than estimating rows/25 — on a filtered
    * landed slice the two differ (every ≡7-mod-25 id survives %5!=3,
    * so nlist = landed/20 there, not landed/25). The count scans one
    * narrow column inside the probe region; prep and run agree. */
  private def cf2l(landed: DataFrame): Int = {
    val nlist = landed
      .filter(pmod(col("vec_id"), lit(25L)) === 7).count().toDouble
    math.max(2, math.round(math.sqrt(nlist)).toInt)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_scale")
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Bench's session, whose generated-class cache setup keeps the
    // probes measuring data scaling, not repeat compilation
    def session(): SparkSession = graft.util.LocalSession()

    // ---- phase 1: materialize both scales to parquet ----
    locally {
      val s = session()
      ScaleCorpus.docsAt(s, dir, 1).write.mode("overwrite")
        .parquet(s"$out/docs1")
      ScaleCorpus.docsAt(s, dir, factor).write.mode("overwrite")
        .parquet(s"$out/docs$factor")
      ScaleCorpus.eventsAt(s, dir, 1).write.mode("overwrite")
        .parquet(s"$out/events1")
      ScaleCorpus.eventsAt(s, dir, factor).write.mode("overwrite")
        .parquet(s"$out/events$factor")
      ScaleCorpus.embeddingsAt(s, dir, 1).write.mode("overwrite")
        .parquet(s"$out/emb1")
      ScaleCorpus.embeddingsAt(s, dir, factor).write.mode("overwrite")
        .parquet(s"$out/emb$factor")
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    // ---- phase 2: fresh session, everything read from disk ----
    val spark = session()
    def docs(k: Int): DataFrame = spark.read.parquet(s"$out/docs$k")
    def events(k: Int): DataFrame = spark.read.parquet(s"$out/events$k")
    def emb(k: Int): DataFrame = spark.read.parquet(s"$out/emb$k")

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    val ops: Seq[(String, Int => Long)] = Seq(
      // round-12 rows: the new heavy trio, probed the round they landed
      ("q92_mg_hh", k =>
        graft.curation.Curation.heavyHittersMG(docs(k), 25, 64).count()),
      ("q99_lsh_inc", k => {
        val d = docs(k)
        Dedup.lshIncrement(
          d.filter(pmod(col("doc_id"), lit(5L)) =!= 2),
          d.filter(pmod(col("doc_id"), lit(5L)) === 2)).count()
      }),
      ("q103_passages", k => Dedup.passageOverlapPairs(docs(k), 3).count()),
      // round-13 rows + the three r12 rows the probe history lacked
      ("q109_substring", k => Dedup.substringDedup(docs(k), 8).count()),
      ("q111_substr_inc", k => {
        val d = docs(k)
        Dedup.substringDedupIncrement(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 1),
          d.filter(pmod(col("doc_id"), lit(4L)) === 1), 8).count()
      }),
      ("q104_mix_merge", k => {
        val d = docs(k)
        val pa = graft.curation.Curation.mixturePartials(
          d.filter(pmod(col("doc_id"), lit(2L)) === 0))
        val pb = graft.curation.Curation.mixturePartials(
          d.filter(pmod(col("doc_id"), lit(2L)) === 1))
        graft.curation.Curation.mixtureFromPartials(pa.union(pb)).count()
      }),
      ("q105_dup_chunks", k =>
        graft.curation.Chunker.duplicateChunks(docs(k)).count()),
      // round-14 rows
      ("q112_substr_stats", k =>
        Dedup.substringDedupStats(docs(k), 8).count()),
      ("q113_bpe", k =>
        graft.curation.Bpe.bpeMerges(docs(k), 8).count()),
      ("q115_bpe_apply", k =>
        graft.curation.Bpe.bpeSegmentStats(docs(k), 8).count()),
      ("q114_semdedup", k =>
        // stride centroids: nlist grows with the corpus, so average
        // cluster size (the per-vector comparison budget B) stays
        // CONSTANT across factors — the operator's documented sizing
        graft.similarity.Similarity.semanticDedupFlat(emb(k)).count()),
      // Two-level sizing contract: coarseFactor ≈ √nlist so per-vector
      // assignment work is ncoarse + nlist/ncoarse ≈ 2√nlist — the
      // measured answer to q114's flat-assignment ratio (its 5.57× at
      // 10× is entirely the O(n·nlist) assignment term). The parquet
      // footer count that sizes it is metadata-cheap and in-region.
      ("q118_semdedup_2l", k => {
        val e = emb(k)
        val nlist = e.count() / 25.0
        val cf = math.max(2, math.round(math.sqrt(nlist)).toInt)
        graft.similarity.Similarity.semanticDedupTwoLevel(
          e, coarseFactor = cf).count()
      }),
      // Incremental-contract probe: the LANDED corpus grows with k
      // while the BATCH stays the 1x slice, and the landed index (vec
      // lookup + cluster assignment) is built OFF the clock (see
      // `preps`) exactly as Bench's index phase amortizes it — the
      // timed region is the per-batch marginal cost the incremental
      // contract promises. (A first cut replicated everything and
      // timed the index build in-region: 20.4x at 10x — that is the
      // landed assignment's n·nlist INDEX-build term, the documented
      // IVF trade, not the per-batch cost.)
      ("q117_sem_inc", k =>
        // q117's contract face is the FLAT increment (its prep builds
        // the flat landed index); the 2L twin is the q122 row
        graft.similarity.Similarity.semanticDedupIncrementFlat(
          emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 3),
          emb(1).filter(pmod(col("vec_id"), lit(5L)) === 3)).count()),
      // Two-level incremental: the batch assigns against the landed
      // codebook in two hops (coarseFactor ≈ √nlist), cutting q117's
      // linear-in-landed batch-assignment residual; landed 2L index
      // prebuilt off-clock (preps) per the incremental contract.
      ("q122_sem_inc_2l", k => {
        val landed = emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 3)
        graft.similarity.Similarity.semanticDedupIncrementTwoLevel(
          landed, emb(1).filter(pmod(col("vec_id"), lit(5L)) === 3),
          coarseFactor = cf2l(landed)).count()
      }),
      ("q108_verdicts", k => Dedup.dedupVerdicts(docs(k)).count()),
      // DSIR: token→bucket projection + two ≤1024-row aggregates + a
      // per-stratum rank window — linear by construction; the probe
      // certifies it
      ("q121_dsir", k =>
        graft.curation.Curation.dsirSelect(docs(k), "src0").count()),
      // trained LR quality filter: rounds × linear scans, constant
      // model; the probe certifies no hidden corpus-sized state
      ("q123_qc", k =>
        graft.curation.Curation.qualityClassifier(docs(k), "src0").count()),
      // data-parallel twin: the same rounds over two slices — the probe
      // certifies the per-slice partial fold adds no corpus-sized term
      ("q138_qc_merge", k =>
        graft.curation.Curation.qualityClassifierFromParts(
          Seq(docs(k).filter(pmod(col("doc_id"), lit(2L)) === 0),
            docs(k).filter(pmod(col("doc_id"), lit(2L)) === 1)),
          "src0").count()),
      // decode (mapPartitions, no shuffle) + band-bucket join + CC over
      // verified pairs — the q19/q43 shape on the media column
      ("q124_img_neardup", k =>
        graft.multimodal.Multimodal.imageNearDup(
          graft.multimodal.Multimodal.syntheticMedia(
            docs(k), "doc_id", "text")).count()),
      // incremental contract: landed distributions + thresholds
      // prebuilt off-clock (preps); timed region = batch projection +
      // two broadcast joins
      ("q125_dsir_inc", k =>
        graft.curation.Curation.dsirScoreIncrement(
          docs(k).filter(pmod(col("doc_id"), lit(4L)) =!= 2),
          docs(1).filter(pmod(col("doc_id"), lit(4L)) === 2),
          "src0").count()),
      // incremental contract: landed distinct-shingle set prebuilt
      // off-clock; timed region = batch shingling + one keyed probe
      ("q128_landed_contain", k =>
        Dedup.landedContainmentScreen(
          docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2),
          docs(1).filter(pmod(col("doc_id"), lit(5L)) === 2)).count()),
      // the composed gate under the incremental contract: every
      // landed-side index prebuilt off-clock (preps); timed region =
      // the batch-sized work of all six stages + the id joins
      // memoizeEvidence = false: the timed region must stay the
      // batch-sized stage work, not the evidence frame's cache
      // materialization (ratio comparability with pre-memo rounds)
      ("q129_gate", k =>
        Dedup.ingestGate(
          docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2),
          docs(1).filter(pmod(col("doc_id"), lit(5L)) === 2),
          emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 2),
          emb(1).filter(pmod(col("vec_id"), lit(5L)) === 2),
          "src0", memoizeEvidence = false).count()),
      // append-only IVF-PQ: landed routing/codes prebuilt off-clock
      // (preps); timed region = batch routing + encoding
      // (batch-rows × codebook — codebook grows with landed under the
      // stride seed, the known IVF probe term) + the query serve
      ("q158_ivfpq_inc", k =>
        graft.similarity.Similarity.ivfPqIncrement(
          emb(k).filter(pmod(col("vec_id"), lit(4L)) =!= 2),
          emb(1).filter(pmod(col("vec_id"), lit(4L)) === 2),
          emb(1).filter(pmod(col("vec_id"), lit(100)) === 0), 5).count()),
      ("q110_emb_inc", k => {
        val e = emb(k)
        // Size bitsPerBand to keep bucket population constant
        // (n/2^bits) — the operator's documented banding contract
        // ("size bitsPerBand ≈ log2(n)"). Probing FIXED bits at
        // growing n measured the quadratic bucket-population growth
        // the contract exists to prevent (9.75x at 30x with bits=8),
        // not the operator: with contract sizing the candidate space
        // stays ~linear. Cap at dim/bands = 16.
        val bits = math.min(16,
          8 + (math.log(k.toDouble) / math.log(2)).ceil.toInt)
        graft.similarity.Similarity.lshIncrement(
          e.filter(pmod(col("vec_id"), lit(5L)) =!= 2),
          e.filter(pmod(col("vec_id"), lit(5L)) === 2),
          bands = 4, bitsPerBand = bits, minCosine = 0.3).count()
      }),
      // round-15 rows: the media / LM / full-gate incremental cells —
      // landed index prebuilt off-clock (preps), batch stays the 1×
      // slice, timed region = per-batch marginal cost
      ("q130_img_inc", k =>
        graft.multimodal.Multimodal.imageNearDupIncrement(
          graft.multimodal.Multimodal.syntheticMedia(
            docs(k), "doc_id", "text")
            .filter(pmod(col("media_id"), lit(5L)) =!= 2),
          graft.multimodal.Multimodal.syntheticMedia(
            docs(1), "doc_id", "text")
            .filter(pmod(col("media_id"), lit(5L)) === 2)).count()),
      ("q131_ppl_inc", k =>
        graft.curation.Curation.perplexityFlagIncrement(
          docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2),
          docs(1).filter(pmod(col("doc_id"), lit(5L)) === 2)).count()),
      ("q132_gate_full", k =>
        Dedup.ingestGateFull(
          docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2),
          docs(1).filter(pmod(col("doc_id"), lit(5L)) === 2),
          emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 2),
          emb(1).filter(pmod(col("vec_id"), lit(5L)) === 2),
          "src0", memoizeEvidence = false).count()),
      ("q134_bpe_inc", k =>
        graft.curation.Bpe.bpeSegmentStatsIncrement(
          docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2),
          docs(1).filter(pmod(col("doc_id"), lit(5L)) === 2), 8).count()),
      // round-16 rows: compaction EXECUTED (a rewrite is linear by
      // construction — the probe checks the constant, not the shape),
      // the ivf-pq recall audit (queries fixed at the 1× slice: the
      // probe measures corpus-side scaling of route+ADC+rerank), and
      // the power-iteration pair (per-round row-keyed + dim-keyed
      // aggregates — linear in rows)
      ("q144_compaction", k => {
        val d = docs(k).withColumn("sz", length(col("text")).cast("long"))
        graft.exec.Layout.applyCompaction(d, "source", "doc_id", "sz",
          20000L, s"$out/compacted$k").count()
      }),
      ("q145_ivfpq_recall", k =>
        graft.similarity.Similarity.ivfPqRecall(emb(k),
          emb(1).filter(pmod(col("vec_id"), lit(100)) === 0), 5).count()),
      ("q146_power_iter", k =>
        graft.similarity.Similarity.powerIterationTop(emb(k), 3).count()),
      ("q147_pca_project", k =>
        graft.similarity.Similarity.pcaProjection(emb(k), 3).count()),
      // round-16 second half: triangle counting over the LSH candidate
      // graph (degree-ordered — out-degree bounded O(√m), so the wedge
      // join scales with triangles, not hub-degree²), the KMV
      // cross-source Jaccard (corpus-linear gram pass + strata·k
      // sketch), and the deflated second direction (2× the q146
      // exchange pair per round)
      ("q150_triangles", k =>
        graft.exec.Graph.triangleCount(
          Dedup.minHashLshPairs(docs(k), 3, 16, 4), docs(k)).count()),
      ("q151_src_jaccard", k =>
        Dedup.sourceJaccard(docs(k)).count()),
      ("q152_pca_second", k =>
        graft.similarity.Similarity.powerIterationSecond(emb(k), 3).count()),
      // round-16 third wave: the seeded global shuffle (range exchange
      // on the uniform hash key — a pure sort, the linear floor) and
      // the all-thresholds retention sweep (rides q18's capped pair
      // join; the sweep itself is a |thresholds|-row fold on top)
      ("q166_shuffle", k =>
        graft.curation.Curation.epochShuffle(docs(k), 42L, 8).count()),
      ("q173_xsource_lm", k =>
        graft.curation.Curation.crossSourceLmMatrix(docs(k)).count()),
      ("q167_sweep", k =>
        Dedup.dedupThresholdSweep(docs(k),
          Seq(40, 50, 60, 70, 80, 90)).count()),
      // round-18 rows: the served retrieval faces. q192's query set
      // derives from the corpus stride, so the probe measures
      // corpus×query-batch scaling together (the known ANN-PQ family
      // shape); q193's serve fixes queries at the 1× slice, so it
      // isolates corpus-side route+ADC+rerank under a released pin.
      // Both ride off-clock preps (the memoized index kinds — the
      // once-per-corpus cost Bench's index phase amortizes).
      ("q192_hybrid_served", k =>
        graft.curation.Curation.hybridRrfTopKServed(docs(k), emb(k)).count()),
      ("q193_released_serve", k =>
        graft.similarity.Similarity.ivfPqTopKReleased(emb(k),
          emb(1).filter(pmod(col("vec_id"), lit(100)) === 0), 5,
          s"probe-$k").count()),
      ("q18_jaccard", k => Dedup.ngramJaccardPairs(docs(k), 3, 0.35, 100).count()),
      ("q43_clusters", k => Dedup.dedupClusters(docs(k)).count()),
      ("q54_split", k => Dedup.leakageSafeSplit(docs(k), 80).count()),
      ("q68_novelty", k =>
        graft.curation.Curation.noveltyStats(docs(k)).count()),
      ("q24_cells", k => {
        val e = events(k)
          .withColumn("lon", lit(-74.05) + col("value") / lit(1000.0))
          .withColumn("lat", lit(40.5) + col("value") / lit(500.0))
          .withColumn("lon2", lit(-74.05) + (col("user_id") % 30).cast("double") / lit(100.0))
          .withColumn("lat2", lit(40.5) + (col("user_id") % 20).cast("double") / lit(50.0))
        e.select(col("event_id"),
          GeoFunctions.mapToGridCellsOnWay(col("lon"), col("lat"),
            col("lon2"), col("lat2")).as("cells"))
          .agg(sum(size(col("cells"))), count(lit(1))).head().getLong(1)
      }))

    // Untimed per-scale preparation for INCREMENTAL operators: their
    // landed-side index is a once-per-corpus build the production
    // shape (and Bench's index phase) amortizes across batches, so the
    // probe materializes it off the clock and times only the per-batch
    // marginal cost the incremental contract promises.
    val preps: Map[String, Int => Unit] = Map(
      "q192_hybrid_served" -> { k =>
        graft.curation.Curation.bm25Stats(docs(k)).count()
        graft.similarity.Similarity.landedIvfPqAssignment(emb(k)).count()
        graft.similarity.Similarity.landedIvfPqCodes(emb(k)).count()
        ()
      },
      "q193_released_serve" -> { k =>
        graft.similarity.Similarity.rebuildIvfPqRelease(emb(k), s"probe-$k")
        graft.similarity.Similarity.landedIvfPqAssignment(emb(k)).count()
        graft.similarity.Similarity.landedIvfPqCodes(emb(k)).count()
        ()
      },
      "q117_sem_inc" -> { k =>
        val landed = emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 3)
        graft.similarity.Similarity.landedVecLookup(landed).count()
        graft.similarity.Similarity.landedSemanticAssignment(landed).count()
        ()
      },
      "q122_sem_inc_2l" -> { k =>
        val landed = emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 3)
        val cf = cf2l(landed)
        graft.similarity.Similarity.landedVecLookup(landed).count()
        graft.similarity.Similarity.landedTwoLevelCells(
          landed, coarseFactor = cf).count()
        graft.similarity.Similarity.landedSemanticAssignment2L(
          landed, coarseFactor = cf).count()
        ()
      },
      "q158_ivfpq_inc" -> { k =>
        val landed = emb(k).filter(pmod(col("vec_id"), lit(4L)) =!= 2)
        graft.similarity.Similarity.landedIvfPqAssignment(landed).count()
        graft.similarity.Similarity.landedIvfPqCodes(landed).count()
        ()
      },
      "q125_dsir_inc" -> { k =>
        val landed = docs(k).filter(pmod(col("doc_id"), lit(4L)) =!= 2)
        graft.curation.Curation.landedDsirCounts(landed, "src0").count()
        graft.curation.Curation.landedDsirThresholds(landed, "src0").count()
        ()
      },
      "q128_landed_contain" -> { k =>
        Dedup.landedShingleSet(
          docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2)).count()
        ()
      },
      "q129_gate" -> { k =>
        val ld = docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2)
        val le = emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 2)
        Dedup.bandKeyTable(ld).count()
        Dedup.shingleHashes(ld, 3, "text", "doc_id").count()
        Dedup.landedShingleSet(ld).count()
        Dedup.landedFingerprints(ld).count()
        graft.similarity.Similarity.landedVecLookup(le).count()
        graft.similarity.Similarity.landedTwoLevelCells(le, 25, 8, 5).count()
        graft.similarity.Similarity.landedSemanticAssignment2L(
          le, 25, 8, 5).count()
        graft.curation.Curation.landedDsirCounts(ld, "src0").count()
        graft.curation.Curation.landedDsirThresholds(ld, "src0").count()
        ()
      },
      "q130_img_inc" -> { k =>
        graft.multimodal.Multimodal.landedImageBands(
          graft.multimodal.Multimodal.syntheticMedia(
            docs(k), "doc_id", "text")
            .filter(pmod(col("media_id"), lit(5L)) =!= 2)).count()
        ()
      },
      "q131_ppl_inc" -> { k =>
        val ld = docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2)
        graft.curation.Curation.landedBigramLm(ld).count()
        graft.curation.Curation.landedPplThresholds(ld).count()
        ()
      },
      "q134_bpe_inc" -> { k =>
        graft.curation.Bpe.baseDict(
          docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2)).count()
        ()
      },
      "q132_gate_full" -> { k =>
        val ld = docs(k).filter(pmod(col("doc_id"), lit(5L)) =!= 2)
        val le = emb(k).filter(pmod(col("vec_id"), lit(5L)) =!= 2)
        Dedup.bandKeyTable(ld).count()
        Dedup.shingleHashes(ld, 3, "text", "doc_id").count()
        Dedup.landedShingleSet(ld).count()
        Dedup.landedFingerprints(ld).count()
        graft.similarity.Similarity.landedVecLookup(le).count()
        graft.similarity.Similarity.landedTwoLevelCells(le, 25, 8, 5).count()
        graft.similarity.Similarity.landedSemanticAssignment2L(
          le, 25, 8, 5).count()
        graft.curation.Curation.landedDsirCounts(ld, "src0").count()
        graft.curation.Curation.landedDsirThresholds(ld, "src0").count()
        graft.curation.Curation.landedBigramLm(ld).count()
        graft.curation.Curation.landedPplThresholds(ld).count()
        ()
      })

    // release + COLLECT between timed regions: ProfileQ68 measured the
    // probe's q68 sample at 42 s where the isolated run is 6.7 s — the
    // released predecessor caches' GC debt was landing inside the next
    // timed region, the exact mechanism ProfileQ26 pinned in the bench
    // (Bench.exec collects outside the clock for the same reason)
    def release(): Unit = { graft.util.CacheRegistry.releaseAll(); System.gc() }
    val results = ops.filter(o => only.forall(_.contains(o._1))).map { case (name, run) =>
      release()
      preps.get(name).foreach(_(1))
      run(1) // warm pass: codegen + JIT, off the clock (I/O stays timed)
      release()
      preps.get(name).foreach(_(1))
      val (t1, r1) = time(run(1))
      release()
      preps.get(name).foreach(_(factor))
      val (tn, rn) = time(run(factor))
      release()
      def d(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      s""""$name":{"t1":${d(t1)},"rows1":$r1,"tN":${d(tn)},"rowsN":$rn,"ratio":${d(tn / t1)}}"""
    }
    println(s"""{"metric":"disk_scale_ratio","factor":$factor,"sf":"$dir","ops":{${results.mkString(",")}}}""")
    spark.stop()
  }
}
