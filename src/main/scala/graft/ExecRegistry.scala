package graft

import graft.exec.BatchExec
import graft.rules.RuleCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The warehouse-exec family registry: joins (as-of/range/bloom/
  * salted/bucketed), windows and sessions, set ops, sketches,
  * multimodal decode, storage layout (partition/bucket/Z-order/
  * compaction), graph analytics, and the skew planner. */
trait ExecRegistry extends EntryHelpers {

  /** A media increment's batch (q171 video, q175 audio): the %5 batch
    * slice plus re-upload twins, from media kind id ≡ `kind` (mod 3),
    * of a landed original (id ≡ 1 mod 10, +99999 → landed_dup) and of
    * a batch original (id ≡ 7 mod 10, +199998 → batch_dup). */
  private def mediaIncrementBatch(docs: DataFrame, kind: Int): DataFrame = {
    val d = docs.select("doc_id", "text")
    def twins(r10: Int, shift: Long) = d
      .filter(pmod(col("doc_id"), lit(3L)) === kind &&
        pmod(col("doc_id"), lit(10L)) === r10)
      .select((col("doc_id") + shift).as("doc_id"), col("text"))
    batch5(d).unionByName(twins(1, 99999L)).unionByName(twins(7, 199998L))
  }

  protected def execQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.dedup.Dedup
    import graft.functions.TextFunctions
    import graft.similarity.Similarity
    Map(

      // Global total-order numbering WITHOUT a single-reducer window:
      // range partition on the sort key, number within partitions, shift
      // by broadcast per-partition offsets.
      "q47_global_rownum" -> ((s, dir) =>
        graft.curation.Curation.globalRowNumber(table(s, dir, "documents"),
            sortCols = Seq("n_chars", "doc_id"), keep = Seq("doc_id"),
            nPartitions = 16)
          .select("doc_id", "n_chars", "rn")
          .orderBy("doc_id")),

      // Deterministic fixed-size per-stratum sample: the 50 smallest
      // hash60(doc_id) per source — a reproducible eval-set draw.
      "q53_stratum_sample_k" -> ((s, dir) =>
        graft.curation.Curation.stratumSampleK(
            table(s, dir, "documents").select("doc_id", "source"),
            "source", col("doc_id").cast("string"), k = 50)
          .orderBy("source", "doc_id")),

      // WEIGHTED fixed-k sample (priority sampling: 25 smallest
      // hash60(id) div n_chars per source — long docs win
      // proportionally). Built as a two-slice partials fold, so the
      // oracle's one-shot rank replay proves the merge exact
      // (q140's proof shape applied to sampling).
      "q156_weighted_sample" -> ((s, dir) => {
        val docs = table(s, dir, "documents")
        def slice(r: Int) = graft.curation.Curation.weightedSamplePartials(
          half(docs, r), "source",
          col("doc_id").cast("string"), col("n_chars"), 25)
        graft.curation.Curation.weightedSampleFromPartials(
            slice(0).unionByName(slice(1)), "source", 25)
          .orderBy("source", "sample_key")
      }),

      // Deterministic seeded epoch shuffle + contiguous shard
      // assignment: global order = hash60(seed:id) via the q47
      // two-level numbering — the training run's reproducibility
      // contract (same sequence on any cluster, fresh permutation
      // per seed).
      "q166_epoch_shuffle" -> ((s, dir) =>
        graft.curation.Curation.epochShuffle(
            table(s, dir, "documents"), seed = 42L, nShards = 8)
          .orderBy("pos")),

      // F1/F2/F4/F5/F6: geo scalar pack over synthesized coordinates
      // (pure-expression columns; no UDF).
      "q23_geo_enrich" -> ((s, dir) => {
        import graft.functions.GeoFunctions._
        val e = events(s, dir)
          .withColumn("lon", lit(-74.05) + col("value") / lit(1000.0))
          .withColumn("lat", lit(40.5) + col("value") / lit(500.0))
          .withColumn("lon2", lit(-74.05) + (col("user_id") % 30).cast("double") / lit(100.0))
          .withColumn("lat2", lit(40.5) + (col("user_id") % 20).cast("double") / lit(50.0))
        val cell = mapToGridCell(col("lon"), col("lat"))
        e.select(
          col("event_id"),
          isInNYC(col("lon"), col("lat")).as("in_nyc"),
          cell.as("cell"),
          round(gridCellCenterLon(cell), 6).as("center_lon"),
          round(gridCellCenterLat(cell), 6).as("center_lat"),
          round(euclideanDistance(col("lon"), col("lat"), col("lon2"), col("lat2")), 6)
            .as("dist_km"),
          directionAngle(col("lon"), col("lat"), col("lon2"), col("lat2")).as("dir_deg"))
          .orderBy("event_id")
      }),

      // Multimodal plumbing: synthetic binary media from documents →
      // stubbed decode → per-media feature summary + sampled-frame
      // counts. The stub codec (FNV-1a seed + LCG expansion,
      // Multimodal.StubCodec) is a pure integer function of the payload
      // bytes, so the oracle replays the SAME arithmetic in DuckDB with
      // HUGEINT mod-2^64 — a full hash check, not rows-only. Features
      // are summed in exact millis (each float is k/1000 by
      // construction; round(x*1000) recovers k losslessly), so
      // feat_ksum is integer-exact and feat_sum = ksum/1000.0 is one
      // IEEE division on both engines.
      "q25_multimodal_decode" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        val media = Multimodal.syntheticMedia(
          table(s, dir, "documents"), "doc_id", "text")
        val decoded = Multimodal.decodeImages(media, featureDim = 16)
          .withColumn("feat_ksum",
            aggregate(col("features"), lit(0L),
              (a, x) => a + round(x.cast("double") * 1000).cast("long")))
          .withColumn("feat_sum", col("feat_ksum") / lit(1000.0))
          .select(col("media_id"), col("width"), col("height"),
            col("feat_ksum"), col("feat_sum"))
        val frames = Multimodal.sampleFrames(media, stride = 10)
          .groupBy("media_id").agg(count(lit(1)).as("n_sampled"))
        decoded.join(frames, Seq("media_id"), "left")
          .na.fill(0L, Seq("n_sampled"))
          .orderBy("media_id")
      }),

      // Video near-dup via the frame-fingerprint inverted index; the
      // fixture unions a "re-upload" twin per video (same footage,
      // id+99999 ≡ same kind mod 3, frame count shifted) so partial-
      // overlap pairs exist on both sides of the Jaccard threshold.
      "q170_video_neardup" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        val docs = table(s, dir, "documents")
        val twins = docs.filter(col("doc_id") % 3 === 2)
          .select((col("doc_id") + 99999L).as("doc_id"), col("text"))
        val media = Multimodal.syntheticMedia(
          docs.select("doc_id", "text").unionByName(twins),
          "doc_id", "text")
        Multimodal.videoNearDup(media, stride = 10)
          .orderBy("a_id", "b_id")
      }),

      // Audio near-dup: q170's inverted-index shape over sampled
      // audio windows (kind = id%3==1), same re-upload twin fixture.
      "q174_audio_neardup" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        val docs = table(s, dir, "documents")
        val twins = docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 99999L).as("doc_id"), col("text"))
        val media = Multimodal.syntheticMedia(
          docs.select("doc_id", "text").unionByName(twins),
          "doc_id", "text")
        Multimodal.audioNearDup(media, stride = 10)
          .orderBy("a_id", "b_id")
      }),

      // Audio incremental cell: q171's contract over window
      // fingerprints, audio-kind slices.
      "q175_audio_incremental" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        val docs = table(s, dir, "documents")
        val landed = Multimodal.landedMediaSlice(docs)
        val batchDocs = mediaIncrementBatch(docs, 1)
        Multimodal.audioNearDupIncrement(landed,
            Multimodal.syntheticMedia(batchDocs, "doc_id", "text"),
            stride = 10, minJaccardPpm = 300000)
          .orderBy("media_id")
      }),

      // Video incremental cell: batch = the %5==2 slice + re-upload
      // twins of landed (%10==1, +99999 → landed_dup class) and of
      // batch originals (%10==7, +199998 → batch_dup class); landed
      // frame index memoized, batch samples only its own frames.
      "q171_video_incremental" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        val docs = table(s, dir, "documents")
        // the ONE landed-media definition the index phase also builds
        // (same plan → same registry key → the memoized "vid-frames"
        // index is probed, never rebuilt)
        val landed = Multimodal.landedMediaSlice(docs)
        val batchDocs = mediaIncrementBatch(docs, 2)
        Multimodal.videoNearDupIncrement(landed,
            Multimodal.syntheticMedia(batchDocs, "doc_id", "text"),
            stride = 10, minJaccardPpm = 300000)
          .orderBy("media_id")
      }),

      // F3: path rasterization to grid cells (codegen GridCellsOnWay
      // expression; oracle = the same slope walk as a DuckDB recursive
      // CTE).
      "q24_geo_cells_on_way" -> ((s, dir) => {
        import graft.functions.GeoFunctions._
        events(s, dir)
          .withColumn("lon", lit(-74.05) + col("value") / lit(1000.0))
          .withColumn("lat", lit(40.5) + col("value") / lit(500.0))
          .withColumn("lon2", lit(-74.05) + (col("user_id") % 30).cast("double") / lit(100.0))
          .withColumn("lat2", lit(40.5) + (col("user_id") % 20).cast("double") / lit(50.0))
          .select(col("event_id"),
            mapToGridCellsOnWay(col("lon"), col("lat"), col("lon2"), col("lat2"))
              .as("cells"))
          .select(col("event_id"), size(col("cells")).as("n_cells"),
            col("cells").getItem(0).as("first_cell"))
          .orderBy("event_id")
      }),

      // Sketch-path tolerance oracle (percentiles): approx_percentile's
      // value is NOT engine-reproducible by design, so the contract
      // output is the BOUND VERDICT — per (source, pct): stratum size
      // and ok=1 iff the sketch value's exact rank interval
      // [count(<)+1, count(<=)] overlaps the target rank ± the declared
      // tolerance (2·n/accuracy + 1 at accuracy 100, i.e. twice the GK
      // ε·n guarantee plus rank-convention slack). The oracle emits the
      // same exact rows with ok=1, so any out-of-bounds sketch value
      // hash-fails the gate. Exact values stay q45's job; this entry
      // gates the 100 TB production path (one scan, mergeable sketch,
      // broadcast of the |sources|×|pcts| sketch table for the rank
      // probe — no sort, no window).
      "q74_sketch_percentiles" -> ((s, dir) => {
        val pcts = Seq(2500, 5000, 7500, 9000)
        val data = table(s, dir, "documents")
          .select(col("source"), length(col("text")).cast("long").as("v"))
        val ap = graft.curation.Curation
          .approxDistributionStats(data, "source", "v", pcts, accuracy = 100)
        val tol = lit(2.0) * col("n") / lit(100) + lit(1.0)
        data.join(broadcast(ap), "source")
          .groupBy(col("source"), col("pct"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("v") <= col("value"), 1L).otherwise(0L)).as("le"),
            sum(when(col("v") < col("value"), 1L).otherwise(0L)).as("lt"))
          .select(col("source"), col("pct"), col("n"),
            when((col("lt") + 1).cast("double") <= col("pct") * col("n") + tol &&
                 col("le").cast("double") >= col("pct") * col("n") - tol,
              1L).otherwise(0L).as("ok"))
          .orderBy("source", "pct")
      }),

      // Sketch-path tolerance oracle (cardinality): HyperLogLog++
      // approx_count_distinct at rsd 0.05 vs the exact distinct count,
      // same verdict device — ok=1 iff |approx − exact| ≤ 3·rsd·exact
      // + 1 (3σ of the declared relative standard deviation, +1 for
      // tiny strata). Both counts ride one grouped aggregate; the HLL
      // sketch is the only distinct count that survives 100 TB, the
      // exact twin is its per-stratum audit.
      "q75_sketch_cardinality" -> ((s, dir) =>
        table(s, dir, "documents")
          .groupBy("source")
          .agg(approx_count_distinct(col("text"), 0.05).as("approx"),
            count_distinct(col("text")).as("n_distinct"))
          .select(col("source"), col("n_distinct"),
            when(abs(col("approx") - col("n_distinct")).cast("double") <=
                 lit(0.15) * col("n_distinct") + lit(1.0), 1L)
              .otherwise(0L).as("ok"))
          .orderBy("source")),

      // Bucketed storage round-trip: orders and customer are WRITTEN as
      // bucketed tables (hash layout persisted on custkey — the shuffle
      // a join needs, paid once at write), read back through the session
      // catalog, joined and aggregated. The RESULT is the correctness
      // face (the zero-exchange plan property is asserted in
      // StorageSpec with broadcast disabled); the oracle is the plain
      // relational join — bucketing must never change answers.
      "q76_bucketed_join" -> ((s, dir) => {
        import graft.sources.Tables
        // scratch path scoped to THIS Spark application so two
        // concurrent runs on one machine never overwrite each other's
        // bucket files mid-read (catalog names are already per-session)
        val tmp = s"/tmp/graft_${s.sparkContext.applicationId}/bucketed"
        Tables.writeBucketed(
          table(s, dir, "orders")
            .select(col("o_custkey").as("custkey"), col("o_totalprice")),
          "graft_b_orders", "custkey", 8, Some(s"$tmp/orders"))
        Tables.writeBucketed(
          table(s, dir, "customer")
            .select(col("c_custkey").as("custkey"), col("c_nationkey")),
          "graft_b_customer", "custkey", 8, Some(s"$tmp/customer"))
        s.table("graft_b_orders").join(s.table("graft_b_customer"), "custkey")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,6)")).cast("decimal(38,6)")
              .cast("double").as("revenue"))
          .orderBy("c_nationkey")
      }),

      // Audio decode windows: the q25 oracle device extended to the
      // per-window face — the payload's FNV hash is rolled two more
      // salt bytes (window_idx lo/hi) and expanded by the 13-step LCG;
      // the oracle replays the exact integer arithmetic in DuckDB
      // HUGEINT. Promotes the last multimodal spec-only face to a
      // CORRECTNESS row: window explosion count, per-window salt, and
      // feature derivation are all hash-checked.
      "q77_audio_windows" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        val media = Multimodal.syntheticMedia(
          table(s, dir, "documents"), "doc_id", "text")
        Multimodal.decodeAudio(media, featureDim = 13).toDF()
          .withColumn("feat_ksum",
            aggregate(col("features"), lit(0L),
              (a, x) => a + round(x.cast("double") * 1000).cast("long")))
          .select(col("media_id"), col("window_idx"), col("sample_rate"),
            col("feat_ksum"))
          .orderBy("media_id", "window_idx")
      }),

      // Partitioned storage round-trip (q76's device for the OTHER
      // layout): documents written hive-partitioned by source, read
      // back through a partition-column predicate — the scan prunes
      // directories (PartitionFilters, asserted in StorageSpec); the
      // oracle is the plain filtered aggregate, pinning that the
      // partition layout never changes answers (values round-tripping
      // through partition-directory STRINGS and back is exactly where
      // a type-coercion bug would corrupt silently).
      "q79_partitioned_read" -> ((s, dir) => {
        import graft.sources.Tables
        // per-application scratch path — same isolation rationale as q76
        val tmp = s"/tmp/graft_${s.sparkContext.applicationId}/partitioned/documents"
        registerTmpCleanup(
          new java.io.File(s"/tmp/graft_${s.sparkContext.applicationId}"))
        Tables.writePartitioned(
          table(s, dir, "documents").select("doc_id", "source", "text"),
          tmp, Seq("source"))
        val sources = table(s, dir, "documents")
          .select("source").distinct().orderBy("source")
          .collect().map(_.getString(0)).take(3)
        s.read.parquet(tmp)
          .filter(col("source").isin(sources: _*))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("total_chars"))
          .orderBy("source")
      }),

      // SQL registry face: the custom codegen CosineSimilarity
      // expression reached through PURE SQL — GraftExtensions.register +
      // spark.sql text, no DataFrame API in the query itself. The
      // arithmetic is the q21-proven double path (round 4dp matches
      // DuckDB bit-exactly); what this entry gates is the extension
      // wiring: FunctionIdentifier registration, unresolved-function
      // binding, and codegen through the SQL parser path.
      "q78_sql_registry" -> ((s, dir) => {
        graft.GraftExtensions.register(s)
        table(s, dir, "embeddings").createOrReplaceTempView("graft_embeddings")
        s.sql("""
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 round(cosine_sim(a.embedding, b.embedding), 4) AS cos
          FROM graft_embeddings a
          JOIN graft_embeddings b ON b.vec_id = a.vec_id + 1
          WHERE a.vec_id % 50 = 0
          ORDER BY a_id""")
      }),

      // Second SQL-registry consumer: the codegen GridCellsOnWay
      // expression through pure spark.sql text — grid-cell visit
      // hotspots over every event's start→end walk (explode the cell
      // array, count per cell, top 20 with a total tie-break order).
      // q78 proved the extension wiring for a scalar binary function;
      // this gates the quaternary array-producing one plus
      // explode-over-a-registered-function through the SQL parser
      // path. Scale shape: one scan, the walk is per-row codegen, the
      // aggregate is one hash shuffle on cell — top-k via
      // TakeOrderedAndProject.
      "q81_sql_cell_hotspots" -> ((s, dir) => {
        graft.GraftExtensions.register(s)
        events(s, dir).createOrReplaceTempView("graft_events")
        s.sql("""
          SELECT cell, CAST(count(*) AS BIGINT) AS n_visits
          FROM (
            SELECT explode(grid_cells_on_way(
                     -74.05 + value/1000.0, 40.5 + value/500.0,
                     -74.05 + CAST(user_id % 30 AS DOUBLE)/100.0,
                     40.5 + CAST(user_id % 20 AS DOUBLE)/50.0)) AS cell
            FROM graft_events)
          GROUP BY cell
          ORDER BY n_visits DESC, cell
          LIMIT 20""")
      }),

      // JSONL export/ingest round-trip — the q76/q79 storage device for
      // the TEXT format at the pipeline boundary: documents written as
      // JSON lines, read back with an explicit schema (never
      // inference), and summarized per source with order-insensitive
      // content integrity (bounded hash60 sums + min/max md5, so a
      // single corrupted or re-escaped text hash-fails); the oracle
      // computes the same summary from the ORIGINAL parquet — the
      // round-trip must change nothing.
      "q85_jsonl_roundtrip" -> ((s, dir) => {
        import graft.functions.TextFunctions.hash60
        import graft.sources.Tables
        val tmp = s"/tmp/graft_${s.sparkContext.applicationId}/jsonl/documents"
        Tables.writeJsonl(
          table(s, dir, "documents").select("doc_id", "source", "text"), tmp)
        Tables.readJsonl(s, tmp, "doc_id LONG, source STRING, text STRING")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(pmod(hash60(col("text")), lit(1000000000L))).as("text_hsum"),
            min(md5(col("text"))).as("min_md5"),
            max(md5(col("text"))).as("max_md5"))
          .orderBy("source")
      }),

      // Count-min heavy hitters: the mergeable sketch twin of q44 (the
      // relationship q75 has to exact distinct). Every hash is
      // md5-derived, so the oracle replays the EXACT cell counters —
      // est is hash-checked, not tolerance-banded; ok carries the
      // unconditional no-underestimate guarantee.
      "q87_countmin_heavy_hitters" -> ((s, dir) =>
        graft.curation.Curation.countMinTopK(table(s, dir, "documents"), k = 25)
          .orderBy(desc("freq"), asc("token"))),

      // Self-contained heavy hitters: q87's candidate gap closed — the
      // candidate set comes from per-partition Misra–Gries summaries
      // (union provably ⊇ every token with freq·64 > N), then an exact
      // recount of candidates only. The exact filter makes the answer
      // partition-independent, so the exact vocabulary top-k (q44's
      // shape) is demoted from dependency to oracle.
      "q92_mg_heavy_hitters" -> ((s, dir) =>
        graft.curation.Curation.heavyHittersMG(
            table(s, dir, "documents"), k = 25, capacity = 64)
          .orderBy(desc("freq"), asc("token"))),

      // Perceptual image near-dup: pHash-style mean-threshold bits over
      // the decoded feature vector, 4×15-bit band candidates, exact
      // hamming verify, CC — the dedup families extended to the binary
      // media column, end-to-end DuckDB-replayable via the stub codec.
      "q124_image_neardup" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        Multimodal.imageNearDup(Multimodal.syntheticMedia(
            table(s, dir, "documents"), "doc_id", "text"))
          .orderBy("media_id")
      }),

      // Incremental perceptual image near-dup — the MEDIA cell of the
      // incremental matrix: the %5==2 slice of the media table arrives
      // as a batch and probes the landed corpus's memoized pHash band
      // index (zero landed decode per batch); q110's verdict lattice
      // with band-value buckets and exact integer hamming verify.
      "q130_image_neardup_incremental" -> ((s, dir) => {
        import graft.multimodal.Multimodal
        val docs = table(s, dir, "documents")
        Multimodal.imageNearDupIncrement(
          Multimodal.landedMediaSlice(docs),
          Multimodal.batchMediaSlice(docs))
          .orderBy("media_id")
      }),

      // Compaction planning: documents packed per source, in doc_id
      // order, into contiguous ~20k-char bins — the small-files
      // maintenance plan computed from metadata only, reproducible
      // anywhere (pure integer prefix arithmetic, append-stable).
      "q142_compaction_plan" -> ((s, dir) =>
        graft.exec.Layout.compactionBins(
            table(s, dir, "documents"), "source", "doc_id", "n_chars",
            target = 20000L)
          .orderBy("source", "bin")),

      // Skew diagnosis + salting plan: event-type row counts against a
      // 500-rows-per-task budget; keys over budget get ⌈n/target⌉ salt
      // — the broadcast-sized table a salted join would consume.
      "q143_skew_plan" -> ((s, dir) =>
        graft.exec.Layout.skewPlan(
            events(s, dir), col("event_type"), target = 500L)
          .select(col("key").as("grp_key"), col("n"), col("salt"),
            col("share_ppm"))
          .orderBy("grp_key")),

      // Compaction EXECUTED: q142's plan applied to a real parquet
      // rewrite (one file per planned bin under source=…/bin=…), then
      // the compacted tree re-aggregated — counts/chars must match the
      // ORIGINAL table (layout never changes answers, the q79
      // property) and n_bins must match the plan arithmetic the oracle
      // replays. One shuffle total (the (stratum,bin) repartition —
      // compaction IS data movement).
      "q144_compaction_apply" -> ((s, dir) => {
        val tmp = s"/tmp/graft_${s.sparkContext.applicationId}/compacted/documents"
        registerTmpCleanup(
          new java.io.File(s"/tmp/graft_${s.sparkContext.applicationId}"))
        graft.exec.Layout.applyCompaction(
          table(s, dir, "documents")
            .select("doc_id", "source", "text", "n_chars"),
          "source", "doc_id", "n_chars", target = 20000L, tmp)
        s.read.parquet(tmp)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"),
            countDistinct(col("bin")).as("n_bins"))
          .orderBy("source")
      }),

      // Deterministic integer PageRank over the event-transition graph
      // (q62's Markov table as a weighted digraph): 5 synchronous
      // rounds, all rank mass in pico-units with floor-division
      // transfers, so the oracle replays the identical trajectory —
      // iterative graph analytics under the repo's exactness contract.
      "q141_pagerank" -> ((s, dir) => {
        val e = events(s, dir)
          .withColumn("tsm", expr("unix_micros(ts) div 1000"))
        val edges = graft.exec.Cohort.transitions(
          e, "user_id", "tsm", "event_id", "event_type")
        graft.exec.Graph.pageRank(edges, "from_type", "to_type", "n")
          .orderBy("node")
      }),

      // Per-node triangle count + local clustering coefficient over the
      // MinHash-LSH candidate graph (q19's pair set): degree-ordered
      // node-iterator — every edge oriented low→high under (degree, id),
      // wedges joined at the shared source, closed by an edge semi-join
      // — so each triangle counts once and per-node out-degree is
      // bounded O(√m) regardless of hub skew. The dedup-QA density
      // report: high-degree low-LCC nodes are hub false positives.
      "q150_triangle_count" -> ((s, dir) => {
        val docs = table(s, dir, "documents")
        graft.exec.Graph.triangleCount(
            Dedup.minHashLshPairs(docs, n = 3, k = 16, bands = 4), docs)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      }),

      // Mergeable HLL register partials (the distinct-count cell — and
      // the family's one MAX-merge): per-slice 64-register tables fold
      // by per-bucket maximum to exactly the one-shot registers; the
      // estimate is read off the fold with an integer-summed harmonic
      // denominator (no float fold order exists). Oracle = the
      // one-shot md5-register replay.
      "q139_hll_merge" -> ((s, dir) => {
        val docs = table(s, dir, "documents")
        val pa = graft.curation.Curation.hllPartials(
          half(docs, 0))
        val pb = graft.curation.Curation.hllPartials(
          half(docs, 1))
        graft.curation.Curation.distinctFromHllPartials(
          pa.unionByName(pb))
          .orderBy("bucket")
      }),

      // Mergeable value-histogram quantiles (the quantile cell): for an
      // integer-valued column the full-resolution histogram is a
      // lossless sum-merge summary, so the folded percentiles are
      // EXACT — oracle = q45's one-shot rank selection verbatim; the
      // windows run over the histogram, never the corpus.
      "q140_quantile_merge" -> ((s, dir) => {
        val docs = table(s, dir, "documents")
        val pa = graft.curation.Curation.histPartials(
          half(docs, 0),
          "source", "n_chars")
        val pb = graft.curation.Curation.histPartials(
          half(docs, 1),
          "source", "n_chars")
        graft.curation.Curation.distributionStatsFromPartials(
          pa.unionByName(pb), "source", Seq(5000, 9000, 9900))
          .orderBy("source", "pct")
      }),

      // Skew plan EXECUTED (the q142→q144 plan→execution pattern
      // applied to q143): the per-type dim joined to events through
      // applySkewPlan — keys the plan flags are salted at exactly
      // their planned ⌈n/target⌉ factor, unflagged keys pay nothing —
      // then re-aggregated. The oracle replays the PLAIN join, so the
      // hash match IS the salted ≡ unsalted answer-invariance proof;
      // JoinsSpec holds the task-side bound (no (key, cell) over ~2×
      // the target) on a skewed fixture.
      "q183_skew_join_apply" -> ((s, dir) => {
        val e = events(s, dir)
        val dim = e.groupBy("event_type")
          .agg(count(lit(1)).as("n_type"))
        val plan = graft.exec.Layout.skewPlan(e, col("event_type"), 500L)
        graft.exec.Joins.applySkewPlan(e, dim, "event_type", plan,
            saltCols = Seq("event_id"))
          .groupBy(col("event_type").as("grp_key"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("id_sum"),
            max(col("n_type")).as("n_type"))
          .orderBy("grp_key")
      }),
    )
  }

  /** The multimodal increments' landed media indexes, each one landed
    * decode / frame pass / window pass; batches probe them by
    * equi-join. */
  protected def execIndexes: Seq[IndexDecl] = {
    import graft.multimodal.Multimodal
    def landed(s: SparkSession, dir: String) =
      Multimodal.landedMediaSlice(documents(s, dir))
    Seq(
      IndexDecl("q130-img-bands", "q130_image_neardup_incremental")((s, dir) =>
        Multimodal.landedImageBands(landed(s, dir))),
      IndexDecl("q171-vid-frames", "q171_video_incremental")((s, dir) =>
        Multimodal.landedVideoFrames(landed(s, dir))),
      IndexDecl("q175-aud-windows", "q175_audio_incremental")((s, dir) =>
        Multimodal.landedAudioWindows(landed(s, dir))))
  }

  protected def execOracles: Map[String, String] = Map(
    // The stub codec replayed as exact integer arithmetic: FNV-1a over
    // the UTF-8 payload bytes (hex-pair extraction, xor, wrapping
    // multiply as HUGEINT mod 2^64), then 16 LCG steps summing
    // ((s >>> 40) % 1000) per feature — the identical math of
    // Multimodal.StubCodec.decodeFeatures. width/height/kind/n_frames
    // replay syntheticMedia's metadata formulas; n_sampled counts the
    // stride-10 frame explode for video rows only.
    "q25_multimodal_decode" ->
      """WITH RECURSIVE hx AS (
           SELECT doc_id, lower(hex(encode(text))) AS h,
                  octet_length(encode(text)) AS len
           FROM documents),
         fnv AS (
           SELECT doc_id, h, len, 0 AS i,
                  CAST(14695981039346656037 AS HUGEINT) AS acc FROM hx
           UNION ALL
           SELECT doc_id, h, len, i + 1,
                  (xor(acc, CAST((strpos('0123456789abcdef', substr(h, i*2+1, 1)) - 1) * 16
                              + strpos('0123456789abcdef', substr(h, i*2+2, 1)) - 1 AS HUGEINT))
                   * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
           FROM fnv WHERE i < len),
         lcg AS (
           SELECT doc_id, 0 AS j, acc AS s, CAST(0 AS HUGEINT) AS ksum
           FROM fnv WHERE i = len
           UNION ALL
           SELECT doc_id, j + 1,
                  (s * 6364136223846793005 + 1442695040888963407)
                    % CAST(18446744073709551616 AS HUGEINT),
                  ksum + CASE WHEN j = 0 THEN 0
                              ELSE (s // CAST(1099511627776 AS HUGEINT)) % 1000 END
           FROM lcg WHERE j <= 16),
         k AS (SELECT doc_id, CAST(ksum AS BIGINT) AS feat_ksum
               FROM lcg WHERE j = 17)
         SELECT d.doc_id AS media_id,
                CAST(d.doc_id % 640 + 32 AS INT) AS width,
                CAST(d.doc_id % 480 + 32 AS INT) AS height,
                k.feat_ksum,
                k.feat_ksum / 1000.0 AS feat_sum,
                CASE WHEN d.doc_id % 3 = 2
                     THEN (d.doc_id % 300) // 10 + 1 ELSE 0 END AS n_sampled
         FROM documents d JOIN k USING (doc_id)
         ORDER BY media_id""",

    // q174: q170's replay over the audio kind (id % 3 = 1)
    "q174_audio_neardup" ->
      """WITH v0 AS (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 99999, text FROM documents
                     WHERE doc_id % 3 = 1),
          vids AS (SELECT doc_id media_id, text,
                          doc_id % 300 + 1 AS n_frames
                   FROM v0 WHERE doc_id % 3 = 1),
          fr AS (SELECT media_id, text,
                        unnest(range(0, n_frames, 10)) i FROM vids),
          fp AS (SELECT DISTINCT media_id, md5(text || '#' || i) fp
                 FROM fr),
          capped AS (SELECT media_id, fp,
                       COUNT(*) OVER (PARTITION BY media_id) sz
                     FROM (SELECT *, COUNT(*) OVER (PARTITION BY fp) df
                           FROM fp) t
                     WHERE df <= 1000),
          p AS (SELECT a.media_id a_id, b.media_id b_id,
                       CAST(COUNT(*) AS BIGINT) inter,
                       CAST(MIN(a.sz) AS BIGINT) a_frames,
                       CAST(MIN(b.sz) AS BIGINT) b_frames
                FROM capped a JOIN capped b USING (fp)
                WHERE a.media_id < b.media_id GROUP BY 1, 2)
          SELECT a_id, b_id, inter, a_frames, b_frames,
                 inter * 1000000 // (a_frames + b_frames - inter)
                   AS jaccard_ppm
          FROM p
          WHERE inter * 1000000 // (a_frames + b_frames - inter) >= 500000
          ORDER BY a_id, b_id""",

    // q175: q171's replay over the audio kind (id % 3 = 1)
    "q175_audio_incremental" ->
      """WITH RECURSIVE
          base AS (SELECT doc_id, text FROM documents),
          lv AS (SELECT doc_id media_id, text, doc_id % 300 + 1 n_frames
                 FROM base WHERE doc_id % 3 = 1 AND doc_id % 5 != 2),
          bv0 AS (SELECT doc_id, text FROM base WHERE doc_id % 5 = 2
                  UNION ALL
                  SELECT doc_id + 99999, text FROM base
                  WHERE doc_id % 3 = 1 AND doc_id % 10 = 1
                  UNION ALL
                  SELECT doc_id + 199998, text FROM base
                  WHERE doc_id % 3 = 1 AND doc_id % 10 = 7),
          bv AS (SELECT doc_id media_id, text, doc_id % 300 + 1 n_frames
                 FROM bv0 WHERE doc_id % 3 = 1),
          lfp AS (SELECT media_id, fp,
                    COUNT(*) OVER (PARTITION BY media_id) sz
                  FROM (SELECT t.*, COUNT(*) OVER (PARTITION BY fp) df
                        FROM (SELECT DISTINCT media_id,
                                md5(text || '#' || i) fp
                              FROM (SELECT media_id, text,
                                      unnest(range(0, n_frames, 10)) i
                                    FROM lv)) t) c
                  WHERE df <= 1000),
          bfp AS (SELECT media_id, fp,
                    COUNT(*) OVER (PARTITION BY media_id) sz
                  FROM (SELECT t.*, COUNT(*) OVER (PARTITION BY fp) df
                        FROM (SELECT DISTINCT media_id,
                                md5(text || '#' || i) fp
                              FROM (SELECT media_id, text,
                                      unnest(range(0, n_frames, 10)) i
                                    FROM bv)) t) c
                  WHERE df <= 1000),
          ver AS (SELECT a_id, b_id, side FROM (
                    SELECT a.media_id a_id, b.media_id b_id, b.side,
                           COUNT(*) inter, MIN(a.sz) asz, MIN(b.sz) bsz
                    FROM bfp a JOIN (
                      SELECT media_id, fp, sz, 'batch' side FROM bfp
                      UNION ALL
                      SELECT media_id, fp, sz, 'landed' FROM lfp) b
                      USING (fp)
                    WHERE b.side = 'landed' OR a.media_id < b.media_id
                    GROUP BY 1, 2, 3) t
                  WHERE inter * 1000000 // (asz + bsz - inter) >= 300000),
          ld AS (SELECT DISTINCT a_id i FROM ver WHERE side = 'landed'),
          bp AS (SELECT a_id, b_id FROM ver WHERE side = 'batch'
                   AND a_id NOT IN (SELECT i FROM ld)
                   AND b_id NOT IN (SELECT i FROM ld)),
          ed AS (SELECT a_id u, b_id v FROM bp
                 UNION ALL SELECT b_id, a_id FROM bp),
          walk(u, r) AS (SELECT media_id, media_id FROM bv
                         UNION
                         SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
          cl AS (SELECT u media_id, MIN(r) lbl FROM walk GROUP BY u)
          SELECT media_id,
                 CASE WHEN media_id IN (SELECT i FROM ld) THEN 'landed_dup'
                      WHEN lbl != media_id THEN 'batch_dup'
                      ELSE 'keep' END AS verdict
          FROM cl ORDER BY media_id""",

    // q171: q170's fingerprint replay with q130's verdict lattice —
    // per-side df caps (the landed artifact is batch-independent),
    // landed absorption, recursive CC walk over batch pairs
    "q171_video_incremental" ->
      """WITH RECURSIVE
          base AS (SELECT doc_id, text FROM documents),
          lv AS (SELECT doc_id media_id, text, doc_id % 300 + 1 n_frames
                 FROM base WHERE doc_id % 3 = 2 AND doc_id % 5 != 2),
          bv0 AS (SELECT doc_id, text FROM base WHERE doc_id % 5 = 2
                  UNION ALL
                  SELECT doc_id + 99999, text FROM base
                  WHERE doc_id % 3 = 2 AND doc_id % 10 = 1
                  UNION ALL
                  SELECT doc_id + 199998, text FROM base
                  WHERE doc_id % 3 = 2 AND doc_id % 10 = 7),
          bv AS (SELECT doc_id media_id, text, doc_id % 300 + 1 n_frames
                 FROM bv0 WHERE doc_id % 3 = 2),
          lfp AS (SELECT media_id, fp,
                    COUNT(*) OVER (PARTITION BY media_id) sz
                  FROM (SELECT t.*, COUNT(*) OVER (PARTITION BY fp) df
                        FROM (SELECT DISTINCT media_id,
                                md5(text || '#' || i) fp
                              FROM (SELECT media_id, text,
                                      unnest(range(0, n_frames, 10)) i
                                    FROM lv)) t) c
                  WHERE df <= 1000),
          bfp AS (SELECT media_id, fp,
                    COUNT(*) OVER (PARTITION BY media_id) sz
                  FROM (SELECT t.*, COUNT(*) OVER (PARTITION BY fp) df
                        FROM (SELECT DISTINCT media_id,
                                md5(text || '#' || i) fp
                              FROM (SELECT media_id, text,
                                      unnest(range(0, n_frames, 10)) i
                                    FROM bv)) t) c
                  WHERE df <= 1000),
          ver AS (SELECT a_id, b_id, side FROM (
                    SELECT a.media_id a_id, b.media_id b_id, b.side,
                           COUNT(*) inter, MIN(a.sz) asz, MIN(b.sz) bsz
                    FROM bfp a JOIN (
                      SELECT media_id, fp, sz, 'batch' side FROM bfp
                      UNION ALL
                      SELECT media_id, fp, sz, 'landed' FROM lfp) b
                      USING (fp)
                    WHERE b.side = 'landed' OR a.media_id < b.media_id
                    GROUP BY 1, 2, 3) t
                  WHERE inter * 1000000 // (asz + bsz - inter) >= 300000),
          ld AS (SELECT DISTINCT a_id i FROM ver WHERE side = 'landed'),
          bp AS (SELECT a_id, b_id FROM ver WHERE side = 'batch'
                   AND a_id NOT IN (SELECT i FROM ld)
                   AND b_id NOT IN (SELECT i FROM ld)),
          ed AS (SELECT a_id u, b_id v FROM bp
                 UNION ALL SELECT b_id, a_id FROM bp),
          walk(u, r) AS (SELECT media_id, media_id FROM bv
                         UNION
                         SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
          cl AS (SELECT u media_id, MIN(r) lbl FROM walk GROUP BY u)
          SELECT media_id,
                 CASE WHEN media_id IN (SELECT i FROM ld) THEN 'landed_dup'
                      WHEN lbl != media_id THEN 'batch_dup'
                      ELSE 'keep' END AS verdict
          FROM cl ORDER BY media_id""",

    // q170: frame payload = UTF-8(text) ++ UTF-8('#i'), so the frame
    // fingerprint replays as md5(text || '#' || i); sz is computed
    // over the df-capped space on both sides (the q18 convention)
    "q170_video_neardup" ->
      """WITH v0 AS (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 99999, text FROM documents
                     WHERE doc_id % 3 = 2),
          vids AS (SELECT doc_id media_id, text,
                          doc_id % 300 + 1 AS n_frames
                   FROM v0 WHERE doc_id % 3 = 2),
          fr AS (SELECT media_id, text,
                        unnest(range(0, n_frames, 10)) i FROM vids),
          fp AS (SELECT DISTINCT media_id, md5(text || '#' || i) fp
                 FROM fr),
          capped AS (SELECT media_id, fp,
                       COUNT(*) OVER (PARTITION BY media_id) sz
                     FROM (SELECT *, COUNT(*) OVER (PARTITION BY fp) df
                           FROM fp) t
                     WHERE df <= 1000),
          p AS (SELECT a.media_id a_id, b.media_id b_id,
                       CAST(COUNT(*) AS BIGINT) inter,
                       CAST(MIN(a.sz) AS BIGINT) a_frames,
                       CAST(MIN(b.sz) AS BIGINT) b_frames
                FROM capped a JOIN capped b USING (fp)
                WHERE a.media_id < b.media_id GROUP BY 1, 2)
          SELECT a_id, b_id, inter, a_frames, b_frames,
                 inter * 1000000 // (a_frames + b_frames - inter)
                   AS jaccard_ppm
          FROM p
          WHERE inter * 1000000 // (a_frames + b_frames - inter) >= 500000
          ORDER BY a_id, b_id""",

    "q47_global_rownum" ->
      """SELECT doc_id, n_chars,
                row_number() OVER (ORDER BY n_chars, doc_id) AS rn
         FROM documents ORDER BY doc_id""",

    // Tolerance-mode oracles: the sketch value itself is not
    // engine-reproducible, so the contract row carries the exact
    // stratum stats plus the bound verdict, and the oracle asserts the
    // verdict is 1 everywhere — an out-of-bounds sketch hash-fails.
    "q74_sketch_percentiles" ->
      """WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) n
                    FROM documents GROUP BY source)
         SELECT source, pct, n, CAST(1 AS BIGINT) AS ok
         FROM s CROSS JOIN (VALUES (0.25), (0.50), (0.75), (0.90)) p(pct)
         ORDER BY source, pct""",

    "q75_sketch_cardinality" ->
      """SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
                CAST(1 AS BIGINT) AS ok
         FROM documents GROUP BY source ORDER BY source""",

    // Bucketing must never change answers: the oracle is the plain join.
    "q76_bucketed_join" ->
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                     AS DECIMAL(38,6)) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",

    // The q25 FNV/LCG HUGEINT replay, extended per window: the payload
    // hash is rolled two salt bytes (window lo/hi) then expanded by the
    // 13-step LCG; ksum = Σ (state >> 40) % 1000 over the 13 states.
    "q77_audio_windows" ->
      """WITH RECURSIVE hx AS (
           SELECT doc_id, lower(hex(encode(text))) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE doc_id % 3 = 1),
         fnv AS (
           SELECT doc_id, h, len, 0 AS i,
                  CAST(14695981039346656037 AS HUGEINT) AS acc FROM hx
           UNION ALL
           SELECT doc_id, h, len, i + 1,
                  (xor(acc, CAST((strpos('0123456789abcdef', substr(h, i*2+1, 1)) - 1) * 16
                              + strpos('0123456789abcdef', substr(h, i*2+2, 1)) - 1 AS HUGEINT))
                   * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
           FROM fnv WHERE i < len),
         base AS (SELECT doc_id, acc FROM fnv WHERE i = len),
         wins AS (
           SELECT doc_id, acc, unnest(range(0, (doc_id % 300) + 1)) AS w
           FROM base),
         s1 AS (
           SELECT doc_id, w,
                  (xor(acc, CAST(w % 256 AS HUGEINT)) * 1099511628211)
                    % CAST(18446744073709551616 AS HUGEINT) AS acc
           FROM wins),
         s2 AS (
           SELECT doc_id, w,
                  (xor(acc, CAST((w // 256) % 256 AS HUGEINT)) * 1099511628211)
                    % CAST(18446744073709551616 AS HUGEINT) AS acc
           FROM s1),
         lcg AS (
           SELECT doc_id, w, 0 AS j, acc AS st, CAST(0 AS HUGEINT) AS ksum
           FROM s2
           UNION ALL
           SELECT doc_id, w, j + 1,
                  (st * 6364136223846793005 + 1442695040888963407)
                    % CAST(18446744073709551616 AS HUGEINT),
                  ksum + CASE WHEN j = 0 THEN 0
                              ELSE (st // CAST(1099511627776 AS HUGEINT)) % 1000 END
           FROM lcg WHERE j <= 13),
         k AS (SELECT doc_id, w, CAST(ksum AS BIGINT) AS feat_ksum
               FROM lcg WHERE j = 14)
         SELECT doc_id AS media_id, CAST(w AS INT) AS window_idx,
                CAST(16000 AS INT) AS sample_rate, feat_ksum
         FROM k ORDER BY media_id, window_idx""",

    // Partition layout must never change answers: plain filtered agg.
    "q79_partitioned_read" ->
      """WITH s3 AS (SELECT DISTINCT source FROM documents
                     ORDER BY source LIMIT 3)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(length(text)) AS BIGINT) AS total_chars
         FROM documents WHERE source IN (SELECT source FROM s3)
         GROUP BY source ORDER BY source""",

    // Same double arithmetic as the q21 cosine oracle (round 4dp).
    "q78_sql_registry" ->
      """WITH a AS (SELECT vec_id, embedding::DOUBLE[] AS av
                    FROM embeddings WHERE vec_id % 50 = 0),
          b AS (SELECT vec_id, embedding::DOUBLE[] AS bv FROM embeddings)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                round(list_dot_product(av, bv) /
                      (sqrt(list_dot_product(av, av)) *
                       sqrt(list_dot_product(bv, bv))), 4) AS cos
         FROM a JOIN b ON b.vec_id = a.vec_id + 1
         ORDER BY a_id""",

    // The q24 recursive-CTE slope walk, re-aggregated: every walk row IS
    // one visited cell, so hotspot counts are a GROUP BY over the same
    // CTE (identical IEEE doubles → identical cells → identical counts).
    // Total tie-break (n_visits DESC, cell) makes LIMIT 20 deterministic.
    "q81_sql_cell_hotspots" ->
      """WITH RECURSIVE seg AS (
           SELECT event_id,
                  CAST(floor((abs(-74.05) - abs(-74.05 + value/1000.0))/0.0014) AS INT) AS xa,
                  CAST(floor((41.0 - (40.5 + value/500.0))/0.00125) AS INT) AS ya,
                  CAST(floor((abs(-74.05) - abs(-74.05 + (user_id % 30)::DOUBLE/100.0))/0.0014) AS INT) AS xb,
                  CAST(floor((41.0 - (40.5 + (user_id % 20)::DOUBLE/50.0))/0.00125) AS INT) AS yb
           FROM events),
         s3 AS (
           SELECT event_id,
                  CASE WHEN xa <= xb THEN xa ELSE xb END AS startX,
                  CASE WHEN xa <= xb THEN ya ELSE yb END AS startY,
                  CASE WHEN xa <= xb THEN xb ELSE xa END AS endX,
                  CASE WHEN xa <= xb THEN yb ELSE ya END AS endY,
                  ((CASE WHEN xa <= xb THEN yb ELSE ya END) -
                   (CASE WHEN xa <= xb THEN ya ELSE yb END)) /
                  (((CASE WHEN xa <= xb THEN xb ELSE xa END) -
                    (CASE WHEN xa <= xb THEN xa ELSE xb END)) + 0.00000001) AS slope
           FROM seg),
         walk AS (
           SELECT event_id, startX, startY, endX, endY, slope,
                  startX AS curX, startY AS curY, 0 AS n
           FROM s3
           UNION ALL
           SELECT event_id, startX, startY, endX, endY, slope,
                  curX + CASE WHEN slope > 0 THEN
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN 1
                                WHEN yest < curY THEN 1 ELSE 0 END
                         ELSE
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN 1
                                WHEN yest > curY THEN 1 ELSE 0 END END,
                  curY + CASE WHEN slope > 0 THEN
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN 1
                                WHEN yest < curY THEN 0 ELSE 1 END
                         ELSE
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN -1
                                WHEN yest > curY THEN 0 ELSE -1 END END,
                  n + 1
           FROM (SELECT *, CASE WHEN slope > 0
                   THEN (curX - startX + 0.5) * slope + startY - 0.5
                   ELSE (curX - startX + 0.5) * slope + startY + 0.5 END AS yest
                 FROM walk) w
           WHERE (curX < endX OR curY != endY) AND n < 100000)
         SELECT CAST(curX + curY*250 AS INT) AS cell,
                CAST(COUNT(*) AS BIGINT) AS n_visits
         FROM walk
         GROUP BY 1
         ORDER BY n_visits DESC, cell
         LIMIT 20""",

    // Computed from the ORIGINAL parquet (the round-trip must preserve
    // every byte); hash60 = first 15 md5 hex digits as a 60-bit int,
    // the q20/q54 device.
    "q85_jsonl_roundtrip" ->
      """SELECT source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                CAST(SUM((('0x' || substr(md5(text), 1, 15))::BIGINT)
                         % 1000000000) AS BIGINT) AS text_hsum,
                MIN(md5(text)) AS min_md5,
                MAX(md5(text)) AS max_md5
         FROM documents GROUP BY source ORDER BY source""",

    // Full count-min replay: the md5-derived cell hash makes the sketch
    // itself engine-reproducible, so the oracle rebuilds every counter
    // and the estimate column hash-matches exactly (no tolerance band).
    "q87_countmin_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                      FROM documents),
          cells AS (SELECT r,
                      ('0x' || substr(md5(CAST(r AS VARCHAR) || ' ' || token), 1, 15))::BIGINT
                        % 256 AS b,
                      CAST(COUNT(*) AS BIGINT) AS c
                    FROM tok CROSS JOIN range(4) t(r) GROUP BY 1, 2),
          top AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tok
                  GROUP BY token ORDER BY freq DESC, token LIMIT 25),
          probes AS (SELECT token, freq, r,
                       ('0x' || substr(md5(CAST(r AS VARCHAR) || ' ' || token), 1, 15))::BIGINT
                         % 256 AS b
                     FROM top CROSS JOIN range(4) t(r)),
          e AS (SELECT token, MIN(freq) AS freq, MIN(c) AS est
                FROM probes JOIN cells USING (r, b) GROUP BY token)
          SELECT token, freq, est,
                 CAST(CASE WHEN est >= freq THEN 1 ELSE 0 END AS BIGINT) AS ok
          FROM e ORDER BY freq DESC, token""",

    "q53_stratum_sample_k" ->
      """WITH h AS (SELECT doc_id, source,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT hh
                    FROM documents),
          r AS (SELECT doc_id, source, row_number() OVER
                  (PARTITION BY source
                   ORDER BY hh, CAST(doc_id AS VARCHAR)) rnk FROM h)
          SELECT doc_id, source FROM r WHERE rnk <= 50
          ORDER BY source, doc_id""",

    // q156: the one-shot priority-sampling rank — non-negative
    // operands make DuckDB's floor-// and Spark's truncating div agree
    "q156_weighted_sample" ->
      """WITH h AS (SELECT source, CAST(doc_id AS VARCHAR) sample_key,
                      CAST(n_chars AS BIGINT) weight,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        // n_chars AS BIGINT) prio
                    FROM documents WHERE n_chars > 0),
          r AS (SELECT *, row_number() OVER
                  (PARTITION BY source ORDER BY prio, sample_key) rnk
                FROM h)
          SELECT source, sample_key, weight, prio FROM r WHERE rnk <= 25
          ORDER BY source, sample_key""",

    // q166: the permutation is a pure function of (seed, id) — the
    // oracle replays the same hash60 order; contiguous shard =
    // (pos-1)·nShards div N, non-negative so floor-// and truncating
    // div agree
    "q166_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
                      ('0x' || substr(md5(42 || ':' || doc_id), 1, 15))::BIGINT
                        shuf_key
                    FROM documents),
          n AS (SELECT CAST(COUNT(*) AS BIGINT) c FROM k),
          r AS (SELECT doc_id, shuf_key,
                  CAST(row_number() OVER (ORDER BY shuf_key, doc_id)
                    AS BIGINT) pos
                FROM k)
          SELECT r.doc_id, r.shuf_key, r.pos,
                 (r.pos - 1) * 8 // n.c AS shard
          FROM r, n ORDER BY r.pos""",

    // The slope walk of GeoFunctions.mapToGridCellsOnWay, replayed as a
    // recursive CTE: identical IEEE double math (slope, y-estimate) and
    // identical step CASEs, so cell counts match bit-for-bit. n bounds the
    // recursion exactly like the UDF's guard (never hit — the fixed walk
    // terminates in ≤ |Δx|+|Δy|+1 steps).
    "q24_geo_cells_on_way" ->
      """WITH RECURSIVE seg AS (
           SELECT event_id,
                  CAST(floor((abs(-74.05) - abs(-74.05 + value/1000.0))/0.0014) AS INT) AS xa,
                  CAST(floor((41.0 - (40.5 + value/500.0))/0.00125) AS INT) AS ya,
                  CAST(floor((abs(-74.05) - abs(-74.05 + (user_id % 30)::DOUBLE/100.0))/0.0014) AS INT) AS xb,
                  CAST(floor((41.0 - (40.5 + (user_id % 20)::DOUBLE/50.0))/0.00125) AS INT) AS yb
           FROM events),
         s3 AS (
           SELECT event_id,
                  CASE WHEN xa <= xb THEN xa ELSE xb END AS startX,
                  CASE WHEN xa <= xb THEN ya ELSE yb END AS startY,
                  CASE WHEN xa <= xb THEN xb ELSE xa END AS endX,
                  CASE WHEN xa <= xb THEN yb ELSE ya END AS endY,
                  ((CASE WHEN xa <= xb THEN yb ELSE ya END) -
                   (CASE WHEN xa <= xb THEN ya ELSE yb END)) /
                  (((CASE WHEN xa <= xb THEN xb ELSE xa END) -
                    (CASE WHEN xa <= xb THEN xa ELSE xb END)) + 0.00000001) AS slope
           FROM seg),
         walk AS (
           SELECT event_id, startX, startY, endX, endY, slope,
                  startX AS curX, startY AS curY, 0 AS n
           FROM s3
           UNION ALL
           SELECT event_id, startX, startY, endX, endY, slope,
                  curX + CASE WHEN slope > 0 THEN
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN 1
                                WHEN yest < curY THEN 1 ELSE 0 END
                         ELSE
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN 1
                                WHEN yest > curY THEN 1 ELSE 0 END END,
                  curY + CASE WHEN slope > 0 THEN
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN 1
                                WHEN yest < curY THEN 0 ELSE 1 END
                         ELSE
                           CASE WHEN yest > curY - 0.05 AND yest < curY + 0.05 THEN -1
                                WHEN yest > curY THEN 0 ELSE -1 END END,
                  n + 1
           FROM (SELECT *, CASE WHEN slope > 0
                   THEN (curX - startX + 0.5) * slope + startY - 0.5
                   ELSE (curX - startX + 0.5) * slope + startY + 0.5 END AS yest
                 FROM walk) w
           WHERE (curX < endX OR curY != endY) AND n < 100000)
         SELECT s3.event_id, c.n_cells, s3.startX + s3.startY*250 AS first_cell
         FROM s3 JOIN (SELECT event_id, CAST(COUNT(*) AS INT) AS n_cells
                       FROM walk GROUP BY event_id) c USING(event_id)
         ORDER BY event_id""",

    "q23_geo_enrich" ->
      """WITH g AS (SELECT event_id,
                  -74.05 + value/1000.0 AS lon, 40.5 + value/500.0 AS lat,
                  -74.05 + (user_id % 30)::DOUBLE/100.0 AS lon2,
                  40.5 + (user_id % 20)::DOUBLE/50.0 AS lat2
                FROM events),
          c AS (SELECT *,
                  CAST(floor((abs(-74.05) - abs(lon))/0.0014) AS INT) +
                  CAST(floor((41.0 - lat)/0.00125) AS INT) * 250 AS cell
                FROM g)
          SELECT event_id,
                 (lon BETWEEN -74.05 AND -73.7 AND lat BETWEEN 40.5 AND 41.0) AS in_nyc,
                 cell,
                 round((abs(-74.05) - (cell % 250)*0.0014 - 0.0014/2) * -1.0, 6) AS center_lon,
                 round(41.0 - ((cell - cell % 250)/250)*0.00125 - 0.00125/2, 6) AS center_lat,
                 round(110.25 * sqrt((lat - lat2)*(lat - lat2) +
                       ((lon - lon2)*cos(lat2))*((lon - lon2)*cos(lat2))), 6) AS dist_km,
                 -- "+ 0.0" on both args mirrors Spark's Atan2, which
                 -- normalizes -0.0 to +0.0 before java.lang.Math.atan2;
                 -- without it, coincident points (x=+0, y=-0) give
                 -- atan2 = pi here but 0 in Spark (found at sf0.1)
                 CAST(trunc(degrees(atan2(lat2 - lat + 0.0,
                      (lon2 - lon)*cos(lat) + 0.0))) AS INT) + 179
                   AS dir_deg
          FROM c ORDER BY event_id""",

    // The Misra–Gries candidate union is partition-dependent, but the
    // exact recount + freq·capacity > N filter makes the ANSWER a pure
    // function of the data — which is exactly what this replays.
    "q92_mg_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                      FROM documents),
          tot AS (SELECT CAST(COUNT(*) AS BIGINT) n_total FROM tok),
          f AS (SELECT token, CAST(COUNT(*) AS BIGINT) freq FROM tok
                GROUP BY token)
          SELECT token, freq, n_total FROM f, tot
          WHERE freq * 64 > n_total
          ORDER BY freq DESC, token LIMIT 25""",

    "q141_pagerank" -> pageRankOracle(5, 8500),

    // Triangles enumerated once via the a<b<c ordering on the
    // undirected pair set (the oracle needs no degree orientation —
    // that is the Spark side's scale device, not a semantics change);
    // per-node counts attribute each triangle to its three corners.
    "q150_triangle_count" ->
      s"""WITH $tokCte, $shingleCte, $minhashPairCte,
          und AS (SELECT DISTINCT least(a_id, b_id) a,
                         greatest(a_id, b_id) b
                  FROM mhp WHERE a_id <> b_id),
          deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) d
                  FROM (SELECT a n FROM und UNION ALL SELECT b n FROM und)
                  GROUP BY n),
          tri AS (SELECT e1.a x, e1.b y, e2.b z
                  FROM und e1 JOIN und e2 ON e2.a = e1.b
                              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
          tn AS (SELECT n, CAST(COUNT(*) AS BIGINT) t
                 FROM (SELECT x n FROM tri UNION ALL SELECT y n FROM tri
                       UNION ALL SELECT z n FROM tri)
                 GROUP BY n)
          SELECT d0.doc_id,
                 coalesce(deg.d, CAST(0 AS BIGINT)) AS degree,
                 coalesce(tn.t, CAST(0 AS BIGINT)) AS triangles,
                 CASE WHEN coalesce(deg.d, 0) >= 2
                      THEN CAST((2 * coalesce(tn.t, 0) * 1000000)
                             // (deg.d * (deg.d - 1)) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS lcc_e6
          FROM documents d0
          LEFT JOIN deg ON deg.n = d0.doc_id
          LEFT JOIN tn ON tn.n = d0.doc_id
          ORDER BY d0.doc_id""",

    "q142_compaction_plan" ->
      """WITH c AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) sz,
                      CAST(SUM(CAST(n_chars AS BIGINT)) OVER
                        (PARTITION BY source ORDER BY doc_id)
                        AS BIGINT) cum
                    FROM documents)
         SELECT source, CAST((cum - sz) // 20000 AS BIGINT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n_items,
                CAST(SUM(sz) AS BIGINT) AS size_units,
                MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
         FROM c GROUP BY source, bin ORDER BY source, bin""",

    "q143_skew_plan" ->
      """WITH c AS (SELECT event_type AS grp_key,
                      CAST(COUNT(*) AS BIGINT) n
                    FROM events GROUP BY event_type),
          t AS (SELECT CAST(SUM(n) AS BIGINT) total FROM c)
         SELECT grp_key, n, CAST((n + 499) // 500 AS BIGINT) AS salt,
                CAST(n * 1000000 // total AS BIGINT) AS share_ppm
         FROM c, t WHERE (n + 499) // 500 > 1 ORDER BY grp_key""",

    // the execution face's oracle is the PLAIN (unsalted) join — the
    // hash match proves plan-driven salting never changes the answer
    "q183_skew_join_apply" ->
      """WITH dim AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) n_type
                      FROM events GROUP BY event_type)
         SELECT e.event_type AS grp_key, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(e.event_id) AS BIGINT) AS id_sum,
                CAST(MAX(d.n_type) AS BIGINT) AS n_type
         FROM events e JOIN dim d ON e.event_type = d.event_type
         GROUP BY e.event_type ORDER BY grp_key""",

    // the apply face re-aggregates the COMPACTED tree; the oracle reads
    // the ORIGINAL table + replays the bin arithmetic — a hash match is
    // simultaneously the answer-invariance proof and the plan check
    "q144_compaction_apply" ->
      """WITH c AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) sz,
                      CAST(SUM(CAST(n_chars AS BIGINT)) OVER
                        (PARTITION BY source ORDER BY doc_id)
                        AS BIGINT) cum
                    FROM documents)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(sz) AS BIGINT) AS total_chars,
                CAST(COUNT(DISTINCT (cum - sz) // 20000) AS BIGINT)
                  AS n_bins
         FROM c GROUP BY source ORDER BY source""",

    // one-shot HLL registers over the whole corpus (max absorbs both
    // duplicates and the slice fold); the estimate's harmonic
    // denominator is the exact integer Σ 2^(55−ρ), so the only doubles
    // are one identically-associated expression per engine
    "q139_hll_merge" ->
      """WITH h AS (SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT h
                    FROM documents),
        reg0 AS (SELECT h % 64 AS bucket, h // 64 AS r FROM h),
        reg AS (SELECT CAST(bucket AS BIGINT) AS bucket,
                  CAST(MAX(CASE WHEN r = 0 THEN 55
                    ELSE CAST(bit_count(CAST((r & (-r)) - 1 AS BIGINT))
                      AS BIGINT) + 1 END) AS BIGINT) AS rho
                FROM reg0 GROUP BY bucket),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - rho AS INT))
                    AS BIGINT) AS sp
                FROM reg),
        sden AS (SELECT cnt,
                   sp + CAST(64 - cnt AS BIGINT) * 36028797018963968 AS s
                 FROM agg),
        e AS (SELECT CASE WHEN (0.709::DOUBLE * 4096.0::DOUBLE
                     * 36028797018963968.0::DOUBLE / CAST(s AS DOUBLE))
                       <= 160.0 AND cnt < 64
                THEN CAST(64 AS BIGINT) *
                  CAST(round(ln(64.0::DOUBLE / CAST(64 - cnt AS DOUBLE))
                    * 1000000) AS BIGINT)
                ELSE CAST(round((0.709::DOUBLE * 4096.0::DOUBLE
                  * 36028797018963968.0::DOUBLE / CAST(s AS DOUBLE))
                  * 1000000) AS BIGINT) END AS est_e6
              FROM sden)
        SELECT reg.bucket, reg.rho, e.est_e6 FROM reg, e
        ORDER BY bucket""",

    // folding histogram partials must reproduce the one-shot rank
    // selection — q45's oracle verbatim
    "q140_quantile_merge" ->
      """WITH s AS (SELECT source, n_chars, doc_id,
                      row_number() OVER
                        (PARTITION BY source ORDER BY n_chars, doc_id) rn,
                      COUNT(*) OVER (PARTITION BY source) cnt
                    FROM documents),
          p AS (SELECT unnest([5000, 9000, 9900]) bp)
          SELECT source, CAST(bp AS DOUBLE) / 10000.0 AS pct,
                 n_chars AS value
          FROM s, p WHERE rn = (bp * cnt + 9999) // 10000
          ORDER BY source, pct""",

    // q25's FNV/LCG stub-codec replay (HUGEINT mod-2^64) extended to 60
    // feature steps, then fingerprint (k·60 > Σk mean-threshold bits,
    // 15-bit bands), band-bucket candidates, exact hamming via
    // bit_count(xor), and the q43-style recursive walk.
    "q124_image_neardup" ->
      """WITH RECURSIVE hx AS (
           SELECT doc_id, lower(hex(encode(text))) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE doc_id % 3 = 0),
         fnv AS (
           SELECT doc_id, h, len, 0 AS i,
                  CAST(14695981039346656037 AS HUGEINT) AS acc FROM hx
           UNION ALL
           SELECT doc_id, h, len, i + 1,
                  (xor(acc, CAST((strpos('0123456789abcdef', substr(h, i*2+1, 1)) - 1) * 16
                              + strpos('0123456789abcdef', substr(h, i*2+2, 1)) - 1 AS HUGEINT))
                   * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
           FROM fnv WHERE i < len),
         lcg AS (
           SELECT doc_id, 0 AS j, acc AS s FROM fnv WHERE i = len
           UNION ALL
           SELECT doc_id, j + 1,
                  (s * 6364136223846793005 + 1442695040888963407)
                    % CAST(18446744073709551616 AS HUGEINT)
           FROM lcg WHERE j < 60),
         kk AS (SELECT doc_id, j - 1 AS pos,
                  CAST((s // CAST(1099511627776 AS HUGEINT)) % 1000
                    AS BIGINT) k
                FROM lcg WHERE j >= 1),
         tot AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) ksum
                 FROM kk GROUP BY doc_id),
         bits AS (SELECT kk.doc_id, pos,
                    CASE WHEN k * 60 > ksum THEN 1 ELSE 0 END bt
                  FROM kk JOIN tot USING (doc_id)),
         bnd AS (SELECT doc_id, CAST(pos // 15 AS INT) band,
                   CAST(SUM(bt * (CAST(1 AS BIGINT) << CAST(pos % 15 AS INT)))
                     AS BIGINT) bval
                 FROM bits GROUP BY doc_id, pos // 15),
         cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bval = b.bval
                       AND a.doc_id < b.doc_id),
         ham AS (SELECT c.a_id, c.b_id,
                   CAST(SUM(bit_count(xor(x.bval, y.bval))) AS BIGINT) hm
                 FROM cand c JOIN bnd x ON x.doc_id = c.a_id
                   JOIN bnd y ON y.doc_id = c.b_id AND y.band = x.band
                 GROUP BY c.a_id, c.b_id),
         pr AS (SELECT a_id, b_id FROM ham WHERE hm <= 6),
         ed AS (SELECT a_id u, b_id v FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
         walk(u, r) AS (SELECT doc_id, doc_id FROM hx
                        UNION
                        SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
         cl AS (SELECT u doc_id, MIN(r) lbl FROM walk GROUP BY u)
         SELECT doc_id AS media_id, lbl AS img_cluster,
                doc_id = lbl AS keep
         FROM cl ORDER BY media_id""",

    // q124's FNV/LCG stub-codec fingerprint replay with the q110
    // verdict lattice: candidates only where the a-side is the batch
    // (%5==2), side from the b-row's slice, landed_dup absorbing
    // before any within-batch evidence, recursive walk over verified
    // batch pairs among survivors.
    "q130_image_neardup_incremental" ->
      """WITH RECURSIVE hx AS (
           SELECT doc_id, lower(hex(encode(text))) AS h,
                  octet_length(encode(text)) AS len
           FROM documents WHERE doc_id % 3 = 0),
         fnv AS (
           SELECT doc_id, h, len, 0 AS i,
                  CAST(14695981039346656037 AS HUGEINT) AS acc FROM hx
           UNION ALL
           SELECT doc_id, h, len, i + 1,
                  (xor(acc, CAST((strpos('0123456789abcdef', substr(h, i*2+1, 1)) - 1) * 16
                              + strpos('0123456789abcdef', substr(h, i*2+2, 1)) - 1 AS HUGEINT))
                   * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
           FROM fnv WHERE i < len),
         lcg AS (
           SELECT doc_id, 0 AS j, acc AS s FROM fnv WHERE i = len
           UNION ALL
           SELECT doc_id, j + 1,
                  (s * 6364136223846793005 + 1442695040888963407)
                    % CAST(18446744073709551616 AS HUGEINT)
           FROM lcg WHERE j < 60),
         kk AS (SELECT doc_id, j - 1 AS pos,
                  CAST((s // CAST(1099511627776 AS HUGEINT)) % 1000
                    AS BIGINT) k
                FROM lcg WHERE j >= 1),
         tot AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) ksum
                 FROM kk GROUP BY doc_id),
         bits AS (SELECT kk.doc_id, pos,
                    CASE WHEN k * 60 > ksum THEN 1 ELSE 0 END bt
                  FROM kk JOIN tot USING (doc_id)),
         bnd AS (SELECT doc_id, CAST(pos // 15 AS INT) band,
                   CAST(SUM(bt * (CAST(1 AS BIGINT) << CAST(pos % 15 AS INT)))
                     AS BIGINT) bval
                 FROM bits GROUP BY doc_id, pos // 15),
         cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id,
                    CASE WHEN b.doc_id % 5 = 2 THEN 'batch'
                         ELSE 'landed' END side
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bval = b.bval
                  WHERE a.doc_id % 5 = 2
                    AND (b.doc_id % 5 != 2 OR a.doc_id < b.doc_id)),
         ham AS (SELECT c.a_id, c.b_id, c.side,
                   CAST(SUM(bit_count(xor(x.bval, y.bval))) AS BIGINT) hm
                 FROM cand c JOIN bnd x ON x.doc_id = c.a_id
                   JOIN bnd y ON y.doc_id = c.b_id AND y.band = x.band
                 GROUP BY c.a_id, c.b_id, c.side),
         ver AS (SELECT a_id, b_id, side FROM ham WHERE hm <= 6),
         ld AS (SELECT DISTINCT a_id i FROM ver WHERE side = 'landed'),
         bp AS (SELECT a_id, b_id FROM ver WHERE side = 'batch'
                  AND a_id NOT IN (SELECT i FROM ld)
                  AND b_id NOT IN (SELECT i FROM ld)),
         ed AS (SELECT a_id u, b_id v FROM bp
                UNION ALL SELECT b_id, a_id FROM bp),
         walk(u, r) AS (SELECT doc_id, doc_id FROM hx WHERE doc_id % 5 = 2
                        UNION
                        SELECT w.u, ed.v FROM walk w JOIN ed ON ed.u = w.r),
         cl AS (SELECT u doc_id, MIN(r) lbl FROM walk GROUP BY u)
         SELECT doc_id AS media_id,
                CASE WHEN doc_id IN (SELECT i FROM ld) THEN 'landed_dup'
                     WHEN lbl != doc_id THEN 'batch_dup'
                     ELSE 'keep' END AS verdict
         FROM cl ORDER BY media_id""",
  )

  /** q141's PageRank unrolled to `iters` explicit CTE rounds — the
    * whole trajectory is integer pico-units with floor divisions
    * (HUGEINT-widened transfer products mirror the Spark side's
    * DECIMAL(38,0)), so every per-round rank table replays
    * bit-identically; the edge table is q62's transition fragment. */
  protected def pageRankOracle(iters: Int, dampBp: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst,
                   CAST(SUM((CAST(p.pr_e12 AS HUGEINT) * e.w) // o.out_w)
                     AS BIGINT) cin
                 FROM p${i - 1} p JOIN e ON p.node = e.src
                 JOIN ow o ON e.src = o.src
                 GROUP BY e.dst),
          p$i AS (SELECT n.node,
                    (SELECT tele FROM t)
                      + ($dampBp * COALESCE(c.cin, 0)) // 10000 AS pr_e12
                  FROM nodes n LEFT JOIN c$i c ON n.node = c.dst)"""
    }.mkString(",\n          ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts)//1000 tsm, event_id,
                      event_type FROM events),
        x AS (SELECT event_type ft,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY tsm, event_id) tt
              FROM ev),
        e AS (SELECT ft src, tt dst, CAST(COUNT(*) AS BIGINT) w
              FROM x WHERE tt IS NOT NULL GROUP BY ft, tt),
        ow AS (SELECT src, CAST(SUM(w) AS BIGINT) out_w FROM e GROUP BY src),
        nodes AS (SELECT src AS node FROM e
                  UNION SELECT dst FROM e),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM nodes),
        t AS (SELECT 1000000000000 // n AS base,
                ((10000 - $dampBp) * (1000000000000 // n)) // 10000 AS tele
              FROM nn),
        p0 AS (SELECT node, (SELECT base FROM t) AS pr_e12 FROM nodes),
        $rounds
        SELECT node, CAST(pr_e12 AS BIGINT) AS pr_e12 FROM p$iters
        ORDER BY node"""
  }


}
