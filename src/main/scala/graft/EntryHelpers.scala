package graft

import graft.exec.BatchExec
import graft.rules.RuleCodec
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Shared plumbing of the [[SparkEntry]] registry family: table
  * loaders, the rule-execution entry path, exact-decimal rendering,
  * the as-of/range fixture pair, scratch-dir cleanup, and the DuckDB
  * oracle fragments every family's SQL composes. Split out of the
  * monolithic SparkEntry at round 16 (mechanical, zero-semantics). */
object EntryHelpers {
  /** Driver-residency cap for the engine replay feeds (r22 verdict
    * task #6): a weekly batch with more rows than this feeds as
    * event-time-ordered sub-week chunks instead of one collect — env
    * SPARK_GRAFT_REPLAY_MAX_ROWS overrides; a var so the spec suite
    * can pin chunked ≡ single-batch on an over-cap week. ~100 B/row
    * of transient driver heap per resident chunk. */
  private[graft] var replayMaxRows: Int =
    sys.env.get("SPARK_GRAFT_REPLAY_MAX_ROWS").map(_.toInt)
      .getOrElse(500000)
}

/** One index-phase entry: a memoized sub-plan built once per session,
  * and the contract queries that read it. Each registry declares its
  * entries beside its queries; [[SparkEntry.indexDecls]] concatenates
  * them, and [[Bench]] keeps an entry's registry keys until its last
  * reader has run. */
final case class IndexDecl(name: String, readers: String*)(
    val build: (SparkSession, String) => DataFrame)

trait EntryHelpers {

  protected def events(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(spark, dir, "events")
  protected def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)
  protected def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
  protected def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  // ---------------------------------------------------------------------
  // Fixture slices: the landed/batch splits of the documents (doc_id) and
  // embeddings (vec_id) tables, each defined once. Queries and index
  // declarations call the same definition, so an entry's input plan, and
  // with it its registry key, is the reading query's by construction.
  // ---------------------------------------------------------------------
  private def idOf(t: DataFrame): Column =
    col(if (t.columns.contains("vec_id")) "vec_id" else "doc_id")
  /** Rows whose id is `r` mod `m`. */
  protected def modIs(t: DataFrame, m: Long, r: Int): DataFrame =
    t.filter(pmod(idOf(t), lit(m)) === r)
  /** Rows whose id is not `r` mod `m`. */
  protected def modIsNot(t: DataFrame, m: Long, r: Int): DataFrame =
    t.filter(pmod(idOf(t), lit(m)) =!= r)
  /** Rows whose id mod `m` is one of `rs`. */
  protected def modIn(t: DataFrame, m: Long, rs: Seq[Long]): DataFrame =
    t.filter(pmod(idOf(t), lit(m)).isin(rs: _*))
  /** Rows whose id mod `m` is none of `rs`. */
  protected def modNotIn(t: DataFrame, m: Long, rs: Seq[Long]): DataFrame =
    t.filter(!pmod(idOf(t), lit(m)).isin(rs: _*))

  /** The %5 gate fixture: the batch is id ≡ 2 (mod 5). */
  protected def batch5(t: DataFrame): DataFrame = modIs(t, 5, 2)
  protected def landed5(t: DataFrame): DataFrame = modIsNot(t, 5, 2)
  /** The gate queries on the %5 fixture: each reads the whole landed
    * index family the gate probes. */
  protected val gateReaders: Seq[String] = Seq("q129_ingest_gate",
    "q132_ingest_gate_full", "q189_mixture_shift", "q190_streaming_gate")
  /** The %5 semantic-increment fixture: the batch is id ≡ 3 (mod 5). */
  protected def batch5b(t: DataFrame): DataFrame = modIs(t, 5, 3)
  protected def landed5b(t: DataFrame): DataFrame = modIsNot(t, 5, 3)
  /** The %4 curation-increment fixture: the batch is id ≡ 2 (mod 4). */
  protected def batch4(t: DataFrame): DataFrame = modIs(t, 4, 2)
  protected def landed4(t: DataFrame): DataFrame = modIsNot(t, 4, 2)
  /** The %4 gram-increment fixture: the batch is id ≡ 1 (mod 4). */
  protected def batch4b(t: DataFrame): DataFrame = modIs(t, 4, 1)
  protected def landed4b(t: DataFrame): DataFrame = modIsNot(t, 4, 1)
  /** The two halves of a two-slice partials fold: id ≡ r (mod 2). */
  protected def half(t: DataFrame, r: Int): DataFrame = modIs(t, 2, r)
  /** The kNN query set: every vector with vec_id ≡ 0 (mod 100, an int
    * modulus). */
  protected def queryVecs(emb: DataFrame): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(100)) === 0)

  /** The %100 absorb fixture (q184 and its followers): batch 1 is
    * absorbed, batch 2 is gated against the absorbed indexes, landed
    * is the rest. The residues keep both batches off the semantic
    * codebook strides (≡ 8 mod 25) while sharing sources with the
    * landed slice. */
  protected val absorbRes1: Seq[Long] = Seq(2L, 22L, 47L, 67L)
  protected val absorbRes2: Seq[Long] = Seq(12L, 37L, 62L, 87L)
  protected def absorbLanded(t: DataFrame): DataFrame =
    modNotIn(t, 100, absorbRes1 ++ absorbRes2)
  protected def absorbBatch1(t: DataFrame): DataFrame = modIn(t, 100, absorbRes1)
  protected def absorbBatch2(t: DataFrame): DataFrame = modIn(t, 100, absorbRes2)
  /** The absorb fixture's followers: each reads its landed index family. */
  protected val absorbReaders: Seq[String] = Seq("q184_absorb_gate",
    "q191_streaming_absorb", "q196_absorb_serve", "q199_retract_gate",
    "q200_churn_gate", "q201_streaming_churn", "q202_churn_serve",
    "q210_mixture_rebalance", "q211_streaming_resume",
    "q213_retention_ageout", "q214_serve_during_churn")

  /** The %100 snapshot-migrate fixture (q205 and its followers): a
    * snapshot is the corpus minus its residues; the old one lacks the
    * adds, the new one the deletes, and both lack the probe batch. */
  protected val migrateProbeRes: Seq[Long] = Seq(9L, 59L)
  protected val migrateOldRes: Seq[Long] = Seq(5L, 30L, 55L, 80L) ++ migrateProbeRes
  protected val migrateNewRes: Seq[Long] = Seq(21L, 71L) ++ migrateProbeRes
  protected def snapshot(t: DataFrame, res: Seq[Long]): DataFrame =
    modNotIn(t, 100, res)
  protected def migrateProbe(t: DataFrame): DataFrame = modIn(t, 100, migrateProbeRes)
  /** The migrate fixture's queries: each reads the old snapshot's index. */
  protected val migrateReaders: Seq[String] =
    Seq("q205_snapshot_migrate", "q206_migrate_serve", "q209_snapshot_chain")

  /** The %10 release-pin fixture (q186/q188): the release is id ≢ 3
    * (mod 10); q188's landed corpus also lacks ≡ 7, its grown one has
    * ≡ 3 back. */
  protected def pinLanded(emb: DataFrame): DataFrame = modIsNot(emb, 10, 3)
  protected def pinLanded0(emb: DataFrame): DataFrame = modNotIn(emb, 10, Seq(3L, 7L))
  protected def pinGrown1(emb: DataFrame): DataFrame = modIsNot(emb, 10, 7)

  /** Run a rule given as JSON — the full reference entry path (JSON rule →
    * codec → compiled Columns → execution), minus the Kafka transport. */
  protected def rule(spark: SparkSession, dir: String, json: String): DataFrame =
    BatchExec.run(RuleCodec.decode(json), events(spark, dir), "ts")

  /** Render the engine's exact-decimal aggregate as DOUBLE for the driver
    * compare. Internal arithmetic stays DECIMAL (exact, order-independent);
    * only the final value is converted. Both Spark (BigDecimal.doubleValue)
    * and DuckDB (verified empirically) produce the correctly-rounded double,
    * so the bits match — whereas a decimal column reaches the driver as
    * Decimal('2006.000000') on the Spark side but float64 2006.0 through
    * DuckDB's pandas conversion, hash-mismatching on rendering alone
    * (CORRECTNESS_r01 q02–q11/q26). */
  protected def aggDouble(df: DataFrame): DataFrame =
    df.withColumn("agg_value", col("agg_value").cast("double"))


  /** (purchases, deduped clicks) with ms timestamps — the two time series
    * the as-of/range join queries relate. Click ties at one (user, ms)
    * collapse to MAX(value), the determinism precondition both engines'
    * as-of semantics require. */
  protected def purchasesAndClicks(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = events(s, dir).withColumn("tsm",
      (unix_micros(col("ts").cast("timestamp")) / lit(1000)).cast("long"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "tsm")
    val clicks = e.filter(col("event_type") === "click")
      .groupBy("user_id", "tsm").agg(max(col("value")).as("cv"))
    (purchases, clicks)
  }

  /** Shared harness for q30/q31: dedup events to one per (user_id, ms),
    * replay week by week through a fresh [[graft.streaming.DynamicActiveEngine]],
    * return fired alerts as (group_key, ts_ms, agg_value). */
  protected def dynamicReplay(s: SparkSession, dir: String, ruleJson: String): DataFrame =
    dynamicReplayRaw(s, dir, ruleJson)
      .select(col("group_key"), col("ts_ms"), col("agg_value"))
      .orderBy("group_key", "ts_ms")

  /** [[dynamicReplay]] keeping per-alert rule identity — (ruleId,
    * group_key, ts_ms, agg_value), unordered. The ECA face (q185)
    * needs ruleId to tell parent firings from spawned-child firings;
    * ECA-spawned children fire through the same replay because the
    * engine's deliver step runs [[graft.active.EcaLoop.processAlerts]]
    * after every batch. */
  protected def dynamicReplayRaw(s: SparkSession, dir: String, ruleJson: String): DataFrame = {
    val engine = new graft.streaming.DynamicActiveEngine()
    engine.store.merge(RuleCodec.decode(ruleJson))
    val fired = scala.collection.mutable.ArrayBuffer.empty[graft.model.Alert]
    engine.onAlerts(as => fired.synchronized { fired ++= as })

    // each week (or chunk) as a DRIVER-LOCAL frame: the engine's
    // per-batch jobs (curMax, the keyed pass, alert collect, tail
    // checkpoint) each read the batch, and against a filter of the
    // cached corpus they re-scanned EVERY corpus partition per week.
    // The batch-sized leaf makes every engine job O(batch), the same
    // rows in the same weekly order.
    val evs = events(s, dir)
    feedReplayWeeks(s, dir, evs.columns.toSeq) { rows =>
      engine.processBatch(s.createDataFrame(rows.asJava, evs.schema), "ts")
    }

    import s.implicits._
    fired.synchronized(fired.toSeq).toDF()
      .select(col("ruleId"), col("key").as("group_key"),
        col("tsMillis").as("ts_ms"),
        col("aggregate").cast("double").as("agg_value"))
  }

  /** The engine replays' weekly feed (q30, q31, q185, q212): events
    * deduped to one per (user_id, ms), the lowest event_id kept,
    * projected to `cols` and handed to `send` week by week, in
    * ascending order. Each week is one batch-sized collect, so the
    * driver never holds more than one week.
    *
    * DRIVER-RESIDENCY CAP: "one week fits on the driver" is not a 100 TB
    * invariant, so a week larger than [[EntryHelpers.replayMaxRows]]
    * goes to `send` as EVENT-TIME-ORDERED chunks of at most that many
    * rows, read through a partition-at-a-time local iterator. The
    * engine's output is identical: with chunks cut in ts order, a
    * periodic window finalized after chunk k (end ≤ chunk k's max ts)
    * can never receive an event from chunk k+1 (all later-ts; a
    * ts == end event belongs to the NEXT half-open window), and a fresh
    * event's trailing-[t-w, t] history is inside the tail's
    * window(+slide) retention horizon — the ordinary event-time
    * micro-batch-boundary invariance the engine already guarantees
    * (ReplayChunkSpec pins it). That invariance covers rules that spawn
    * nothing: a spawned child evaluates from the batch after its parent
    * fired, so chunking a week spawns it earlier (q185, q212). */
  protected def feedReplayWeeks(s: SparkSession, dir: String, cols: Seq[String])(
      send: Seq[Row] => Unit): Unit = {
    import org.apache.spark.sql.expressions.Window
    val ms = (unix_micros(col("ts").cast("timestamp")) / lit(1000)).cast("long")
    val base = events(s, dir)
      .withColumn("__ms", ms)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("user_id"), col("__ms")).orderBy(col("event_id"))))
      .filter(col("__rn") === 1)
      .select(col("__ms") +: expr("__ms div 604800000").as("__wk") +: cols.map(col): _*)
      .persist()
    try {
      val weekCounts = base.groupBy(col("__wk"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val cap = EntryHelpers.replayMaxRows
      weekCounts.keys.toSeq.sorted.foreach { wk =>
        val week = base.filter(col("__wk") === wk)
        if (weekCounts(wk) <= cap) send(week.drop("__ms", "__wk").collect().toSeq)
        else {
          val it = week.sort(col("__ms")).drop("__ms", "__wk").toLocalIterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          while (it.hasNext) {
            buf += it.next()
            if (buf.size >= cap) { send(buf.toSeq); buf.clear() }
          }
          if (buf.nonEmpty) send(buf.toSeq)
        }
      }
    } finally base.unpersist()
  }

  // ---------------------------------------------------------------------
  // Training-data pipeline surface: dedup, similarity search, text
  // analysis over documents/embeddings.
  // ---------------------------------------------------------------------


  // ---------------------------------------------------------------------
  // DuckDB oracles. Conventions for engine-agnostic exactness:
  //  * aggregate sums: per-value CAST to DECIMAL(38,6) then SUM (exact);
  //  * AVG: integer micro-units, (2s+n)//(2n) = ROUND_HALF_UP @ scale 6;
  //  * double arithmetic before a decimal cast is bit-identical IEEE;
  //  * window starts computed as integer epoch-seconds arithmetic.
  // ---------------------------------------------------------------------


  protected val DEC = "DECIMAL(38,6)"
  protected def sumDec(e: String) = s"CAST(SUM(CAST($e AS $DEC)) AS $DEC)"
  // Final rendering of an exact-decimal aggregate: correctly-rounded
  // DOUBLE (bit-identical Spark ↔ DuckDB; a DECIMAL output column is
  // not — see aggDouble above).
  protected def sumDbl(e: String) = s"CAST(${sumDec(e)} AS DOUBLE)"


  /** One JVM-exit hook PER scratch base deleting the session's
    * /tmp/graft_<appId> tree — the corrupted-JSONL fixtures are per-run
    * artifacts, not outputs (review finding: they were never cleaned
    * up). Keyed by base path, not a one-shot boolean: two sessions in
    * one JVM (Verify then Bench under one sbt run) get different
    * applicationIds and each needs its own hook (ADVICE r13). */
  protected val tmpCleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  protected def registerTmpCleanup(base: java.io.File): Unit =
    if (tmpCleanupRegistered.add(base.getAbsolutePath)) {
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(base)
      }
      ()
    }


  protected val tokCte =
    """toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk,
                       text FROM documents)"""
  protected val shingleCte =
    """sh AS (SELECT DISTINCT doc_id sid, shingle FROM (
         SELECT doc_id, unnest(list_transform(range(1, len(tk)-1),
                i -> array_to_string(tk[i:i+2], ' '))) shingle FROM toks))"""

  /** q19's MinHash-LSH candidate pairs (16 hashes, 4 bands) as a CTE chain
    * ending in `mhp(a_id, b_id)` — shared by q19 and q43 so the cluster
    * oracle closes over exactly the pair set the pair oracle checks.
    * Expects `sh(sid, shingle)` ([[shingleCte]]) in scope. */
  protected val minhashPairCte =
    """h AS (SELECT sid,
              ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 hh
            FROM sh),
       mh AS (SELECT sid, i.i AS i,
                MIN(((1 + (i.i * 1000003) % 2147483647) * hh +
                     (12345 + i.i * 999983) % 2147483647) % 2147483647) mh
              FROM h, range(16) i(i) GROUP BY sid, i.i),
       bk AS (SELECT sid, i // 4 AS band,
                string_agg(mh::VARCHAR, ':' ORDER BY i) bkey
              FROM mh GROUP BY sid, i // 4),
       mhp AS (SELECT DISTINCT a.sid a_id, b.sid b_id
               FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
                                  AND a.sid < b.sid)"""

  /** The same statically-unrolled Morton interleave as ZOrder.zValue,
    * rendered as DuckDB shift/mask arithmetic. */
  protected def duckZ(xs: Seq[String], bits: Int): String =
    (for { i <- 0 until bits; (x, j) <- xs.zipWithIndex }
      yield s"((($x >> $i) & 1) << ${i * xs.size + j})").mkString(" + ")

  /** The 4-band × 8-bit sign-LSH table over `e(sid, v)` — band j's bucket
    * is the sign pattern of dims j*8+1..j*8+8, bit i worth 2^i, exactly
    * [[graft.functions.VectorFunctions.signBucket]] with offset j*8. */
  protected val duckBandedCte: String =
    (0 until 4).map { j =>
      val bucket = (0 until 8).map(i =>
        s"(CASE WHEN v[${j * 8 + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT sid, $j AS band, $bucket AS bucket FROM e"
    }.mkString("\n                 UNION ALL ")


  /** The shared head of the IVF-PQ oracle family
    * (q133/q158/q192/q193/q196): corpus vectors, PQ subspace index,
    * subvector slices, query set. Lives here (not in
    * SimilarityRegistry) because all three registries compose the
    * chain — q192's served hybrid is a CurationRegistry row, q196's
    * absorb-then-serve is a DedupRegistry row. `embRel` parametrizes
    * the corpus relation (default the raw table; q196 passes its
    * gate-restricted grown-corpus CTE). */
  protected def ivfPqUniverseCtes(embRel: String = "embeddings"): String =
    s"""e AS (SELECT vec_id sid, embedding::DOUBLE[] v FROM $embRel),
          js AS (SELECT unnest(range(4)) j),
          sub AS (SELECT sid, j, v[j*16+1 : (j+1)*16] sv FROM e, js),
          qq AS (SELECT sid q_id, v q_v FROM e WHERE sid % 100 = 0)"""

  /** The SERVED semantic side of the hybrid-oracle family (q192/q195/
    * q196): the IVF-PQ chain at retrieval depth (shortlist 80 = depth
    * 20 × rerankFactor 4), ending in `annr(q_id, doc_id, rnk ≤ 20)`. */
  protected def servedAnnrCtes(embRel: String = "embeddings"): String =
    s"""${ivfPqUniverseCtes(embRel)},
          ${ivfPqChainCtes("h_", "", shortlist = 80)},
          annr AS (SELECT q_id, sid doc_id, rnk FROM h_r
                   WHERE rnk <= 20)"""

  /** The hybrid-retrieval CTE chain (q187/q192/q195/q196): q71's BM25
    * with doc-derived query terms (8 rarest by df asc, tok asc per
    * ≡0-mod-100 doc) over `docsRel`, a caller-supplied semantic chunk
    * ending in `annr(q_id, doc_id, rnk ≤ 20)`, and the integer-RRF
    * fusion tail — floor division on both engines. Ends in
    * `fr(q_id, doc_id, rrf_e9, rnk)`; the caller appends its final
    * SELECT (top-5 for the retrieval rows, the nested overlap join for
    * the q195 audit). CTE names are chosen off the staged-gate
    * oracle's namespace (htoks, not toks) so q196 can hang this chain
    * off the same WITH as a gate stage. */
  protected def hybridChainCtes(semanticCtes: String,
      docsRel: String = "documents"): String =
    s"""htoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') tk
                  FROM $docsRel),
          t AS (SELECT doc_id, unnest(tk) tok FROM htoks),
          tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) tf
                 FROM t GROUP BY 1, 2),
          dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) dl
                 FROM t GROUP BY 1),
          st AS (SELECT CAST(COUNT(*) AS BIGINT) n_docs,
                        CAST(SUM(dl) AS BIGINT) total_len FROM dl),
          dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) df
                  FROM tf GROUP BY 1),
          qt AS (SELECT q_id, tok FROM (
                   SELECT tf.doc_id q_id, tf.tok,
                          ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY df ASC, tf.tok) trk
                   FROM tf JOIN dfr USING (tok)
                   WHERE tf.doc_id % 100 = 0) x
                 WHERE trk <= 8),
          sc AS (SELECT qt.q_id, tf.doc_id,
                   CAST(round(
                     ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)
                         + 1.0)
                     * (tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75 * dl /
                         (CAST(total_len AS DOUBLE) / n_docs)))
                     * 1000000, 0) AS BIGINT) s_e6
                 FROM qt JOIN tf USING (tok) JOIN dfr USING (tok)
                   JOIN dl ON tf.doc_id = dl.doc_id, st
                 WHERE tf.doc_id != qt.q_id),
          bma AS (SELECT q_id, doc_id, CAST(SUM(s_e6) AS BIGINT) score_e6
                  FROM sc GROUP BY 1, 2),
          bmr AS (SELECT q_id, doc_id, rnk FROM (
                    SELECT q_id, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY score_e6 DESC, doc_id) rnk
                    FROM bma) b WHERE rnk <= 20),
          $semanticCtes,
          u AS (SELECT q_id, doc_id, rnk FROM bmr
                UNION ALL SELECT q_id, doc_id, rnk FROM annr),
          f AS (SELECT q_id, doc_id,
                  CAST(SUM(1000000000 // (60 + rnk)) AS BIGINT) rrf_e9
                FROM u GROUP BY 1, 2),
          fr AS (SELECT q_id, doc_id, rrf_e9,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY rrf_e9 DESC, doc_id) AS BIGINT) rnk
                 FROM f)"""

  /** One IVF-PQ serve chain (codebooks → codes → LUT → route → probe
    * → ADC → shortlist → exact rerank), CTE names prefixed with `p`,
    * codebook stride slices restricted by `cbPred` (empty = codebooks
    * from the full corpus, q133/q192/q193-after; " AND sid % 4 != 2" =
    * landed-drawn codebooks, q158/q193-before), ADC shortlist bound =
    * `shortlist` (k·rerankFactor — 20 for the k=5 rows, 80 for q192's
    * depth-20 serve). Ends in `${p}r(q_id, sid, cos, rnk)`. */
  protected def ivfPqChainCtes(p: String, cbPred: String,
      shortlist: Int = 20): String =
    s"""${p}cw AS (SELECT sid code_id, j, sv cw FROM sub
                 WHERE sid % 25 = 7$cbPred),
          ${p}codes AS (SELECT sid, j, code FROM (
                      SELECT s.sid, s.j, c.code_id code,
                             ROW_NUMBER() OVER (PARTITION BY s.sid, s.j
                               ORDER BY CAST(round(
                                 (2*list_dot_product(s.sv, c.cw) -
                                  list_dot_product(c.cw, c.cw)) * 10000)
                                 AS BIGINT) DESC, c.code_id) rn
                      FROM sub s JOIN ${p}cw c ON c.j = s.j) t WHERE rn = 1),
          ${p}lut AS (SELECT qs.sid q_id, c.j, c.code_id code,
                    CAST(round(list_dot_product(qs.sv, c.cw) * 10000)
                      AS BIGINT) term
                  FROM sub qs JOIN ${p}cw c ON c.j = qs.j
                  WHERE qs.sid % 100 = 0),
          ${p}crs AS (SELECT sid c_id, v c_vec FROM e
                  WHERE sid % 50 = 11$cbPred),
          ${p}asnv AS (SELECT sid, c_id FROM (
                     SELECT e.sid, c.c_id,
                            ROW_NUMBER() OVER (PARTITION BY e.sid
                              ORDER BY round(list_dot_product(e.v, c.c_vec) /
                                (sqrt(list_dot_product(e.v, e.v)) *
                                 sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                                DESC, c.c_id) rn
                     FROM e, ${p}crs c) t WHERE rn = 1),
          ${p}prb AS (SELECT q_id, c_id FROM (
                    SELECT q.q_id, c.c_id,
                           ROW_NUMBER() OVER (PARTITION BY q.q_id
                             ORDER BY round(list_dot_product(q.q_v, c.c_vec) /
                               (sqrt(list_dot_product(q.q_v, q.q_v)) *
                                sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
                               DESC, c.c_id) rn
                    FROM qq q, ${p}crs c) t WHERE rn <= 3),
          ${p}cnd AS (SELECT p.q_id, a.sid FROM ${p}prb p
                  JOIN ${p}asnv a USING (c_id)
                  WHERE a.sid != p.q_id),
          ${p}appr AS (SELECT c.q_id, c.sid, SUM(l.term) a
                   FROM ${p}cnd c JOIN ${p}codes co ON co.sid = c.sid
                     JOIN ${p}lut l ON l.q_id = c.q_id AND l.j = co.j
                                AND l.code = co.code
                   GROUP BY c.q_id, c.sid),
          ${p}short AS (SELECT q_id, sid FROM (
                      SELECT q_id, sid, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY a DESC, sid) cr FROM ${p}appr) t
                    WHERE cr <= $shortlist),
          ${p}scored AS (SELECT s.q_id, s.sid,
                       round(list_dot_product(e.v, q.q_v) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(q.q_v, q.q_v))), 4) cos
                     FROM ${p}short s JOIN e ON e.sid = s.sid
                       JOIN qq q ON q.q_id = s.q_id),
          ${p}r AS (SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY q_id ORDER BY cos DESC, sid) rnk
                FROM ${p}scored)"""

}
