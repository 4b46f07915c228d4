package graft

import graft.exec.BatchExec
import graft.rules.RuleCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query routes through the engine proper
  * ([[graft.rules.RuleCodec]] → [[graft.exec.BatchExec]]) where the
  * operator under test is part of the rule-engine surface; the star-schema
  * / document / embedding queries exercise the warehouse face directly.
  * Column names are aligned with `oracleSql` (the driver sorts columns by
  * name and hashes values).
  */
object SparkEntry extends CoreRegistry with DedupRegistry
    with SimilarityRegistry with CurationRegistry with ExecRegistry {

  /** Flagship query on sf=0.001: multi-rule fan-out (D1) in the spirit of
    * the reference README's example queries. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    entry(spark, dir)
  }

  /** The flagship query over the events table of any data directory. */
  def entry(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      """{"queryId":1,"windowFilterRules":[{"field":"event_type","operator":"=","value":"purchase"}],
         "groupingKeyNames":["user_id"],"aggregateFieldName":"value",
         "aggregatorFunctionType":"AVG","limitOperatorType":">","limit":0,
         "windowMilliseconds":86400000}""",
      """{"queryId":2,"windowFilterRules":[{"field":"value","operator":">","value":"50"}],
         "groupingKeyNames":["event_type"],"aggregateFieldName":"COUNT_FLINK",
         "limitOperatorType":">","limit":1,"windowMilliseconds":86400000}"""
    ).map(RuleCodec.decode)
    BatchExec.runAll(rules, events(spark, dir), "ts")
  }

  // ---------------------------------------------------------------------
  // Rule-engine surface (SURVEY §2): each entry names the operator ids it
  // exercises.
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ dedupQueries ++ similarityQueries ++
      curationQueries ++ execQueries


  /** One-time per-session family-index materialization: every memoized
    * sub-plan (CacheRegistry kind) that more than one contract query, or
    * every batch of an incremental operator, reads. A production
    * deployment builds these once per corpus and amortizes them across
    * the whole query stream; the bench therefore times this as its own
    * "index" metric (still inside the reported total) instead of billing
    * the build to whichever query happens to run first.
    *
    * Each registry declares its entries beside the queries that read
    * them, over the same fixture slices ([[EntryHelpers]]), so an
    * entry's registry keys are its readers' keys by construction.
    * `IndexDeclSpec` checks the declared readers against the keys the
    * queries read. */
  def indexDecls: Seq[IndexDecl] =
    dedupIndexes ++ similarityIndexes ++ curationIndexes ++ execIndexes

  def buildIndexes(spark: SparkSession, dir: String): Unit = {
    buildIndexesTimed(spark, dir)
    ()
  }

  /** One built index entry: its wall seconds, the Spark jobs and stages
    * it submitted, and the registry keys it read (its build's inner keys
    * included). */
  final case class IndexBuild(name: String, sec: Double, jobs: Long,
      stages: Long, keys: Set[String])

  /** [[buildIndexes]], itemized per entry (`decls` defaults to all of
    * [[indexDecls]]). Each entry builds in its own
    * [[graft.util.JobCounts]] region, which attributes its jobs, stages
    * and registry keys.
    *
    * Materialization is CONCURRENT: the entries are each a few-partition
    * count() job, so running them serially left the box mostly idle.
    * Construction runs INSIDE the pool and is safe because
    * [[graft.util.CacheRegistry.planFingerprint]] renders with an
    * explicit maxFields (key derivation is race-free), and registry
    * insertion runs each key's build exactly once under a per-key lock,
    * so a shared inner entry cannot double-build or leak a loser's
    * persist. Per-entry seconds are wall-clock under concurrency: they
    * overlap, and the phase wall is the bench's "index" metric. Pool
    * width via SPARK_GRAFT_INDEX_PAR (default 8).
    *
    * Submission is longest-pole-first (LPT): with a bounded pool, a
    * heavy entry submitted LATE sets the phase wall, so entries go in
    * descending cost from [[recordedRanks]]; entries the record lacks
    * keep declaration order after the ranked ones. */
  def buildIndexesTimed(spark: SparkSession, dir: String,
      decls: Seq[IndexDecl] = indexDecls): Seq[IndexBuild] = {
    val ranks = recordedRanks()
    val ordered = decls.sortBy(d => -ranks.getOrElse(d.name, 0.0))
    val par = sys.env.get("SPARK_GRAFT_INDEX_PAR").map(_.toInt).getOrElse(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, par))
    val counts = new graft.util.JobCounts(spark)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = ordered.map { d =>
        scala.concurrent.Future {
          val region = "index:" + d.name
          val t0 = System.nanoTime()
          counts.region(region) { d.build(spark, dir).count() }
          val sec = (System.nanoTime() - t0) / 1e9
          val (jobs, stages) = counts.take(region)
          IndexBuild(d.name, sec, jobs, stages,
            graft.util.CacheRegistry.takeReads(region))
        }(ec)
      }
      futs.map(scala.concurrent.Await.result(_,
        scala.concurrent.duration.Duration.Inf))
    } finally { pool.shutdown(); counts.close() }
  }

  /** LPT ranks from the last recorded run: every graft.Bench run writes
    * its per-entry index seconds to bench_out.json ("index_detail") in
    * its working directory, so the next run there submits in
    * measured-cost order for this tree and box. A missing or unparseable
    * record ranks nothing (declaration order). Order-only metadata: no
    * results or intermediates ride across runs. */
  private def recordedRanks(): Map[String, Double] = {
    val path = sys.props.getOrElse("user.dir", ".") + "/bench_out.json"
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      """"index_detail":\{([^}]*)\}""".r.findFirstMatchIn(txt)
        .map(m => """"([^"]+)":([0-9.Ee+-]+)""".r
          .findAllMatchIn(m.group(1))
          .map(g => g.group(1) -> g.group(2).toDouble).toMap)
        .getOrElse(Map.empty)
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }


  def oracleSql: Map[String, String] =
    coreOracle ++ dedupOracles ++ similarityOracles ++
      curationOracles ++ execOracles
}
