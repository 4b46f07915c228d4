package graft.tools

import graft.SparkEntry
import graft.sources.IndexStore

/** Two-session measurement of cross-session index amortization
  * ([[graft.sources.IndexStore]]): the daily-restart story, priced.
  *
  * Session A (`build-save`): run the bench's index phase cold
  * ([[SparkEntry.buildIndexesTimed]]), then persist every registry
  * entry to the store directory. Session B (`restore-build`, a fresh
  * JVM — `run / fork := true` makes every `runMain` its own process):
  * seed the registry from the store, then run the SAME index phase —
  * every build whose key round-trips now serves a parquet read of the
  * staged artifact instead of recomputing, so the phase collapses to
  * restore-read cost. The per-entry timings make the claim itemized:
  * a restored entry reads in ~0.1 s where its cold build paid seconds.
  *
  * Prints ONE JSON line:
  * {"mode":…, "index_s":…, "restored":…, "saved":…,
  *  "index_detail":{name:sec,…}}. */
object IndexPersistBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1 &&
      Set("build-save", "restore-build").contains(args(0)),
      "usage: IndexPersistBench build-save|restore-build [sfDir] [storeDir]")
    val mode = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val store = if (args.length > 2) args(2) else "/tmp/graft_indexstore"
    val spark = graft.util.LocalSession()

    val restored =
      if (mode == "restore-build") IndexStore.restoreAll(spark, store) else 0
    val t0 = System.nanoTime()
    val detail = SparkEntry.buildIndexesTimed(spark, sfDir)
    val indexS = (System.nanoTime() - t0) / 1e9
    val saved =
      if (mode == "build-save") IndexStore.saveAll(store) else 0
    // hit proof: entries whose served plan scans the store directory
    // (a registry MISS would have built a fresh computation plan), and
    // the registry size after the phase (hits add no new keys)
    def scansStore(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectLeaves().exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(store))
            case _ => false
          }
        case _ => false
      }
    val fromStore = graft.util.CacheRegistry.entries.values.count(scansStore)
    val detailJson = detail
      .map(b => s""""${b.name}":${"%.3f".format(b.sec)}""")
      .mkString("{", ",", "}")
    println(s"""{"mode":"$mode","sf":"$sfDir","index_s":${
      "%.3f".format(indexS)},"restored":$restored,"saved":$saved,""" +
      s""""registry_after":${graft.util.CacheRegistry.size},""" +
      s""""served_from_store":$fromStore,""" +
      s""""index_detail":$detailJson}""")
    spark.stop()
  }
}
