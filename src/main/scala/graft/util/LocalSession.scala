package graft.util

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every `main` in this project runs on
  * (Bench, Verify, StreamDemo and the `graft.tools` benches), so a
  * measured plan is the plan the bench measures.
  *
  * `cpus` sets both the local thread count and the shuffle partition
  * count; it defaults to SPARK_GRAFT_CPUS, else the machine's available
  * processors. */
object LocalSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Generated-class cache fix (round-14; ProfileQ99 A/B): the
      // per-query codegen stage id is embedded in the generated class
      // NAME by default, so two structurally-identical stages produce
      // different source text and Janino's source-keyed compile cache
      // can never hit across stages or plans. Dropping the id from the
      // name (the class is held by reference, the name is cosmetic) +
      // sizing the cache above the suite's distinct-stage count turns
      // repeat compilations into cache hits: q99 warm 11.4 s/129
      // compilations → 3.9 s/0 on the same box. This is the structural
      // answer to the suite's dominant JIT bill (q99/q100 `weak`s).
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      // Spark 4.1's checksum checkpoint manager deadlocks its own thread
      // pool under rapid micro-batches in local mode (tasks parked in
      // ChecksumCheckpointFileManager.awaitResult; see SparkSpec)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
