package graft.tools

import graft.dedup.Dedup
import graft.functions.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe for the heaviest operators: runs each at 1× and N×
  * (default 10×) the sf0.1 data IN THE SAME JVM, so codegen compile and
  * JIT — which dominate single-run wall time at small SF and swing
  * samples 3-9× run-to-run — cancel out of the ratio. A near-linear
  * time ratio at 10× the rows is the evidence that an operator's cost
  * is data, not fixed overhead, i.e. that the 100 TB story rests on the
  * algorithm, not on small inputs hiding a quadratic term.
  *
  * Replication is similarity-preserving, not similarity-multiplying:
  * each document copy gets a distinct vowel-substitution alphabet
  * (`translate`), so copies of one document share almost no shingles
  * and the near-duplicate structure within each copy matches the
  * original corpus. Naive duplication would give every doc N-1 exact
  * near-dups and grow the pair space quadratically BY CONSTRUCTION —
  * measuring that would test the input, not the operator.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    require(factor >= 1 && factor <= ScaleCorpus.Alphabets.size,
      s"factor in 1..${ScaleCorpus.Alphabets.size}")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession()

    def docsAt(k: Int): DataFrame =
      ScaleCorpus.docsAt(spark, dir, k)
    def eventsAt(k: Int): DataFrame =
      ScaleCorpus.eventsAt(spark, dir, k)

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // (name, runner at scale k). Every runner forces the full result.
    val ops: Seq[(String, Int => Long)] = Seq(
      ("q18_jaccard", k => Dedup.ngramJaccardPairs(docsAt(k), 3, 0.35, 100).count()),
      ("q43_clusters", k => Dedup.dedupClusters(docsAt(k)).count()),
      ("q54_split", k => Dedup.leakageSafeSplit(docsAt(k), 80).count()),
      // the contract shape itself — shared helper, never a hand copy
      ("q68_novelty", k =>
        graft.curation.Curation.noveltyStats(docsAt(k)).count()),
      ("q24_cells", k => {
        val e = eventsAt(k)
          .withColumn("lon", lit(-74.05) + col("value") / lit(1000.0))
          .withColumn("lat", lit(40.5) + col("value") / lit(500.0))
          .withColumn("lon2", lit(-74.05) + (col("user_id") % 30).cast("double") / lit(100.0))
          .withColumn("lat2", lit(40.5) + (col("user_id") % 20).cast("double") / lit(50.0))
        // one aggregate forces every walk; count rows in the SAME pass
        // (a separate e.count() would re-scan the k-way union inside the
        // timed section and bias the ratio)
        val r = e.select(col("event_id"),
          GeoFunctions.mapToGridCellsOnWay(col("lon"), col("lat"), col("lon2"), col("lat2"))
            .as("cells"))
          .agg(sum(size(col("cells"))), count(lit(1))).head()
        r.getLong(1)
      }))

    // release + collect OFF the clock — without the collection the
    // released caches' GC debt lands inside the next timed region
    // (ProfileQ68 measured 6× inflation in the on-disk probe; same fix
    // as Bench.exec and MaterializedScaleBench)
    def release(): Unit = { graft.util.CacheRegistry.releaseAll(); System.gc() }
    val out = ops.map { case (name, run) =>
      // warm pass first (compile + JIT), then measured 1x, then measured Nx;
      // caches dropped between scales so each measures a fresh corpus
      release()
      run(1)
      release()
      val (t1, r1) = time(run(1))
      release()
      val (tn, rn) = time(run(factor))
      release()
      // Locale.ROOT: comma-decimal JVM locales would break the JSON line
      def d(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      s""""$name":{"t1":${d(t1)},"rows1":$r1,"tN":${d(tn)},"rowsN":$rn,"ratio":${d(tn / t1)}}"""
    }
    println(s"""{"metric":"scale_ratio","factor":$factor,"sf":"$dir","ops":{${out.mkString(",")}}}""")
    spark.stop()
  }
}
