package graft.tools

/** Materialize a FULL-SUITE scale-dir: the three LLM-pipeline tables
  * (documents/embeddings/events) replicated `factor`× by
  * [[ScaleCorpus]] (per-copy id offsets + per-copy text alphabet
  * substitution, so pair spaces grow linearly), written in the
  * testdata layout (`<out>/<table>.parquet`) so `graft.Bench` can run
  * the WHOLE contract suite against it via `SPARK_GRAFT_SF_DIR` — the
  * r16 verdict's "one materialized 10× full-suite run, not per-family
  * probes". The seven star-schema tables are NOT replicated (no
  * ScaleCorpus face exists for them); copy them from the base dir so
  * the suite is complete — their queries then measure 1× and are
  * excluded from the scale reading.
  *
  * Usage: runMain graft.tools.ScaleMaterialize [factor] [outDir]
  */
object ScaleMaterialize {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_sf10x")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_SF_DIR is also how the subsequent Bench run is
    // pointed at the OUTPUT — a re-run with that env still exported
    // would lazily read and overwrite the same path
    require(new java.io.File(out).getCanonicalPath !=
        new java.io.File(dir).getCanonicalPath,
      s"refusing to materialize $dir onto itself (unset SPARK_GRAFT_SF_DIR?)")
    val spark = graft.util.LocalSession()
    ScaleCorpus.docsAt(spark, dir, factor).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    ScaleCorpus.embeddingsAt(spark, dir, factor).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    ScaleCorpus.eventsAt(spark, dir, factor).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
      spark.read.parquet(s"$dir/$t.parquet").write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    println(s"materialized ${factor}x of $dir at $out")
    spark.stop()
  }
}
