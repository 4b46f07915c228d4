// Plan artifact dumper (optimization rounds): write each named query's
// .explain("formatted") text to plans/<tag>/<query>_<suffix>.txt so the
// judge can check plan claims without running Spark.
// Usage: sbt 'runMain graft.tools.PlanDump <suffix> <q1,q2,...>'
//   env SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
//   env SPARK_GRAFT_PLANS_DIR (default plans/r21)
package graft.tools

import org.apache.spark.sql.execution.FormattedMode

object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val qs = if (args.length > 1) args(1).split(",").toSeq
      else Seq.empty
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r21")
    // the session Bench runs on, so the dumped plans are the measured ones
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- qs) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
