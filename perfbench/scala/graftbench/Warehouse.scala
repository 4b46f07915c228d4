package graftbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query half of warehouse_ingest: contract queries over the
  * generated tables, through SparkEntry.queries with a `noop` sink, as
  * graft.Bench runs them. At least one query per registry family plus
  * Multimodal; no streaming or gate rows. The untimed first pass builds
  * the memoized index kinds the timed passes then read, and untimed warm
  * passes follow it. The first pass and an untimed pass after the timed
  * ones write every result for the oracle check (oracle.py), so the
  * memoized path the timed passes ran is checked too. A request is one
  * query. The seed plays no part: a query's latency depends on its
  * predecessor (it runs in the shadow of a heavy one's cleanup) and on
  * its place on the JIT warm-up curve, and when each pass's order came
  * from the seed, runs of different seeds read p50 416-556 ms, so the
  * orders are fixed. */
final class Warehouse(spark: SparkSession, o: Main.Opts, t: Tracer) extends Workload {
  import Warehouse.Queries
  private val names = Queries.map(_._1)
  private val queries = SparkEntry.queries

  /** Timed pass p's order, a fixed permutation. */
  private def order(p: Int): Seq[String] =
    new scala.util.Random(Warehouse.OrderSeed + p).shuffle(names)
  private def nameOf(i: Int): String = order(i / names.size)(i % names.size)

  private val construct = mutable.Map.empty[Int, Double]
  private val exec = mutable.Map.empty[Int, Double]
  private val total = mutable.Map.empty[Int, Double]

  def itemsPerRequest(i: Int): Long = 1
  def firstTimed: Int = 0

  private def build(name: String): DataFrame =
    t.span(s"query.construct", "queries")(queries(name)(spark, o.data))

  /** One untimed pass in a fixed order; `pass` names its output directory
    * (results to parquet for the oracle check) or is empty (`noop`). */
  private def untimedPass(label: String, pass: String): Unit = names.foreach { n =>
    val s = System.nanoTime()
    val w = build(n).write.mode("overwrite")
    if (pass.isEmpty) w.format("noop").save() else w.parquet(s"${o.work}/outputs/$pass/$n")
    Main.log(f"$label $n ${(System.nanoTime() - s) / 1e6}%.1f ms")
  }

  def setup(): Unit = {
    val oracle = SparkEntry.oracleSql
    untimedPass("first pass", "first")
    (1 to Sizes.warmPasses(o.scale)).foreach(k => untimedPass(s"warm pass $k", ""))
    val sql = names.map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.work}/oracle_sql.json"), sql)
  }

  def request(i: Int): Unit = {
    val name = nameOf(i)
    val s = System.nanoTime()
    val df = build(name)
    val m = System.nanoTime()
    t.span("query.exec", "queries")(df.write.format("noop").mode("overwrite").save())
    val e = System.nanoTime()
    construct(i) = (m - s) / 1e6
    exec(i) = (e - m) / 1e6
    total(i) = (e - s) / 1e6
  }

  def verify(timed: Seq[Int]): (Set[Int], Map[String, String]) = {
    untimedPass("final pass", "final")
    // the oracle comparison itself runs after the JVM exits (oracle.py);
    // here: how many timed requests ran each query, so a mismatch fails them
    val counts = timed.groupBy(nameOf).map { case (n, is) => n -> is.size }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.work}/requests_by_query.json"),
      counts.map { case (n, c) => s"${Json.str(n)}: $c" }.mkString("{", ", ", "}"))
    (Set.empty, Map.empty)
  }

  def layerMetrics(probe: Option[Probe], traced: Seq[Int]): Map[String, Metric] = {
    val out = mutable.LinkedHashMap.empty[String, Metric]
    def med(m: mutable.Map[Int, Double], is: Seq[Int]) =
      Metric(Main.percentile(is.flatMap(m.get), 0.5), "ms")
    out("query.construct_ms") = med(construct, traced)
    out("query.exec_ms") = med(exec, traced)
    Seq("core", "exec", "dedup", "similarity", "curation", "multimodal").foreach { f =>
      val fam = Queries.filter(_._2 == f).map(_._1).toSet
      out(s"query.family_${f}_ms") = med(total, traced.filter(i => fam(nameOf(i))))
    }
    out.toMap
  }

  def close(): Unit = ()
}

object Warehouse {
  val OrderSeed = 1000003L

  /** The query mix and each query's family (its registry, or Multimodal). */
  val Queries: Seq[(String, String)] = Seq(
    "q12_topk_orders" -> "core",
    "q05_rule_max" -> "core",
    "q53_stratum_sample_k" -> "exec",
    "q25_multimodal_decode" -> "multimodal",
    "q105_duplicate_chunks" -> "dedup",
    "q164_embedding_health" -> "similarity",
    "q106_three_way_split" -> "curation",
    "q67_percentile_normalize" -> "curation")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
