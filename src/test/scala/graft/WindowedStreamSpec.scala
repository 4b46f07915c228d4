package graft

import graft.model._
import graft.sinks.Sinks

/** The `session_window` boundary q38's oracle relies on, and the K2/C8
  * sink surfaces. */
class WindowedStreamSpec extends SparkSpec {
  import spark.implicits._

  test("session_window merges events exactly one gap apart (q38's oracle relies on it)") {
    import org.apache.spark.sql.functions._
    // Three users: one pair exactly 30 min apart (must MERGE -> end extends
    // to last+gap), one pair 1 s closer (also merges), one pair 1 s past
    // the gap (must SPLIT). Pins the boundary the DuckDB oracle mirrors
    // with a strictly-greater break condition. Input built from tuples:
    // a spec-inner case class has no usable Spark encoder for toDF.
    val gapMs = 30 * 60 * 1000L
    val t0 = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val df = Seq(
      (1L, ts(t0), 1.0), (1L, ts(t0 + gapMs), 1.0),         // exactly gap apart
      (2L, ts(t0), 1.0), (2L, ts(t0 + gapMs + 1000), 1.0),  // gap + 1 s
      (3L, ts(t0), 1.0), (3L, ts(t0 + gapMs - 1000), 1.0))  // gap - 1 s
      .toDF("user", "ts", "v")
    val sessions = df
      .groupBy(col("user"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), col("n")).as[(Long, Long)].collect().sorted
    assert(sessions.toSeq == Seq((1L, 2L), (2L, 1L), (2L, 1L), (3L, 2L)))
  }

  test("demo CSV sink formats the reference line (K2)") {
    val alerts = Seq(
      Alert(1L, "{carId=270}", 1700000000123L, "130.000000", passed = true, "{}"))
      .toDS()
    val line = Sinks.demoCsvLine(alerts).as[String].head()
    assert(line == "Rule 1,{carId=270},1700000000123,130.000000,true")
  }

  test("observe() metrics attach without changing results (C8)") {
    val alerts = Seq(
      Alert(1L, "a", 1L, "1", passed = true, "{}"),
      Alert(1L, "b", 2L, "2", passed = false, "{}")).toDS()
    val observed = Sinks.observed(alerts)
    assert(observed.collect().length == 2)
  }

  test("observed metrics report counts, fired and event-time lag (K3/C8)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val now = System.currentTimeMillis()
    val alerts = Seq(
      Alert(1L, "a", now - 5000L, "10", passed = true, "{}"),
      Alert(1L, "b", now - 1000L, "3", passed = false, "{}"),
      Alert(2L, "c", now - 2000L, "7", passed = true, "{}")).toDS()
    @volatile var got: Option[org.apache.spark.sql.Row] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("graft_alerts").foreach(r => got = Some(r))
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Sinks.observed(alerts).collect()
      // QueryExecutionListener delivery is async
      val deadline = System.currentTimeMillis() + 20000
      while (got.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val m = got.getOrElse(fail("observed metrics never delivered"))
      assert(m.getAs[Long]("alerts") == 3L)
      assert(m.getAs[Long]("fired") == 2L)
      // the oldest alert is ~5 s behind wall clock at evaluation time
      val lag = m.getAs[Long]("max_lag_ms")
      assert(lag >= 5000L && lag < 120000L, s"lag $lag")
    } finally spark.listenerManager.unregister(listener)
  }
}
