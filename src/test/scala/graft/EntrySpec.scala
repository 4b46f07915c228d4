package graft

import org.apache.spark.sql.functions._

/** [[SparkEntry.entry]], the flagship query: two JSON rules (a per-user
  * AVG and a per-event-type COUNT) fanned out over the sf0.001 events. */
class EntrySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def alertsPerRule(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.groupBy("rule_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("entry: the two-rule fan-out returns alerts for both rules on sf0.001") {
    val perRule = alertsPerRule(SparkEntry.entry(spark))
    assert(perRule.keySet == Set(1L, 2L), perRule)
    assert(perRule.values.forall(_ > 0), perRule)
  }

  test("entry(spark, dir) on the sf0.001 directory equals entry(spark)") {
    val perRule = alertsPerRule(SparkEntry.entry(spark, dir))
    assert(perRule.keySet == Set(1L, 2L), perRule)
    assert(perRule == alertsPerRule(SparkEntry.entry(spark)), perRule)
  }
}
