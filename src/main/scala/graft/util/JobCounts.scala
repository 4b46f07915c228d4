package graft.util

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.BusBridge

/** Spark jobs and stages per named region: one SparkListener counting
  * every job start and stage submission by the region the submitting
  * thread runs in.
  *
  * The region rides a local property, which the threads a region starts
  * inherit (Structured Streaming's execution thread, the gate's evidence
  * branch), so a streaming query's trigger jobs count toward the region
  * that started it. The job group (`spark.jobGroup.id`) cannot carry it:
  * each stream execution thread overwrites its group with the stream's
  * run id. */
final class JobCounts(spark: SparkSession) {
  private val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stages = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def regionOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(JobCounts.Key)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      regionOf(e.properties).foreach(r => JobCounts.this.synchronized { jobs(r) += 1 })
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      regionOf(e.properties).foreach(r => JobCounts.this.synchronized { stages(r) += 1 })
  }
  spark.sparkContext.addSparkListener(listener)

  /** Runs `f` with the calling thread (and every thread it starts) in
    * region `name`. */
  def region[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobCounts.Key)
    sc.setLocalProperty(JobCounts.Key, name)
    try f finally sc.setLocalProperty(JobCounts.Key, prev)
  }

  /** Stops counting. */
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** (jobs, stages) region `name` submitted, once every event posted so
    * far was handled; the region's counts restart from zero. */
  def take(name: String): (Long, Long) = {
    BusBridge.drain(spark.sparkContext)
    synchronized { (jobs.remove(name).getOrElse(0L), stages.remove(name).getOrElse(0L)) }
  }
}

object JobCounts {
  val Key = "graft.region"

  /** The region the calling thread runs in, if any. */
  def current: Option[String] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(s => Option(s.sparkContext.getLocalProperty(Key)))
}
