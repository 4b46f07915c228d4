package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Process-wide counters read at request boundaries: MXBeans for the JVM,
  * Janino compiles for Spark codegen. Cheap enough to read untraced. */
final case class JvmCounters(gcMs: Long, jitMs: Long, cpuNs: Long, codegen: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs - o.gcMs, jitMs - o.jitMs, cpuNs - o.cpuNs, codegen - o.codegen)
}

object JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): JvmCounters = JvmCounters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    os.getProcessCpuTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Heap in use after full collections, in MB. A collection finds the
    * weakly reachable Spark objects whose cleanup (broadcasts, shuffles,
    * finished queries) runs on other threads, and that cleanup lags when
    * the machine is busy; so collections repeat, 0.5 s apart, until one
    * frees less than 1 MB (at most 8). */
  def heapAfterGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var seen = List(collect())
    while (seen.size < 8 && (seen.size < 2 || seen(1) - seen.head >= 1.0)) {
      Thread.sleep(500)
      seen = collect() :: seen
    }
    Main.log(s"heap after collections: ${seen.reverse.map(m => f"$m%.1f").mkString(", ")} MB")
    seen.head
  }
}

/** One recorded span: a timed call into one layer, caused by `parent`
  * (0 = none), inside request `req`. Times are epoch microseconds, the
  * clock Spark's listener events use (at millisecond resolution). */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    req: Int, start: Long, end: Long)

/** The traced run's recorder: spans around the benchmark's own calls into
  * each layer, plus SparkListener, StreamingQueryListener and MXBean
  * counts. Everything stays in memory until the run ends; listener
  * events are attributed to the request whose interval holds their
  * timestamp. Untraced runs build no Probe, so no listener sits on the
  * measured path. */
final class Probe(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile var currentReq: Int = -1

  private val nanoBase = System.nanoTime()
  private val microBase = System.currentTimeMillis() * 1000L
  def nowMicros(): Long = microBase + (System.nanoTime() - nanoBase) / 1000L

  /** Id of the span this thread closed last. */
  private val closed = new ThreadLocal[Int] { override def initialValue() = 0 }
  def lastClosed: Int = closed.get()

  /** Nanoseconds the probe spent in its own code: span bookkeeping on
    * the request thread and the listener handlers on the bus thread. */
  private val own = new java.util.concurrent.atomic.AtomicLong(0L)
  def ownNs: Long = own.get()
  /** Runs `f`, counting its time as the probe's own. */
  def owned[A](f: => A): A = {
    val s = System.nanoTime()
    try f finally { own.addAndGet(System.nanoTime() - s); () }
  }

  def span[A](name: String, layer: String)(f: => A): A = {
    val e0 = System.nanoTime()
    val id = nextId.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = nowMicros()
    val e1 = System.nanoTime()
    try f finally {
      val e2 = System.nanoTime()
      spans.add(Span(id, name, layer, parents.headOption.getOrElse(0), currentReq,
        t0, nowMicros()))
      stack.set(parents)
      closed.set(id)
      own.addAndGet(e1 - e0 + System.nanoTime() - e2)
    }
  }

  /** A span opened and closed by the caller (for intervals that start in
    * one callback and end in another). */
  def record(name: String, layer: String, parent: Int, start: Long, end: Long): Unit = owned {
    spans.add(Span(nextId.incrementAndGet(), name, layer, parent, currentReq, start, end)); ()
  }

  final case class Job(start: Long, end: Long)
  final case class Task(end: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, cpuNs: Long, runMs: Long)
  /** One micro-batch's progress: query id, trigger start, addBatch and
    * triggerExecution durations (ms). */
  final case class Progress(query: String, start: Long, addBatchMs: Long, triggerMs: Long)

  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = owned {
      Probe.this.synchronized { jobStarts(e.jobId) = e.time * 1000L }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = owned {
      Probe.this.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobs += Job(s, e.time * 1000L))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = owned {
      Probe.this.synchronized {
        stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = owned {
      val m = e.taskMetrics
      if (m != null) Probe.this.synchronized {
        tasks += Task(e.taskInfo.finishTime * 1000L,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.executorCpuTime, m.executorRunTime)
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = owned {
      val p = e.progress
      if (p.numInputRows > 0) {
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        Probe.this.synchronized {
          progress += Progress(p.id.toString, start, ms("addBatch"),
            ms("triggerExecution"))
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(queryListener)

  /** Wait until every posted listener event has been handled, then detach. */
  def close(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(queryListener)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Listener counts over the given request intervals (epoch micros). */
  final case class Window(jobs: Int, stages: Int, tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, cpuNs: Long, runMs: Long,
      progress: Seq[Progress])
  def window(intervals: Seq[(Long, Long)]): Window = synchronized {
    def in(t: Long) = intervals.exists { case (a, b) => t >= a && t <= b }
    val ts = tasks.filter(t => in(t.end))
    Window(jobs.count(j => in(j.start)), stages.count(in), ts.size,
      ts.map(_.shuffleRead).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      ts.map(_.cpuNs).sum, ts.map(_.runMs).sum, progress.filter(p => in(p.start)).toSeq)
  }

  /** Microseconds of [t0, t1] during which at least one Spark job ran. */
  def jobCover(t0: Long, t1: Long): Long = synchronized {
    val iv = jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = 0L; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Each layer's self time over the given requests, in ms per request:
    * a span's duration minus what its child spans cover, with the time a
    * Spark job ran inside that remainder moved to the `spark` layer. */
  def selfMsPerOp(reqs: Set[Int]): Map[String, Double] = {
    val ss = allSpans.filter(s => reqs(s.req))
    val children = ss.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ss.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
      val own = (s.end - s.start) - kids.map(k => k.end - k.start).sum
      val sparkUs = jobCover(s.start, s.end) - kids.map(k => jobCover(k.start, k.end)).sum
      out(s.layer) += math.max(0L, own - sparkUs) / 1e3
      out("spark") += math.max(0L, sparkUs) / 1e3
    }
    out.map { case (k, v) => k -> v / math.max(1, reqs.size) }.toMap
  }
}

object Probe {
  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
