package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Listener counters of one timed call (or of everything run under one
  * job group).
  */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  def values: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "exec_cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3,
    "sched_wait_s" -> schedMs.get / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble)
}

/** One traced interval: a pass of a workload or a call inside it. */
case class Span(id: Long, parent: Long, run: String, name: String,
    startNs: Long, endNs: Long)

/** Outside-in attribution: every timed call runs under its own Spark
  * job group, and a listener adds each finished task's metrics to the
  * group of the job that submitted its stage. Jobs Spark starts on
  * other threads (broadcasts, subqueries) inherit the caller's group.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val groups = new ConcurrentHashMap[String, Counters]
  private val seq = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  sc.addSparkListener(this)

  /** Whether [[call]] records spans. */
  var tracing = false
  var runId = ""

  private def counters(group: String): Counters =
    groups.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Probe.NoGroup)
    counters(g).jobs.incrementAndGet()
    j.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(t.stageId)
    val m = t.taskMetrics
    if (g != null && m != null) {
      val c = counters(g)
      val i = t.taskInfo
      c.tasks.incrementAndGet()
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      // Spark UI's "scheduler delay": task time not spent deserializing,
      // running, serializing or fetching the result
      c.schedMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Runs `body` under a fresh job group and returns its result, the
    * group id and the wall seconds. `parent` is the enclosing span.
    */
  def call[T](name: String, parent: Long = 0L)(body: => T): Timed[T] = {
    val id = seq.incrementAndGet()
    val group = s"$name#$id"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val v = body
      val t1 = System.nanoTime()
      if (tracing) spans.synchronized(spans += Span(id, parent, runId, name, t0, t1))
      Timed(v, group, (t1 - t0) / 1e9)
    } finally sc.clearJobGroup()
  }

  /** A span with no job group of its own (a pass around its calls). */
  def span[T](name: String)(body: Long => T): T = {
    val id = seq.incrementAndGet()
    val t0 = System.nanoTime()
    val v = body(id)
    if (tracing) spans.synchronized(spans += Span(id, 0L, runId, name, t0, System.nanoTime()))
    v
  }

  /** Counters of a finished call; waits for the listener bus first. */
  def countersOf(group: String): Counters = {
    org.apache.spark.graft.ListenerDrain.drain(spark)
    Option(groups.get(group)).getOrElse(new Counters)
  }

  /** Jobs submitted outside any job group (checks, set-up). */
  def unattributedJobs: Long = countersOf(Probe.NoGroup).jobs.get

  def recordedSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Probe {
  val NoGroup = ""
}

case class Timed[T](value: T, group: String, wallS: Double)
