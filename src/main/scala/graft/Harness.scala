package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement harness behind the mains (Bench, Verify,
  * PlanAudit, RecallProbe): how a session is built, which registered
  * queries a run selects, the warm-up pass, and the timed loop that
  * counts each query's Spark work with one listener.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** Local session on `cpus` cores with as many shuffle partitions.
    * `spark.*` JVM system properties (`-Dspark.k=v`) reach the session
    * through `SparkConf` for every key not set here.
    */
  def session(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Whether `tokens` select `name`: a token must equal the full name
    * or its exact [[Bench.shortKey]], so `q15` selects `q15_topn_brand`
    * and never `q150_…` (a prefix rule picked all eleven). No tokens
    * select everything.
    */
  def selects(tokens: Seq[String], name: String): Boolean =
    tokens.isEmpty || tokens.exists(t => t == name || t == Bench.shortKey(name))

  /** The registered queries `tokens` select, sorted by name. */
  def select(tokens: Seq[String]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => selects(tokens, n) }

  /** Materializes every output row into the noop sink. Not `count()`:
    * a count lets Catalyst prune every column it does not need, which
    * skips projection work (token counts, coercions).
    */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One untimed pass over `queries` after a small flagship query, so
    * timed numbers are steady-state latency (codegen compiled, page
    * cache warm) rather than first-run JIT and class loading: the
    * throughput definition BASELINE.md's reference numbers use.
    */
  def warmUp(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit = {
    SparkEntry.entry(spark).count()
    for ((name, fn) <- queries)
      try noop(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
  }

  /** One timed query: wall seconds (building the DataFrame included),
    * whether it threw, and the Spark work its run submitted. `cpuSec`
    * is executor CPU time, `sites` the top three job call sites
    * with their job counts.
    */
  final case class Run(name: String, sec: Double, failed: Boolean,
      jobs: Int, stages: Int, tasks: Int, cpuSec: Double, gcSec: Double,
      sites: Seq[(String, Int)]) {
    def detailJson: String =
      s"""{"sec":${Bench.r3(sec)},${if (failed) "\"failed\":true," else ""}""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""exec_cpu_s":${Bench.r3(cpuSec)},"gc_s":${Bench.r3(gcSec)},""" +
        s""""sites":${sites.map { case (s, n) => s"[${jsonString(s)},$n]" }
          .mkString("[", ",", "]")}}"""
  }

  private val MaxSites: Int = 3

  /** A job's call site: the first in-repo frame of its last stage's
    * call stack outside this harness and the Bench main that drives it
    * (the final write of every query is submitted from there), else
    * the stage name.
    */
  private def callSite(j: SparkListenerJobStart): String =
    j.stageInfos.lastOption.map { si =>
      si.details.linesIterator
        .find(l => l.contains("graft.") &&
          !l.contains("graft.Harness") && !l.contains("graft.Bench"))
        .map(_.trim.stripPrefix("at "))
        .getOrElse(si.name)
    }.getOrElse("<none>")

  private final class Counts {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val sites = new ConcurrentHashMap[String, Integer]
  }

  /** Times each query in order through the noop sink. One listener
    * counts jobs, stages, tasks, executor CPU and GC into the running
    * query's counts; the listener bus is drained after each query, so
    * no event of one query is counted into the next. A query that
    * throws is logged and marked failed; the loop goes on.
    */
  def measure(spark: SparkSession, queries: Seq[(String, () => DataFrame)]): Seq[Run] = {
    val current = new AtomicReference(new Counts)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val c = current.get
        c.jobs.incrementAndGet()
        c.sites.merge(callSite(j), 1, (a, b) => a + b)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        current.get.stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val c = current.get
        c.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
        }
      }
    }
    ListenerDrain.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try queries.map { case (name, df) =>
      val t0 = System.nanoTime()
      val failed =
        try { noop(df()); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          true
        }
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerDrain.drain(spark)
      val c = current.getAndSet(new Counts)
      Run(name, sec, failed, c.jobs.get, c.stages.get, c.tasks.get,
        c.cpuNs.get / 1e9, c.gcMs.get / 1e3,
        c.sites.asScala.toSeq.map { case (s, n) => (s, n.intValue) }
          .sortBy { case (s, n) => (-n, s) }.take(MaxSites))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20) — a tab or CR in an oracle SQL string would
    * otherwise make oracle_sql.json unparseable for every checker.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
