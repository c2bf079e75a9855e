package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <result.json>
  *
  * Set-up builds the inputs [[SetupReps]] times, then runs the
  * workload's full-size warm-up passes; then passes repeat until
  * `--seconds` have gone by. The result file holds the end-to-end
  * metrics, or with `--trace 1` the per-layer ones, as one JSON object.
  */
object Main {
  val Cores = 4
  val SetupReps = 3
  val MinPasses = 3

  /** One finished pass: wall and CPU over its timed calls, the
    * counters of each call name, extras, and failed operations.
    */
  case class Pass(wallS: Double, cpuS: Double, layers: Map[String, Double],
      attempted: Int, failed: Int, traced: Boolean)

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs one pass of `wl`, each call under its own job group. */
  def runPass(wl: Workload, probe: Probe, label: String): Pass = probe.span(label) { parent =>
    val calls = mutable.ArrayBuffer.empty[Timed[_]]
    var attempted, failed = 0
    val caller = new Caller {
      def apply[T](name: String)(body: => T): T = {
        attempted += 1
        val t = probe.call(name, parent)(body)
        calls += t
        t.value
      }
    }
    val out =
      try Some(wl.pass(caller))
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $label failed")
          e.printStackTrace()
          failed += 1
          None
      }
    out.toSeq.flatMap(_.checks).filterNot(_._2).foreach { case (what, _) =>
      System.err.println(s"perfbench: $label check failed: $what")
      failed += 1
    }
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var cpuNs = 0L
    for (t <- calls) {
      val name = t.group.takeWhile(_ != '#')
      val c = probe.countersOf(t.group)
      cpuNs += c.cpuNs.get
      layers(s"$name.wall_s") += t.wallS
      c.values.foreach { case (k, v) => layers(s"$name.$k") += v }
    }
    out.foreach(layers ++= _.extras)
    val wall = calls.map(_.wallS).sum
    System.err.println(f"perfbench: $label: $wall%.3f s in ${calls.size} calls, " +
      f"${cpuNs / 1e9}%.3f s executor CPU, $failed failed")
    // a pass that fails before its first call still counts one attempt
    val tried = math.max(attempted, 1)
    Pass(wall, cpuNs / 1e9, layers.toMap, tried, math.min(failed, tried), probe.tracing)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** VmHWM of this process in MB: the peak resident set. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath),
      StandardCharsets.US_ASCII)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def json(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val runSeconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = new File(arg(args, "work"))
    val out = new File(arg(args, "out"))
    val data = new File(work, "data")

    var spark = session(Cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    var probe = new Probe(spark)
    probe.runId = s"$name-seed$seed"
    var wl = Workload(name, spark, seed, data)
    val passes = mutable.ArrayBuffer.empty[Pass]

    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val prepareS = (1 to SetupReps).map(_ => seconds(wl.prepare()))
    System.err.println(f"perfbench: session $sessionS%.3f s, inputs ${prepareS.mkString(" ")} s")
    val warmS = (1 to wl.warmPasses).map(r => seconds(passes += runPass(wl, probe, s"warm-up $r")))
    val warm = passes.size

    // traced and untraced passes alternate in a traced run, so the
    // difference of their medians is the tracing overhead
    val t0 = System.nanoTime()
    while (passes.size - warm < MinPasses || (System.nanoTime() - t0) / 1e9 < runSeconds) {
      probe.tracing = trace && (passes.size - warm) % 2 == 1
      passes += runPass(wl, probe, s"pass ${passes.size - warm + 1}")
    }
    probe.tracing = false
    val timed = passes.drop(warm).filter(_.failed == 0).toSeq
    val untraced = timed.filterNot(_.traced)
    val traced = timed.filter(_.traced)

    val e2e: Seq[(String, Double)] = {
      val wall = median(untraced.map(_.wallS))
      Seq(
        "setup_s" -> (sessionS + median(prepareS) + warmS.sum),
        "wall_s" -> wall,
        "rows_per_s" -> wl.feedRows / wall,
        "cpu_s" -> median(untraced.map(_.cpuS)),
        "peak_rss_mb" -> peakRssMb())
    }

    var layers: Map[String, Double] = Map.empty
    var spans = probe.recordedSpans
    if (trace) {
      val names = traced.flatMap(_.layers.keys).distinct
      layers = names.map(n => n -> median(traced.map(_.layers.getOrElse(n, 0.0)))).toMap +
        ("trace.overhead_s" -> (median(traced.map(_.wallS)) - median(untraced.map(_.wallS))))
      if (name == "etl_pipeline") {
        // one core, as the paper's pandas transform ran: one traced
        // pass in a fresh local[1] context (the JIT is already warm)
        spark.stop()
        spark = session(1, work)
        probe = new Probe(spark)
        probe.runId = s"$name-seed$seed-local1"
        wl = Workload(name, spark, seed, data)
        wl.prepare()
        probe.tracing = true
        val one = runPass(wl, probe, "local[1] pass")
        passes += one
        layers += "engine.Clean.clean.rows_per_s_per_core" ->
          wl.feedRows / one.layers.getOrElse("engine.Clean.clean.wall_s", Double.NaN)
        spans ++= probe.recordedSpans
      }
      writeTrace(new File(work, s"trace/$name-seed$seed.json"), spans, passes.toSeq)
    }
    spark.stop()

    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    val okShare = "ok_share" -> (attempted - failed).toDouble / math.max(attempted, 1)
    val result =
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""passes": ${timed.size}, "untraced_passes": ${untraced.size}, """ +
        s""""e2e": ${json(e2e :+ okShare)}, "layers": ${json(layers.toSeq.sorted)}}"""
    out.getParentFile.mkdirs()
    Files.write(out.toPath, result.getBytes(StandardCharsets.UTF_8))
  }

  /** Spans and per-pass layer counters of a traced run, as JSON. */
  private def writeTrace(f: File, spans: Seq[Span], passes: Seq[Pass]): Unit = {
    f.getParentFile.mkdirs()
    val sp = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "run": "${s.run}", "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    val ps = passes.map(p => s"""{"traced": ${p.traced}, "wall_s": ${p.wallS}, """ +
      s""""layers": ${json(p.layers.toSeq.sorted)}}""")
    Files.write(f.toPath, (s"""{"spans": [${sp.mkString(",\n")}],\n""" +
      s""""passes": [${ps.mkString(",\n")}]}""").getBytes(StandardCharsets.UTF_8))
  }
}
