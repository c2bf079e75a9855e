package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{CopySink, IowaStar, Pipeline}

/** Runs one timed call of a pass; `name` is `<module>.<call>`. */
trait Caller {
  def apply[T](name: String)(body: => T): T
}

/** What one pass produced besides its calls: layer extras (pages,
  * bytes, ratios) and the output checks, each labelled.
  */
case class PassOutput(extras: Map[String, Double], checks: Seq[(String, Boolean)])

/** A workload: inputs built by [[prepare]], then identical passes. */
trait Workload {
  /** Rows a pass feeds into the program, the numerator of rows_per_s. */
  def feedRows: Long
  /** Untimed full-size passes after set-up: until pass walls stop
    * falling as the JIT compiles the program's hot paths.
    */
  def warmPasses: Int
  def prepare(): Unit
  def pass(call: Caller): PassOutput
}

object Workload {
  /** Feed page size: the reference's 50,000-row chunks
    * (CHUNK_ROWS, `src/config.py:19`) scaled with the feed, so that
    * `etl_pipeline`'s four pages keep all four cores busy.
    */
  val PageRows = 25000
  val Keys = Seq("invoice_line_no")

  def apply(name: String, spark: SparkSession, seed: Long, dir: File): Workload =
    name match {
      case "etl_pipeline" => new EtlPipeline(spark, seed, dir, rows = 100000)
      case "star_build" => new StarBuild(spark, seed, dir, rows = 300000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def path(dir: File, name: String): String = new File(dir, name).getPath
}

/** The COPY transport that keeps only the byte count. */
class CountingTransport extends CopySink.CopyTransport {
  override def copyIn(statement: String, payload: Array[Byte]): Unit =
    CountingTransport.bytes.add(payload.length.toLong)
}

object CountingTransport {
  /** Bytes copied in this JVM (executors share it in local mode). */
  val bytes = new java.util.concurrent.atomic.LongAdder
  val factory: () => CopySink.CopyTransport = () => new CountingTransport
}

/** The paper's DAG in `Pipeline.run`'s order: page scan → raw parquet,
  * clean → clean parquet, COPY load, conflict-ignoring append into an
  * empty table.
  */
final class EtlPipeline(spark: SparkSession, seed: Long, dir: File, rows: Long)
    extends Workload {
  import Workload._
  private val rawDir = path(dir, "raw")
  private val cleanDir = path(dir, "clean")
  private val tableDir = path(dir, "table")
  private var expected: Feed.Counts = _
  private var copyBytes = -1L

  def feedRows: Long = rows
  def warmPasses: Int = 2

  def prepare(): Unit = expected = Feed.counts(seed, 0, rows)

  def pass(call: Caller): PassOutput = {
    val pages0 = FeedFetcher.pages.sum
    call("sources.PagedProvider.scan") {
      Pipeline.writeStage(Feed.raw(spark, seed, 0, rows, PageRows), rawDir)
    }
    val pages = FeedFetcher.pages.sum - pages0
    call("engine.Clean.clean") {
      Pipeline.writeStage(IowaStar.clean(spark.read.parquet(rawDir)), cleanDir)
    }
    val bytes0 = CountingTransport.bytes.sum
    val copied = call("engine.CopySink.load") {
      CopySink.load(spark.read.parquet(cleanDir), "iowa_liquor_sales", CountingTransport.factory)
    }
    val bytes = CountingTransport.bytes.sum - bytes0
    delete(new File(tableDir))
    val loaded = call("engine.Pipeline.conflictIgnoringAppend") {
      Pipeline.conflictIgnoringAppend(spark, spark.read.parquet(cleanDir), tableDir, Keys)
    }

    if (copyBytes < 0) copyBytes = bytes
    val c = spark.read.parquet(cleanDir).agg(
      count(lit(1)), count(when(col("date").isNull, 1)),
      count(when(col("sale_bottles") === 0, 1)), count(when(col("store").isNull, 1))).head()
    val e = expected
    PassOutput(
      Map("sources.PagedProvider.pages" -> pages.toDouble,
        "engine.CopySink.load.bytes" -> bytes.toDouble,
        "engine.CopySink.load.bytes_per_row" -> bytes.toDouble / math.max(1L, copied),
        "engine.Pipeline.conflictIgnoringAppend.novel_ratio" -> loaded.toDouble / rows),
      Seq(
        "extract rows" -> (spark.read.parquet(rawDir).count() == e.rows),
        "clean rows" -> (c.getLong(0) == e.rows),
        "null dates" -> (c.getLong(1) == e.badDates),
        "zero-filled counts" -> (c.getLong(2) == e.badCounts),
        "null stores" -> (c.getLong(3) == e.nullStores),
        "copy rows" -> (copied == e.rows),
        "copy bytes repeat" -> (bytes == copyBytes),
        "loaded rows" -> (loaded == e.distinctKeys),
        "table rows" -> (spark.read.parquet(tableDir).count() == e.distinctKeys)))
  }
}

/** The five `IowaStar` dims and `factSales` over a loaded table, each
  * written with `writeStage`, then `fkAudit` over what was written.
  */
final class StarBuild(spark: SparkSession, seed: Long, dir: File, rows: Long)
    extends Workload {
  import Workload._
  private val tableDir = path(dir, "table")
  private val builds: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dimStore" -> IowaStar.dimStore, "dimDate" -> IowaStar.dimDate,
    "dimItem" -> IowaStar.dimItem, "dimVendor" -> IowaStar.dimVendor,
    "dimCategory" -> IowaStar.dimCategory, "factSales" -> IowaStar.factSales)
  private var expected = Map.empty[String, Long]

  def feedRows: Long = rows
  // its calls are short jobs bound by planning and scheduling, whose
  // code warms slowly
  def warmPasses: Int = 3

  def prepare(): Unit = {
    // what a first conflict-ignoring append loads, in one job
    Pipeline.writeStage(
      IowaStar.clean(Feed.raw(spark, seed, 0, rows, PageRows)).dropDuplicates(Keys), tableDir)
    spark.read.parquet(tableDir).createOrReplaceTempView("loaded")
    val r = spark.sql(
      """SELECT COUNT(DISTINCT store), COUNT(DISTINCT CAST(date AS DATE)),
        |  COUNT(DISTINCT itemno), COUNT(DISTINCT vendor_no),
        |  COUNT(DISTINCT category), COUNT(invoice_line_no)
        |FROM loaded""".stripMargin).head()
    expected = builds.map(_._1).zipWithIndex.map { case (n, i) => n -> r.getLong(i) }.toMap
  }

  def pass(call: Caller): PassOutput = {
    val base = spark.read.parquet(tableDir)
    for ((name, build) <- builds)
      call(s"engine.Star.$name")(Pipeline.writeStage(build(base), path(dir, name)))
    def read(name: String) = spark.read.parquet(path(dir, name))
    val audit = call("engine.Star.fkAudit") {
      IowaStar.fkAudit(read("factSales"), read("dimStore"), read("dimDate"),
        read("dimItem"), read("dimVendor"), read("dimCategory"))
    }
    val violations = audit.values.sum
    PassOutput(
      Map("engine.Star.fkAudit.violations" -> violations.toDouble),
      builds.map { case (name, _) => s"$name rows" -> (read(name).count() == expected(name)) } :+
        ("fkAudit reports no violations" -> (audit.size == 5 && violations == 0L)))
  }
}
