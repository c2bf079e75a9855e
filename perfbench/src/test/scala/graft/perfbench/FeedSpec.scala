package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{IowaSchema, Pipeline}

class FeedSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val rows = 20000L
  private val page = 5000

  /** Parquet part files of one write, in partition order. */
  private def partBytes(dir: File): Seq[Seq[Byte]] =
    dir.listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName.take(10))
      .map(f => Files.readAllBytes(f.toPath).toSeq).toSeq

  private def write(seed: Long): File = {
    val dir = Files.createTempDirectory("feedspec").toFile
    Pipeline.writeStage(Feed.raw(spark, seed, 0, rows, page), dir.getPath + "/raw")
    new File(dir, "raw")
  }

  test("the same seed writes the same bytes") {
    val (x, y) = (write(7), write(7))
    try {
      val a = partBytes(x)
      assert(a.size == (rows / page).toInt)
      assert(a == partBytes(y))
    } finally Seq(x, y).foreach(d => Workload.delete(d.getParentFile))
  }

  test("a different seed gives different rows") {
    val a = Feed.raw(spark, 7, 0, rows, page)
    val b = Feed.raw(spark, 8, 0, rows, page)
    assert(a.schema == IowaSchema.raw)
    assert(a.exceptAll(b).count() > rows / 2)
  }

  test("the Scala half hashes exactly as Spark's xxhash64") {
    val keys = Seq(0L, 1L, 41L, 123456789L, Long.MaxValue)
    val spark0 = spark
    import spark0.implicits._
    val got = keys.toDF("k").select(xxhash64(lit(3L), lit(9L), col("k"))).as[Long].collect().toSeq
    assert(got == keys.map(Feed.mix(3, 9, _)))
  }

  test("counts match the feed's rows: sizes, duplicates and injected faults") {
    val raw = Feed.raw(spark, 11, 0, rows, page).cache()
    val e = Feed.counts(11, 0, rows)
    assert(raw.count() == e.rows)
    assert(raw.select("invoice_line_no").distinct().count() == e.distinctKeys)
    assert(raw.where(col("date").isNull).count() == e.badDates)
    assert(raw.where(col("sale_bottles") === "n/a").count() == e.badCounts)
    assert(raw.where(col("store").isNull).count() == e.nullStores)
    // ≈1 % each, far from 0 and from the whole feed
    for (n <- Seq(rows - e.distinctKeys, e.badDates, e.badCounts, e.nullStores))
      assert(n > rows / 200 && n < rows / 50, s"$n of $rows")
    raw.unpersist()
  }

  test("dates stay in the reference's range and dims are in their cardinality classes") {
    val raw = Feed.raw(spark, 5, 0, rows, page)
    val r = raw.agg(min("date"), max("date"), countDistinct("store"),
      countDistinct("itemno"), countDistinct("vendor_no"), countDistinct("category")).head()
    assert(r.getTimestamp(0).toLocalDateTime.toLocalDate.isAfter(Feed.FirstDay.minusDays(1)))
    assert(r.getTimestamp(1).toLocalDateTime.toLocalDate.isBefore(Feed.LastDay.plusDays(1)))
    assert(r.getLong(2) > 1000 && r.getLong(2) <= Feed.Stores)
    assert(r.getLong(3) > 5000 && r.getLong(3) <= Feed.Items)
    assert(r.getLong(4) > 100 && r.getLong(4) <= Feed.Vendors)
    assert(r.getLong(5) > 50 && r.getLong(5) <= Feed.Categories)
  }
}
