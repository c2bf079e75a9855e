package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class PagedProviderSpec extends SparkSpecBase {
  import spark.implicits._

  private def feed(total: Long = 1000, page: Int = 100) =
    spark.read.format("graft.sources.PagedProvider")
      .option("totalRows", total.toString)
      .option("pageSize", page.toString)
      .load()

  test("full scan yields totalRows with closed-form values") {
    val df = feed(1000, 100)
    assert(df.count() == 1000)
    val r = df.where(col("invoice_line_no") === "INV42").collect()(0)
    assert(r.getAs[String]("store") == s"store_${42 % 37}")
    assert(r.getAs[Double]("sale_dollars") == ((42 * 7 + 13) % 10000) / 100.0)
    assert(r.getAs[java.sql.Timestamp]("date").toInstant.toString
      .startsWith("2020-01-05")) // row 42 -> day 4
  }

  test("pagination plans one partition per page") {
    val df = feed(1000, 100)
    assert(df.rdd.getNumPartitions == 10)
  }

  test("date range filter prunes pages (server-side pushdown)") {
    // rows 0..999 span 100 days from 2020-01-01; restrict to days 50-59
    val df = feed(1000, 100)
      .where(col("date") >= lit("2020-02-20 00:00:00").cast("timestamp") &&
        col("date") <= lit("2020-02-29 23:59:59").cast("timestamp"))
    assert(df.count() == 100)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PagedScan(range=[500,600)"), s"plan was:\n$plan")
    assert(df.rdd.getNumPartitions == 1) // 1 page instead of 10
  }

  test("column pruning reaches the scan ($select pushdown)") {
    val df = feed(1000, 100).select("store")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("cols=store"), s"plan was:\n$plan")
    assert(df.distinct().count() == 37)
  }

  test("limit pushdown truncates the planned range") {
    val df = feed(100000, 1000).limit(5)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("range=[0,5)"), s"plan was:\n$plan")
    assert(df.count() == 5)
  }

  test("boundary semantics: inclusive BETWEEN day-range (P2 parity)") {
    // the reference's `BETWEEN d1T00:00:00 AND d2T23:59:59` window
    val df = feed(1000, 100)
      .where(col("date").between(
        lit("2020-01-01 00:00:00").cast("timestamp"),
        lit("2020-01-02 23:59:59").cast("timestamp")))
    assert(df.count() == 20) // 2 days x 10 rows/day
  }

  test("runtime date filter narrows the planned page range (DPP at page grain)") {
    val b = new PagedScanBuilder(PagedFeed(100000, 1000))
    val scan = b.build().asInstanceOf[PagedScan]
    assert(scan.toBatch.planInputPartitions().length == 100)
    // join build side delivered two dates: 2020-01-03 and 2020-01-05
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("date", Array(
        java.sql.Timestamp.valueOf("2020-01-03 00:00:00"),
        java.sql.Timestamp.valueOf("2020-01-05 00:00:00")))))
    val parts = scan.toBatch.planInputPartitions()
    // rows 20..50 (days 2..4, 10 rows/day) -> a single page remains
    assert(parts.length == 1)
    val p = parts.head.asInstanceOf[PagedPartition]
    assert(p.start == 20 && p.end == 50, s"got [${p.start},${p.end})")
  }

  test("joins over a scan pruned of date plan without a runtime date filter") {
    val lines = feed(1000, 100).select("invoice_line_no")
    val keys = Seq("INV1", "INV42", "INV999", "nope").toDF("invoice_line_no")
    assert(lines.join(keys, Seq("invoice_line_no"), "left_anti").count() == 997)
    assert(lines.join(keys, Seq("invoice_line_no")).count() == 3)
  }

  test("COUNT(*) pushes to the source: closed-form, no row generation") {
    val df = feed(1000000, 1000).agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PagedAggScan(count=1000000)"), s"plan was:\n$plan")
    assert(df.collect()(0).getLong(0) == 1000000L)
  }

  test("COUNT(*) with a residual filter is NOT pushed (stays correct)") {
    val df = feed(1000, 100).where(col("store") === "store_3")
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("PagedAggScan"), s"plan was:\n$plan")
    assert(df.collect()(0).getLong(0) == 1000L / 37 + (if (3 < 1000 % 37) 1 else 0))
  }

  test("MIN/MAX(date) push to the source: closed-form range endpoints") {
    val df = feed(1000000, 1000)
      .agg(min(col("date")).as("lo"), max(col("date")).as("hi"),
        count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PagedAggScan"), s"plan was:\n$plan")
    // no PagedScan of actual pages anywhere: answered without rows
    assert(!plan.contains("PagedScan(range"), s"plan was:\n$plan")
    val r = df.collect()(0)
    assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    // 1M rows / 10 per day -> last row is day 99999 after epoch
    assert(r.getTimestamp(1) ==
      java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z")
        .plus(java.time.Duration.ofDays(99999))))
    assert(r.getLong(2) == 1000000L)
  }

  test("GROUP BY date pushes: one closed-form row per day, no row generation") {
    val df = feed(995, 100).groupBy(col("date")).agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PagedDailyAggScan(days=100"), s"plan was:\n$plan")
    val rows = df.orderBy("date").collect()
    assert(rows.length == 100)
    // full days carry 10 rows; the last (partial) day carries 5
    assert(rows.take(99).forall(_.getLong(1) == 10L))
    assert(rows.last.getLong(1) == 5L)
    assert(rows.head.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
  }

  test("GROUP BY a non-date column is NOT pushed (stays correct)") {
    val df = feed(1000, 100).groupBy(col("store")).agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("PagedDailyAggScan"), s"plan was:\n$plan")
    assert(df.count() == 37)
  }

  test("MIN/MAX over a non-date column is NOT pushed (stays correct)") {
    val df = feed(1000, 100).agg(max(col("sale_dollars")).as("m"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("PagedAggScan"), s"plan was:\n$plan")
    // max of ((i*7+13) % 10000)/100 over i<1000: no wrap, i=999 -> 70.06
    assert(df.collect()(0).getDouble(0) == 70.06)
  }
}
