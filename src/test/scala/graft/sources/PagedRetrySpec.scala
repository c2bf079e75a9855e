package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.engine.Pipeline

/** O3 — retry under induced task failure (reference evidence:
  * Airflow `retries=1`, `dags/iowa_liquor_dag.py:24-25`, proven by
  * `task_extract.log:3` try_number=2).
  *
  * Read through [[FirstAttemptFailingFetcher]], EVERY task's first
  * attempt throws mid-page (after emitting half its rows), so query
  * completion under the `local[4, 2]` session proves the scheduler
  * re-attempted every task; output equality with the clean read
  * proves the partial first attempt leaked nothing (no dupes, no gaps).
  */
class PagedRetrySpec extends SparkSpecBase {

  private def paged(inject: Boolean): DataFrame = {
    val r = spark.read.format("graft.sources.PagedProvider")
      .option("totalRows", "1000").option("pageSize", "100")
    (if (inject) r.option("fetcher", classOf[FirstAttemptFailingFetcher].getName) else r)
      .load()
  }

  test("task retry yields output identical to an un-failed run") {
    val failed = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.reason != org.apache.spark.Success) failed.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val clean = paged(inject = false).collect().map(_.toSeq).sortBy(_.toString)
      val retried = paged(inject = true).collect().map(_.toSeq).sortBy(_.toString)
      assert(retried.length == 1000)
      assert(retried.toSeq == clean.toSeq)
      // the injection really fired: the listener saw failed task attempts
      val deadline = System.currentTimeMillis() + 10000
      while (failed.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(failed.get() > 0, "expected at least one failed task attempt")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pipeline run over a failing source commits exactly-once stage output") {
    val tmpA = Files.createTempDirectory("graft_retry_a").toString
    val tmpB = Files.createTempDirectory("graft_retry_b").toString
    def runWith(src: DataFrame, tmp: String) =
      Pipeline.run(spark, src, identity,
        s"$tmp/raw", s"$tmp/clean", s"$tmp/table", Seq("invoice_line_no"))
    val statsClean = runWith(paged(inject = false), tmpA)
    val statsRetried = runWith(paged(inject = true), tmpB)
    assert(statsRetried == statsClean)
    // committed files hold the exact row set — FileOutputCommitter
    // discarded the partial first attempts (S9)
    val a = spark.read.parquet(s"$tmpA/table")
    val b = spark.read.parquet(s"$tmpB/table")
    assert(b.count() == 1000)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(b.agg(sum(col("sale_dollars")).cast("decimal(18,2)")).head().getDecimal(0) ==
      a.agg(sum(col("sale_dollars")).cast("decimal(18,2)")).head().getDecimal(0))
  }
}

/** The built-in feed, failing every task's first attempt mid-page:
  * half the page's rows are emitted before the throw, so a successful
  * query proves the scheduler retried the task and the committer
  * discarded the partial attempt. Models the transient HTTP failures
  * the reference absorbs with Airflow `retries=1`.
  */
class FirstAttemptFailingFetcher extends PageFetcher {
  private val feed = new GeneratorFetcher

  override def fetch(req: PageRequest): Iterator[PageRecord] = {
    val failAt =
      if (Option(TaskContext.get()).exists(_.attemptNumber() == 0)) req.limit / 2 else -1
    feed.fetch(req).zipWithIndex.map { case (r, k) =>
      if (k == failAt) throw new RuntimeException(
        s"injected transient failure at row ${req.offset + k} (first attempt)")
      r
    }
  }
}
