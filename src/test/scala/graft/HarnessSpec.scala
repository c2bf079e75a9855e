package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** The shared harness: query selection by exact name or short key, and
  * the measure loop's per-query counters and failure marking.
  */
class HarnessSpec extends SparkSpecBase {

  test("a selection token names one query: full name or exact short key") {
    // a prefix rule picked q15_topn_brand plus all ten of q150-q159
    assert(Harness.select(Seq("q15")).map(_._1) == Seq("q15_topn_brand"))
    assert(Harness.select(Seq("q16")).map(_._1).size == 1)
    assert(Harness.select(Seq("q15_topn_brand", "q64")).map(_._1) ==
      Seq("q15_topn_brand", "q64_pipeline_run"))
    assert(Harness.select(Seq("topn")).isEmpty, "no substring matches")
    assert(Harness.select(Nil).size == SparkEntry.queries.size)
  }

  test("measure counts each query's own jobs and marks a throwing one failed") {
    val fanOut = () => {
      // three jobs while the DataFrame is built, one call site
      (1 to 3).foreach(_ => spark.range(10).collect())
      spark.range(100).repartition(2).toDF()
    }
    // one partition: no sibling task of the failed job can finish late
    val boom = () => spark.range(0, 1, 1, 1).select(raise_error(lit("boom")))
    val tiny = () => spark.range(10).toDF()
    val alone = Harness.measure(spark, Seq("tiny" -> tiny)).head
    val Seq(f, b, t) = Harness.measure(spark,
      Seq("fanOut" -> fanOut, "boom" -> boom, "tiny" -> tiny))
    for (r <- Seq(f, t, alone)) {
      assert(!r.failed, r)
      assert(r.jobs >= 1 && r.tasks >= 1 && r.stages >= 1, r)
      assert(r.cpuSec >= 0.0 && r.gcSec >= 0.0, r)
    }
    assert(b.failed, b)
    assert(f.jobs >= 4, f)
    assert(f.sites.head._2 == 3 && f.sites.head._1.contains("HarnessSpec.scala"), f)
    // nothing from fanOut or boom leaks into the query after them
    assert((t.jobs, t.stages, t.tasks) == (alone.jobs, alone.stages, alone.tasks),
      s"$t vs $alone")
    assert(f.detailJson.startsWith("""{"sec":""") && !f.detailJson.contains("failed"))
    assert(b.detailJson.contains(""""failed":true,"""))
  }
}
