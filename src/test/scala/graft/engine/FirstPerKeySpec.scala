package graft.engine

import graft.SparkSpecBase
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{InputAdapter, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `Star.firstPerKey`: one row per key tuple, the rows the rank-1 window
  * it replaced keeps, in a plan with no `Window`.
  */
class FirstPerKeySpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // the rank-1 row_number window firstPerKey replaced: the oracle
  private def windowFirst(df: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    df.withColumn("__rn", row_number().over(Window.partitionBy(k: _*).orderBy(k: _*)))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val before = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  // a two-column key with a null tuple (twice) and a half-null tuple;
  // repeats carry different non-key values, so the kept row is visible
  private val small = Seq[(Option[Int], Option[String], String)](
    (Some(1), Some("p"), "v1"), (Some(1), Some("p"), "v2"), (Some(1), Some("q"), "v3"),
    (None, None, "n1"), (None, None, "n2"), (None, Some("p"), "h1"),
    (Some(2), Some("p"), "v4"), (Some(1), Some("p"), "v5"), (Some(9), Some("z"), "v6"))
    .toDF("a", "b", "v")

  // float keys the window grouped as one: 0.0 and -0.0, and two NaNs
  private val floats = Seq((0.0, "z"), (-0.0, "m"), (Double.NaN, "n1"), (1.0, "o"),
    (Double.NaN, "n2"), (-0.0, "m2")).toDF("k", "v")

  private val tmp = Files.createTempDirectory("graft-fpk")

  override def afterAll(): Unit =
    try FsUtil.deleteRecursively(tmp) finally super.afterAll()

  // many duplicate keys across several files, with null keys, each
  // repeat a distinct row
  private lazy val scanned: DataFrame = {
    val dir = tmp.toString + "/batch"
    spark.range(0, 3000, 1, 5)
      .select(
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id") % 97).cast("int").as("a"),
        (col("id") % 3).cast("string").as("b"),
        col("id").as("v"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("one row per key tuple, null tuples included; every survivor is a batch row") {
    val keys = Seq("a", "b")
    val got = Star.firstPerKey(small, keys)
    val keySet = got.select(keys.map(col): _*).collect().toSeq
    assert(keySet.size == keySet.distinct.size)
    assert(keySet.toSet == small.select(keys.map(col): _*).collect().toSet)
    assert(keySet.contains(Row(null, null)) && keySet.contains(Row(null, "p")))
    assert(keySet.size == 6)
    assert(got.except(small).isEmpty)

    val one = Star.firstPerKey(scanned, Seq("a"))
    assert(one.count() == 98) // 97 residues and the null key
    assert(one.except(scanned).isEmpty)
    assert(Star.firstPerKey(floats, Seq("k")).count() == 3)
  }

  test("kept rows equal the rank-1 window's, at 1 and 7 shuffle partitions") {
    for (n <- Seq("1", "7")) withConf("spark.sql.shuffle.partitions" -> n) {
      for ((df, keys) <- Seq(small -> Seq("a", "b"), scanned -> Seq("a"),
          scanned -> Seq("a", "b"), floats -> Seq("k")))
        assert(sorted(Star.firstPerKey(df, keys)) == sorted(windowFirst(df, keys)),
          s"keys $keys at $n shuffle partitions")
    }
  }

  test("the plan has FirstPerKey and no Window") {
    val plan = Star.firstPerKey(scanned, Seq("a")).queryExecution.executedPlan.toString
    assert(plan.contains("FirstPerKey"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("a sort-merge anti join above it adds no Exchange or Sort on the batch side") {
    val existing = Seq((1, "1", 0L), (2, "2", 0L)).toDF("a", "b", "v")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = Star.conflictIgnoreAppend(scanned, existing, Seq("a"))
      assert(df.count() == 96) // keys 1 and 2 are loaded already
      df.collect()
      val plan = df.queryExecution.executedPlan
      val joins = collect(plan) { case j: SortMergeJoinExec => j }
      assert(joins.size == 1, plan.toString)
      // the join reads the dedup's output as it is: the batch side's
      // one sort is the dedup's own
      val batch = joins.head.left match {
        case InputAdapter(child) => child // the join's codegen stage boundary
        case other => other
      }
      assert(batch.isInstanceOf[FirstPerKeyExec], plan.toString)
      assert(collect(batch) { case s: SortExec => s }.size == 1, plan.toString)
    }
  }
}
