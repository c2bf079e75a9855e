package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKSpec extends SparkSpecBase {
  import spark.implicits._

  // 5 groups x 200 entries, engineered ties (value = i/7)
  private def data = (0 until 1000)
    .map(i => (s"g${i % 5}", (i / 7).toDouble, i.toLong))
    .toDF("g", "v", "id")

  test("aggregator top-k equals the window formulation") {
    val agg = data.groupBy("g")
      .agg(TopK.topK(3)(col("v"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.value").as("v"), col("col.key").as("id"),
        (col("pos") + 1).as("rnk"))
      .as[(String, Double, Long, Long)].collect().sorted.toSeq
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    val win = data.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("g"), col("v"), col("id"), col("rnk").cast("long"))
      .as[(String, Double, Long, Long)].collect().sorted.toSeq
    assert(agg == win)
  }

  test("k larger than the group returns the whole group, ordered") {
    val small = Seq(("a", 1.0, 1L), ("a", 2.0, 2L)).toDF("g", "v", "id")
    val got = small.groupBy("g").agg(TopK.topK(10)(col("v"), col("id")).as("top"))
      .select(explode(col("top"))).select("col.value", "col.key")
      .as[(Double, Long)].collect().toSeq
    assert(got == Seq((2.0, 2L), (1.0, 1L)))
  }

  // r16 optimization contract: the distinct variant must equal
  // dropDuplicates-then-topK whenever duplicate keys are exact
  // value-duplicates (the ANN candidate precondition) — it exists to
  // delete that dropDuplicates exchange from the search plans.
  test("topKDistinct equals dropDuplicates + topK on value-duplicate keys") {
    // every key appears 3x with the same value, across partitions
    val dup = (0 until 300)
      .map(i => (s"g${i % 3}", ((i % 50) / 7).toDouble, (i % 50).toLong))
      .toDF("g", "v", "id").repartition(8)
    def run(c: org.apache.spark.sql.Column) = dup.groupBy("g").agg(c.as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.value"), col("col.key"), col("pos"))
      .as[(String, Double, Long, Long)].collect().sorted.toSeq
    val viaDistinct = run(TopK.topKDistinct(5)(col("v"), col("id")))
    val viaDrop = dup.dropDuplicates("g", "id").groupBy("g")
      .agg(TopK.topK(5)(col("v"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.value"), col("col.key"), col("pos"))
      .as[(String, Double, Long, Long)].collect().sorted.toSeq
    assert(viaDistinct == viaDrop)
    // and duplicates never occupy two slots: keys unique per group
    val keys = viaDistinct.groupBy(t => (t._1, t._3)).values.map(_.size)
    assert(keys.forall(_ == 1))
  }

  test("topKDistinct without duplicates is plain topK") {
    val got = data.groupBy("g")
      .agg(TopK.topKDistinct(3)(col("v"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.value"), col("col.key"))
      .as[(String, Double, Long)].collect().sorted.toSeq
    val plain = data.groupBy("g")
      .agg(TopK.topK(3)(col("v"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.value"), col("col.key"))
      .as[(String, Double, Long)].collect().sorted.toSeq
    assert(got == plain)
  }

  // r17: the native primitive-buffer TopKAgg must equal the legacy
  // encoder-based udaf (kept as the oracle) on every regime — sorted
  // (k ≤ 64), loose (k > 64), distinct, ties, NaN/±0.0 edge values —
  // across real partial/merge boundaries (repartition(8)).
  private def runBoth(df: org.apache.spark.sql.DataFrame, k: Int,
      distinct: Boolean): (Seq[(String, Double, Long, Long)], Seq[(String, Double, Long, Long)]) = {
    def run(c: org.apache.spark.sql.Column) = df.groupBy("g").agg(c.as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.value"), col("col.key"), col("pos"))
      .as[(String, Double, Long, Long)].collect().sorted.toSeq
    val native = run(
      if (distinct) TopK.topKDistinct(k)(col("v"), col("id"))
      else TopK.topK(k)(col("v"), col("id")))
    val legacy = run(
      if (distinct) TopK.topKDistinctLegacy(k)(col("v"), col("id"))
      else TopK.topKLegacy(k)(col("v"), col("id")))
    (native, legacy)
  }

  test("native == legacy: sorted regime, ties") {
    val (n, l) = runBoth(data.repartition(8), 3, distinct = false)
    assert(n == l)
  }

  test("native == legacy: loose regime (k > 64)") {
    val (n, l) = runBoth(data.repartition(8), 150, distinct = false)
    assert(n == l)
    // k beyond every group size: full groups, ordered
    val (n2, l2) = runBoth(data.repartition(8), 500, distinct = false)
    assert(n2 == l2)
  }

  test("native == legacy: distinct, both regimes") {
    val dup = (0 until 900)
      .map(i => (s"g${i % 3}", ((i % 150) / 7).toDouble, (i % 150).toLong))
      .toDF("g", "v", "id").repartition(8)
    val (n, l) = runBoth(dup, 5, distinct = true)
    assert(n == l)
    val (n2, l2) = runBoth(dup, 100, distinct = true)
    assert(n2 == l2)
  }

  test("native == legacy: NaN and signed-zero values rank identically") {
    val edge = Seq(
      ("a", Double.NaN, 1L), ("a", 1.0, 2L), ("a", 0.0, 3L),
      ("a", -0.0, 4L), ("a", Double.PositiveInfinity, 5L),
      ("a", Double.NegativeInfinity, 6L), ("a", Double.NaN, 7L),
      ("b", Double.NaN, 1L), ("b", Double.NaN, 2L))
      .toDF("g", "v", "id").repartition(4)
    for (k <- Seq(3, 5, 100)) {
      val (n, l) = runBoth(edge, k, distinct = false)
      assert(bits(n) == bits(l), s"k=$k")
    }
  }

  // Scala tuple == on Double is IEEE (NaN != NaN): compare on
  // canonical bits, which also distinguishes -0.0 from 0.0
  private def bits(s: Seq[(String, Double, Long, Long)]) =
    s.map(t => (t._1, java.lang.Double.doubleToLongBits(t._2), t._3, t._4))
      .sorted

  test("native == legacy: distinct mode collapses NaN-valued duplicates, both regimes") {
    // every key carries one value (NaN for three of them) and repeats
    // four times across partitions: the distinct-mode caller contract
    val edge = Seq.fill(4)(Seq(
      ("a", Double.NaN, 1L), ("a", 1.0, 2L), ("a", Double.NaN, 3L),
      ("a", -0.0, 4L), ("b", Double.NaN, 1L), ("b", Double.NaN, 2L))).flatten
      .toDF("g", "v", "id").repartition(4)
    for (k <- Seq(3, 100)) {
      val (n, l) = runBoth(edge, k, distinct = true)
      assert(bits(n) == bits(l), s"k=$k")
      assert(n.map(t => (t._1, t._3)).distinct.size == n.size, s"k=$k: $n")
    }
  }

  test("partial aggregation appears in the plan (no window sort)") {
    val df = data.groupBy("g").agg(TopK.topK(3)(col("v"), col("id")).as("top"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate operator found:\n$plan")
    assert(!plan.contains("Window"), "top-k should not plan a window")
  }
}
