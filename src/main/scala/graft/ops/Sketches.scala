package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators — the cardinality/frequency shapes that
  * replace exact distinct/groupBy counts at 100 TB, where the exact
  * versions shuffle one row per distinct key and a sketch shuffles a
  * fixed few KB per partition regardless of data volume.
  *
  * HLL here is Spark's DataSketches-backed public SQL surface
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`,
  * Spark ≥ 3.5): sketches are BINARY columns, so they persist to
  * parquet and merge ACROSS GROUPS later — pre-aggregate daily, union
  * to any coarser grain without rescanning the raw data.
  */
object Sketches {

  /** Per-group HLL sketches of `valueCol` (binary, persistable).
    * lgConfigK 12 → 4 KB per sketch, ~1.6% standard error.
    */
  def hllSketches(df: DataFrame, groupCols: Seq[Column], valueCol: Column,
      lgConfigK: Int = 12): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(hll_sketch_agg(valueCol, lit(lgConfigK)).as("hll"))

  /** Merge pre-built sketches up to a coarser grain and estimate. */
  def hllRollup(sketches: DataFrame, groupCols: Seq[Column],
      estimateName: String): DataFrame =
    sketches.groupBy(groupCols: _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as(estimateName))

  /** Estimated frequencies for each key in `keys` (small, driver-side
    * list — the heavy-hitter candidates), as a DataFrame, from a
    * count-min sketch over `c`: a distributed build (treeAggregate
    * under `stat.countMinSketch`), fixed-size result on the driver.
    * Deterministic for a fixed seed.
    */
  def countMinEstimates(df: DataFrame, c: Column, keys: Seq[String],
      eps: Double = 1e-3, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val cms = df.stat.countMinSketch(c, eps, confidence, seed)
    val spark = df.sparkSession
    import spark.implicits._
    keys.map(k => (k, cms.estimateCount(k))).toDF("key", "est")
  }

  /** Bounded monitored-key derivation for heavy-hitter queries: the
    * distinct key domain, collected ONLY when it fits `cap` — a
    * heavy-hitter sketch query must never distinct-collect an
    * unbounded domain to the driver (at corpus scale the candidate
    * set should come from the sketch itself or a top-k aggregate).
    * `cap + 1` rows are fetched so the overflow is DETECTED, then the
    * contract fails loudly instead of silently monitoring a truncated
    * key set.
    */
  def monitoredKeys(df: DataFrame, c: Column, cap: Int = 1000): Seq[String] = {
    require(cap >= 1, s"monitoredKeys: cap=$cap")
    // filter on the projected alias, not the source expression: after
    // the select, `c`'s source columns are gone from the plan, and
    // resolving `c.isNotNull` there leans on Spark's missing-attribute
    // fallback — fine for a plain column ref, AnalysisException for a
    // derived expression like concat(a, b) (r10 ADVICE finding)
    val keys = df.select(c.cast("string").as("__k"))
      .where(col("__k").isNotNull)
      .distinct().orderBy("__k").limit(cap + 1)
      .collect().map(_.getString(0)).toSeq
    require(keys.length <= cap,
      s"monitoredKeys: key domain exceeds cap=$cap — derive heavy-hitter " +
        "candidates from a bounded top-k (or raise the cap deliberately) " +
        "instead of collecting an unbounded domain")
    keys
  }
}
