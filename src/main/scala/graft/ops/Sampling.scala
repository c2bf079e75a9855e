package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines.
  * Everything here is reproducible from the data alone — no RNG state,
  * no `rand()` (which re-draws per task retry and breaks exactly-once
  * semantics at scale).
  */
object Sampling {

  /** Stratified exact-fraction sample: the first `ceil(fraction · n_s)`
    * rows of each stratum in `orderCol` order (systematic sampling —
    * deterministic, re-runnable, oracle-checkable). One window over
    * the stratum partition; no global pass.
    */
  def stratifiedExact(df: DataFrame, strataCol: Column, orderCol: Column,
      fraction: Double): DataFrame = {
    val w = Window.partitionBy(strataCol).orderBy(orderCol)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(strataCol)))
      .where(col("__rn") <= ceil(col("__cnt") * fraction))
      .drop("__rn", "__cnt")
  }

  /** Token-budget mixture sampling: per stratum, keep documents in
    * `orderCol` order while budget remains BEFORE each document — the
    * data-mixture primitive ("2B tokens of code, 500M of forum text").
    * The first document of a stratum is always kept; the sample may
    * overshoot by at most that one crossing document (the standard
    * take-until-budget contract). Deterministic, re-runnable, and
    * SQL-portable when `orderCol` is (pass `xxhash64(id)` for an
    * unbiased pseudorandom order instead — engine-specific).
    * One per-stratum window; no global pass.
    */
  def tokenBudgetSample(df: DataFrame, strataCol: Column, orderCol: Column,
      tokensCol: Column, budgetPerStratum: Long): DataFrame = {
    require(budgetPerStratum > 0)
    tokenBudgetSample(df, strataCol, orderCol, tokensCol, Map.empty, budgetPerStratum)
  }

  /** Per-stratum budget variant: each stratum value gets its own token
    * budget (strata absent from the map get `defaultBudget`; 0 drops
    * the stratum entirely).
    */
  def tokenBudgetSample(df: DataFrame, strataCol: Column, orderCol: Column,
      tokensCol: Column, budgets: Map[String, Long],
      defaultBudget: Long): DataFrame = {
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (k, v)) => when(strataCol === k, lit(v)).otherwise(acc)
    }
    val w = Window.partitionBy(strataCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__before", coalesce(sum(tokensCol).over(w), lit(0L)))
      .where(col("__before") < budgetCol)
      .drop("__before")
  }

  /** Train/val/test hash split: bucket = xxhash64(id) mod 100 routed by
    * cumulative `weights` percentages (e.g. Seq("train"->80, "val"->10,
    * "test"->10)). Pure map-side expression — each row's split is a
    * function of its id alone, so the assignment is stable under
    * re-partitioning, retries, and incremental re-runs (the property
    * `randomSplit` lacks).
    */
  def hashSplit(df: DataFrame, idCol: Column,
      weights: Seq[(String, Int)]): DataFrame = {
    require(weights.map(_._2).sum == 100, "weights must sum to 100")
    val bucket = pmod(xxhash64(idCol), lit(100))
    val cum = weights.scanLeft(0)(_ + _._2).tail
    val expr = weights.zip(cum).foldRight(lit(weights.last._1): Column) {
      case (((name, _), hi), acc) => when(bucket < hi, name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Per-group document cap (the C4/Dolma "max N pages per host"
    * curation step): keep at most `k` rows per `groupCol`, the k
    * smallest by (`priorityCol`, `idCol`). Built on the k-bounded
    * [[TopK]] aggregator, NOT a window — map-side partial aggregation
    * trims each group to k before the shuffle, so a million-page host
    * contributes ≤ k·partitions rows to the exchange and nothing is
    * globally sorted (the window formulation sorts every row of every
    * host). The kept-id list (≤ groups·k rows) semi-joins back for
    * the full rows. Deterministic and SQL-portable when priority is
    * (pass `xxhash64(id)` for an unbiased pick — engine-specific).
    * Priorities and ids must be exact in Double (|v| ≤ 2^53) — true
    * for row ids and hash-bucketed priorities alike.
    */
  def perGroupCap(df: DataFrame, groupCol: Column, idCol: Column,
      priorityCol: Column, k: Int): DataFrame = {
    require(k > 0)
    val kept = df
      .select(groupCol.as("__g"), idCol.cast("long").as("__id"),
        priorityCol.cast("double").as("__p"))
      // null/NaN priorities and null-casting ids cannot rank — exclude
      // them BEFORE the aggregator (whose Entry encoder is
      // non-nullable and would abort the job); such rows are never
      // kept, mirroring rankTopK's guard
      .where(col("__id").isNotNull && col("__p").isNotNull && !isnan(col("__p")))
      .groupBy(col("__g"))
      // TopK keeps the LARGEST by value — negate for smallest-first
      .agg(TopK.topK(k)(-col("__p"), col("__id")).as("top"))
      .select(explode(col("top.key")).as("__keep"))
    df.join(kept, idCol.cast("long") === col("__keep"), "left_semi")
  }

  /** Leakage-safe train/val/test split: documents whose NORMALIZED
    * text is identical (case/whitespace-folded — [[Dedup.normalizeText]])
    * are routed to the SAME split, so an exact near-copy of a training
    * document can never land in the eval set — the standard
    * train/test-contamination guard, done at split time instead of by
    * post-hoc decontamination.
    *
    * Mechanism: every duplicate group splits by its REPRESENTATIVE
    * (min doc id over the group), via the same stable xxhash64 bucket
    * routing as [[hashSplit]] — deterministic under retries and
    * repartitioning, one groupBy + one join-back, no windows.
    *
    * Output: the input rows plus (rep, split). Co-location is exact by
    * construction; split fractions hold at the GROUP level (a giant
    * duplicate group moves as one unit — that is the point).
    */
  def leakageSafeSplit(df: DataFrame, idCol: Column, textCol: Column,
      weights: Seq[(String, Int)]): DataFrame = {
    val keyed = df.withColumn("__norm", graft.ops.Dedup.normalizeText(textCol))
    val reps = keyed.groupBy(col("__norm"))
      .agg(min(idCol.cast("long")).as("rep"))
    hashSplit(keyed.join(reps, Seq("__norm")), col("rep"), weights)
      .drop("__norm")
  }

  /** Quality-phased curriculum ordering — the anneal recipe (train on
    * everything early, concentrate the best data at the end): each
    * document's phase is the count of ascending `phaseThresholds` its
    * quality clears (phase 0 = below all, phase n = top slice, seen
    * LAST), and the training-stream position orders by (phase asc,
    * per-phase deterministic shuffle) — the q111 bijective
    * odd-multiplier permutation, so within a phase the order is
    * pseudorandom yet exactly replayable.
    *
    * Scale shape: one map-side pass + the bucketed prefix sum for
    * global positions ([[ScalableWindows.prefixSumByBucket]]) — never
    * a single-partition global sort. `doc_id` must stay < 2³¹ (the
    * dense-id contract q111 pins; ANSI overflow rejects wider ids
    * loudly rather than silently wrapping the permutation).
    *
    * Output: (doc_id, quality, phase, shuffle_key, stream_pos) — one
    * row per input document, stream_pos a 0-based total order.
    */
  def curriculumOrder(docs: DataFrame, idCol: String, qualityCol: String,
      phaseThresholds: Seq[Double], mult: Long = 2654435761L,
      nBuckets: Int = 64): DataFrame = {
    require(phaseThresholds.nonEmpty &&
      phaseThresholds == phaseThresholds.sorted &&
      phaseThresholds.distinct == phaseThresholds,
      s"phaseThresholds must be ascending and distinct: $phaseThresholds")
    require(mult % 2 == 1, s"multiplier must be odd (bijectivity): $mult")
    // phase references the RENAMED quality column — computed after the
    // projection so any caller-side column name works
    val phase = phaseThresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col("quality") >= t, 1).otherwise(0)
    }
    val keyed = docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(qualityCol).cast("double").as("quality"))
      .withColumn("phase", phase)
      .withColumn("shuffle_key",
        pmod(col("doc_id") * lit(mult), lit(4294967296L)))
      // (phase, shuffle_key) packed into one orderable long: the
      // shuffle key is a bijection of doc_id, so the packed key is
      // unique per document (the prefix sum's total-order contract)
      .withColumn("__ord",
        col("phase").cast("long") * lit(8589934592L) + col("shuffle_key"))
      .withColumn("__one", lit(1L))
    ScalableWindows.prefixSumByBucket(
        keyed, "__ord", "__one", "stream_pos", nBuckets)
      .select("doc_id", "quality", "phase", "shuffle_key", "stream_pos")
  }
}
