package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout: co-locate rows that are close in
  * SEVERAL dimensions, so min/max file statistics prune multi-
  * dimensional predicates — a single-column sort prunes only its own
  * column's predicates and leaves every other dimension scattered
  * across all files.
  *
  * All expression-level (codegen'd HOFs, no UDF): bucket each
  * dimension to `bitsPer`-bit ranks, interleave the bits into one
  * Morton value, range-partition + sort by it, write. The classic
  * OPTIMIZE-ZORDER shape at the layout layer.
  */
object ZOrder {

  /** k-dimensional Morton code: bit `i` of dimension `d` lands at
    * position `i·k + (k-1-d)` (dimension 0 owns the most significant
    * position of each bit group). Requires `bitsPer · k ≤ 63`.
    */
  def interleaveN(cols: Seq[Column], bitsPer: Int): Column = {
    val k = cols.size
    require(k >= 2 && bitsPer >= 1 && bitsPer * k <= 63,
      s"need 2+ dims and bitsPer*dims <= 63, got $k x $bitsPer")
    aggregate(
      sequence(lit(0), lit(bitsPer - 1)),
      lit(0L),
      (acc, i) => cols.zipWithIndex.foldLeft(acc) { case (a2, (c, d)) =>
        a2.bitwiseOR(call_function("shiftleft",
          call_function("shiftright", c, i).bitwiseAND(lit(1L)),
          i * k + (k - 1 - d)))
      })
  }

  /** Map a numeric column to a [0, 2^bits) rank using min/max bounds
    * (two tiny driver-side scalars — the same stats a writer keeps
    * anyway). Linear bucketing; ties/clamps at the edges.
    */
  def bucketed(c: Column, minV: Double, maxV: Double, bits: Int): Column = {
    val buckets = 1L << bits
    val span = math.max(maxV - minV, Double.MinPositiveValue)
    least(lit(buckets - 1), greatest(lit(0L),
      floor((c.cast("double") - minV) / span * buckets).cast("long")))
  }

  /** Z-order `df` by the numeric `cols` into `numFiles` output ranges:
    * compute the Morton value (one stats pass for all min/max bounds),
    * range-partition on it (balanced files), sort within partitions
    * (tight per-file min/max on EVERY dimension), drop the helper
    * column.
    */
  def zorderByN(df: DataFrame, cols: Seq[String],
      numFiles: Int, bitsPer: Int = 16): DataFrame = {
    val stats = df.agg(
      cols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double")))).head,
      cols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double")))).tail: _*).head()
    // A dimension with no bounds (all-null column) cannot be ranked —
    // skip IT, not the whole layout: the remaining bounded dimensions
    // still get clustered. Only when no dimension has bounds (empty
    // input) does the layout no-op.
    val usable = cols.zipWithIndex.filter { case (_, i) =>
      !stats.isNullAt(2 * i) && !stats.isNullAt(2 * i + 1)
    }
    if (usable.isEmpty) return df
    val ranks = usable.map { case (c, i) =>
      bucketed(col(c), stats.getDouble(2 * i), stats.getDouble(2 * i + 1), bitsPer)
    }
    val zCol = if (ranks.size == 1) ranks.head else interleaveN(ranks, bitsPer)
    df.withColumn("__z", zCol)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
