package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` `Dataset.ofRows`: optimizer-rule code
  * (BinnedRangeJoinRule's bin-width derivation probe) needs to execute
  * a small statistics query expressed as a LogicalPlan it already
  * holds, and `Star.firstPerKey` wraps a frame's plan in its own
  * logical node; this is the supported way to lift one into a DataFrame.
  */
object PlanDataset {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Bridge to the `private[sql]` float-key normalization the optimizer
  * applies to window partition and join keys (−0.0 to 0.0, every NaN to
  * one NaN), for `FirstPerKey`'s planner strategy, which compares keys
  * by their bytes.
  */
object FloatKeys {
  def normalize(key: Expression): Expression = NormalizeFloatingNumbers.normalize(key)
}
