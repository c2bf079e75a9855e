package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.FloatKeys

/** The first row of each run of equal `keys` in key-sort order: one row
  * per distinct key tuple, null tuples included, which is
  * `dropDuplicates(keys)`'s contract. Built by [[Star.firstPerKey]].
  */
case class FirstPerKey(keys: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): FirstPerKey =
    copy(child = newChild)
}

object FirstPerKey {
  /** Plans [[FirstPerKey]] as [[FirstPerKeyExec]]. Float keys are
    * normalized (−0.0 to 0.0, one NaN), as the optimizer normalizes
    * window partition and join keys.
    */
  final class Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case FirstPerKey(keys, child) =>
        FirstPerKeyExec(keys.map(FloatKeys.normalize), planLater(child)) :: Nil
      case _ => Nil
    }
  }

  val strategy = new Strategy

  /** Adds [[strategy]] to a running session's planner, once. */
  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(strategy))
      ex.extraStrategies = ex.extraStrategies :+ strategy
  }
}

/** Keeps the first row of each run of equal keys. The child is
  * hash-clustered and sorted on the keys (`EnsureRequirements` adds the
  * Exchange and the spillable `SortExec`), so every key is one run in
  * one partition. The run test compares the key projection's bytes, as
  * `WindowExec` compares partitions: a null key tuple is one run. One
  * copied key is held per task; nothing else is buffered.
  *
  * The sort is the rank-1 window's (its partition spec, then its order
  * spec: the keys twice), so the row kept per key is the window's. Two
  * sort keys keep Spark's sorter off its radix sort, which a lone
  * numeric key takes: that sort moves each null-key record on insert
  * and orders ties differently, so it keeps other rows. The comparison
  * sort keeps equal keys in arrival order (short of a spill), so the
  * row kept is the first of the first map output read: the row the
  * window's map-side and final `WindowGroupLimit`s keep between them.
  */
case class FirstPerKeyExec(keys: Seq[Expression], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((keys ++ keys).map(SortOrder(_, Ascending)))

  // the kept rows stay clustered and sorted: an operator above that
  // needs the same keys (a sort-merge join) adds no Exchange or Sort
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val (ks, input) = (keys, child.output)
    child.execute().mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(ks, input)
      var last: UnsafeRow = null
      rows.filter { row =>
        val k = keyOf(row)
        if (last != null && last == k) false
        else {
          if (last == null) last = k.copy() else last.copyFrom(k)
          numOutputRows += 1
          true
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): FirstPerKeyExec =
    copy(child = newChild)
}
