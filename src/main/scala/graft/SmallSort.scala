package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Filter, LogicalPlan,
  Project, Repartition, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SortExec, SparkPlan, SparkStrategy,
  UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{V1WriteCommand, WriteFiles}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Plans the final sort of a query without a stage of its own.
  *
  * Spark plans every global sort as a range exchange. To pick the range
  * bounds it first runs a sampling job over the sort's whole input,
  * then computes that input again in the shuffle-map stage: a torch
  * kernel under the final `orderBy` runs its forward pass twice. For a
  * small result AQE then merges the ranges back into one task anyway.
  *
  * This rule finds the plan's root global sort, looking only through
  * projections, filters, the deserializer `.rdd` adds, a `coalesce(1)`
  * and a file write, and replaces it with a [[SortedCollect]]: each
  * partition of the sort's input is sorted in place, in the input's own
  * stage. `collect()` merges those sorted runs on the driver (one job,
  * no exchange, whatever the input's size: the driver receives every
  * row either way). Any other use of the result (a write,
  * `toLocalIterator`, `.rdd`) sorts the input in place when it comes
  * out of one task. Otherwise it shuffles the input to one partition
  * when its estimated size (`child.stats.sizeInBytes`) is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  * would merge it to, and range-partitions it into as many ranges as it
  * has partitions when it is larger. That shuffle is chosen while the
  * query runs, so it is not in the physical plan and AQE does not see
  * it. Sorts under a limit, offset or tail (the top-k
  * `TakeOrderedAndProject`), sorts inside a plan and streaming plans
  * are left to Spark.
  */
object SmallSort extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = if (plan.isStreaming) plan else root(plan)

  private def root(p: LogicalPlan): LogicalPlan = p match {
    case Sort(order, true, child, _) => SortedCollect(order, child)
    case _: Project | _: Filter | _: DeserializeToObject | Repartition(1, false, _) | _: WriteFiles |
         _: V1WriteCommand =>
      p.withNewChildren(Seq(root(p.children.head)))
    case _ => p
  }

  /** Adds the rule, [[PushBelowStride]] and [[GraftStrategy]] to the
    * session once. */
  def register(spark: SparkSession): Unit = {
    val extra = spark.experimental
    for (rule <- Seq(SmallSort, PushBelowStride) if !extra.extraOptimizations.contains(rule))
      extra.extraOptimizations :+= rule
    if (!extra.extraStrategies.contains(GraftStrategy)) extra.extraStrategies :+= GraftStrategy
  }
}

/** A global sort whose partitions are merged where the result is used
  * ([[SmallSort]]). */
case class SortedCollect(order: Seq[SortOrder], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override def outputOrdering: Seq[SortOrder] = order
  override protected def withNewChildInternal(c: LogicalPlan): SortedCollect = copy(child = c)
}

/** `child` is the sort's unsorted input. `small`: its estimate is at
  * most the advisory partition size.
  *
  * `collect()` sorts each partition in place and merges the runs on the
  * driver. `execute()` (a write, `toLocalIterator`, `.rdd`) decides on
  * the child's real partition count: one partition is sorted in place;
  * more are shuffled to one partition (`small`) or range-partitioned
  * into as many ranges as the child has partitions, then sorted. That
  * exchange is built while the query runs, so it is not in the physical
  * plan: `explain` does not show it and AQE does not coalesce it. */
case class SortedCollectExec(order: Seq[SortOrder], small: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = order

  /** Collects the sorted runs in partition order; TimSort merges
    * presorted runs in O(n log runs) comparisons, and it is stable, so
    * ties keep partition order. */
  override def executeCollect(): Array[InternalRow] = {
    val rows = SortExec(order, global = false, child).executeCollect()
    java.util.Arrays.sort(rows, new LazilyGeneratedOrdering(order, output))
    rows
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val input = RddExec(output, child.execute())
    val k = input.rdd.getNumPartitions
    val one = if (k <= 1) input
      else ShuffleExchangeExec(if (small) SinglePartition else RangePartitioning(order, k), input)
    SortExec(order, global = false, one).execute()
  }

  override protected def withNewChildInternal(c: SparkPlan): SortedCollectExec =
    copy(child = c)
}

/** An RDD that is already built, as a plan leaf. */
private case class RddExec(output: Seq[Attribute], rdd: RDD[InternalRow]) extends LeafExecNode {
  protected override def doExecute(): RDD[InternalRow] = rdd
}

/** Plans graft's logical nodes: [[Stride]] and [[SortedCollect]]. */
object GraftStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Stride(n, child) => StrideExec(n, planLater(child)) :: Nil
    case SortedCollect(order, child) =>
      val small = child.stats.sizeInBytes <=
        SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      SortedCollectExec(order, small, planLater(child)) :: Nil
    case _ => Nil
  }
}
