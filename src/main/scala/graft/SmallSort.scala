package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit,
  LeafNode, LogicalPlan, Project, RebalancePartitions, Repartition, RepartitionOperation,
  Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{V1WriteCommand, WriteFiles}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small final sort in one partition.
  *
  * Spark plans every global sort as a range exchange. To pick the range
  * bounds it first runs a sampling job over the sort's whole input,
  * then computes that input again in the shuffle-map stage: a torch
  * kernel under the final `orderBy` runs its forward pass twice. For a
  * small result AQE then merges the ranges back into one task anyway.
  *
  * This rule finds the plan's root global sort, looking only through
  * projections, filters, a `coalesce(1)` and a file write. When the
  * sort's estimated input (`child.stats.sizeInBytes`) is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the size AQE
  * would merge it to — the input goes to one partition first: through
  * `Repartition(1, shuffle = true)`, which runs the input once on all
  * its partitions and shuffles it without sampling, or, when the input
  * already comes out of one task (an exchange-free plan over a
  * one-partition scan, a global aggregate or window), through a
  * `coalesce(1)` that adds no stage. The sort then runs in that one
  * partition. Larger inputs, sorts under a limit, offset or tail (the
  * top-k `TakeOrderedAndProject`), sorts inside a plan and streaming
  * plans are left to Spark.
  */
case class SmallSort(spark: SparkSession) extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = if (plan.isStreaming) plan else root(plan)

  private def root(p: LogicalPlan): LogicalPlan = p match {
    case s @ Sort(_, true, child, _) if !child.isInstanceOf[Repartition] &&
        child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) =>
      s.copy(child = Repartition(1, shuffle = !onePartition(child), child))
    case _: Project | _: Filter | Repartition(1, false, _) | _: WriteFiles | _: V1WriteCommand =>
      p.withNewChildren(Seq(root(p.children.head)))
    case _ => p
  }

  /** `p` already comes out of one task: an exchange-free plan over a
    * one-partition scan, or operators whose inputs all end in a global
    * aggregate, window or limit (one partition satisfies every
    * distribution the operators above them require, so Spark adds no
    * exchange there). */
  private def onePartition(p: LogicalPlan): Boolean =
    Spread.exchangeFree(p) && Spread.leafPartitions(p, spark).contains(1L) || single(p)

  private def single(p: LogicalPlan): Boolean = p match {
    case Aggregate(Nil, _, _, _) | Window(_, Nil, _, _, _) | _: GlobalLimit |
         Repartition(1, _, _) => true
    case _: RepartitionOperation | _: RebalancePartitions | _: LeafNode => false
    case _ => p.children.forall(single)
  }
}

object SmallSort {
  /** Adds the rule to the session's optimizer once. */
  def register(spark: SparkSession): Unit = {
    val extra = spark.experimental
    if (!extra.extraOptimizations.exists(_.isInstanceOf[SmallSort]))
      extra.extraOptimizations :+= SmallSort(spark)
  }
}
