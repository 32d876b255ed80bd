package graft

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftColumns
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, PredicateHelper,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Spreads a few-partition input over `n` tasks without a shuffle
  * ([[Spread]] plans it). Task `j` reads one parent partition whole and
  * keeps every `m`-th of its rows, where `m` is the number of tasks that
  * share that partition: with one parent partition, task `j` of `n`
  * keeps the rows `k` with `k mod n = j`. Each task thus re-reads its
  * parent partition; the operators below the stride run once per
  * reading task, the ones above it once per row. The child must be
  * deterministic, or the tasks would see different rows. */
case class Stride(n: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): Stride = copy(child = c)
}

/** Its task count is the RDD's, max(`n`, the child's partitions), which
  * is known only once the child is built: the partitioning reports none. */
case class StrideExec(n: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)
  override protected def doExecute(): RDD[InternalRow] =
    new StrideRDD(child.execute(), n)
  override protected def withNewChildInternal(c: SparkPlan): StrideExec = copy(child = c)
}

/** Moves the conjuncts of a filter over a [[Stride]] that a data source
  * can take (deterministic, no subquery, translatable to a source
  * `Filter`) below it, next to the scan, where Spark pushes them into
  * the file read and prunes partitions by them. Spark's own predicate
  * pushdown passes only a fixed list of operators. Every strided task
  * then evaluates them over the whole scan, which costs little next to
  * decoding it; the other conjuncts (UDFs, regexes) stay above and run
  * once per row. */
object PushBelowStride extends Rule[LogicalPlan] with PredicateHelper {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, s @ Stride(_, child)) =>
      val (down, up) = splitConjunctivePredicates(cond).partition(pushable)
      if (down.isEmpty) f
      else {
        val below = s.copy(child = Filter(down.reduce(And), child))
        up.reduceOption(And).fold[LogicalPlan](below)(Filter(_, below))
      }
  }

  private def pushable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) && GraftColumns.sourceFilter(e)
}

/** Partition `index` keeps the rows `k` of `parent` with
  * `k mod stride = offset`. It holds the parent `Partition` object
  * itself: some parent RDDs (file scans) do not ship their partition
  * list to executors. */
private class StridePartition(val index: Int, val parent: Partition, val offset: Int,
    val stride: Int) extends Partition

/** Max(`n`, k) partitions over a k-partition `prev`: partition `j`
  * reads parent `j mod k`. One-to-one when `n <= k`. */
class StrideRDD[T: ClassTag](@transient private var prev: RDD[T], n: Int)
    extends RDD[T](prev.context, Seq(new NarrowDependency[T](prev) {
      def getParents(j: Int): Seq[Int] = Seq(j % rdd.getNumPartitions)
    })) {

  override protected def getPartitions: Array[Partition] = {
    val parents = prev.partitions
    val k = parents.length
    if (k == 0) return Array.empty
    val total = math.max(n, k)
    Array.tabulate[Partition](total) { j =>
      val p = j % k
      new StridePartition(j, parents(p), j / k, (total - p + k - 1) / k)
    }
  }

  override def compute(split: Partition, context: TaskContext): Iterator[T] = {
    val s = split.asInstanceOf[StridePartition]
    val it = firstParent[T].iterator(s.parent, context)
    if (s.stride == 1) it else new Iterator[T] {
      // rows read so far; the parent is advanced only in hasNext, after
      // the caller is done with the row next() handed out (scans reuse
      // one mutable row object)
      private var read = 0L
      def hasNext: Boolean = {
        while (read % s.stride != s.offset && it.hasNext) { it.next(); read += 1 }
        it.hasNext
      }
      def next(): T = {
        if (!hasNext) throw new NoSuchElementException
        read += 1
        it.next()
      }
    }
  }

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    firstParent[T].preferredLocations(split.asInstanceOf[StridePartition].parent)

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    prev = null
  }
}
