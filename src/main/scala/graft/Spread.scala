package graft

import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join,
  LeafNode, LocalRelation, LogicalPlan, Project, RepartitionOperation, Sort, Window}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Scale-adaptive input spread for single-`mapPartitions` kernels
  * (decode loops, batched inference, codecs — [[Kernel]] applies it).
  *
  * Those kernels' parallelism is EXACTLY their input's partition
  * count: a small single-file parquet scan plans as ONE task, so the
  * whole kernel serializes on one core while the rest of the cluster
  * idles (opt guide §2.5 "input skew: one huge unsplittable file …
  * repartition immediately after the read"). An exchange-free input
  * with fewer partitions than the session's default parallelism is
  * spread up to it; any other frame passes through untouched.
  *
  * How it spreads: a deterministic input whose leaves hold at most
  * `spark.sql.files.maxPartitionBytes` per partition is strided
  * ([[Stride]]) right above its scan: every task reads one scan
  * partition whole and keeps its share of the rows, so the scan, the
  * projections and filters over it and the kernel run in one stage,
  * with no shuffle. The bound is the most a single scan task reads, so
  * a strided task reads no more than any scan task would. Filters a
  * data source can take move below the stride ([[PushBelowStride]]).
  * Any other input passes through: a nondeterministic one, whose rows
  * each task could see differently, or one past the bound.
  *
  * Scale behaviour: at real scale the scan already carries >= the
  * cluster's parallelism in partitions, so the guard makes this a
  * structural no-op — nothing here is tuned to the local fixture; the
  * local default (defaultParallelism) IS the cluster value.
  *
  * Determinism: a strided row goes to the task given by its position
  * in its input partition, which a deterministic plan over the same
  * files reproduces, so retries and reruns see identical batches. Every
  * kernel fed through this helper is per-row (one KV session / one
  * decode per row), so row order never reaches results.
  */
object Spread {
  def apply(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch partitioning is the source's
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    // provably-tiny inputs (a known row count under a few rows per
    // core, e.g. a top-k candidate slice feeding a reranker) are not
    // worth spreading: the kernel finishes faster than the extra tasks
    // schedule (measured +0.5 s on the 20-candidate rerank queries)
    val tiny = plan.stats.rowCount.exists(_ < 4L * target)
    if (tiny) return df
    // Round-20 (ADVICE r19): exchange-bearing inputs skip the spread
    // WITHOUT consulting toRdd. Two reasons, both load-bearing:
    //  1. under AQE, building toRdd EAGERLY MATERIALIZES every
    //     upstream shuffle query stage — real jobs at plan time whose
    //     work is then discarded when the kernel's own Dataset
    //     re-plans and re-runs the same shuffles (silent
    //     double-execution for any join/aggregate-fed kernel);
    //  2. a post-shuffle frame already runs at the session's shuffle
    //     width — the one-task single-file-scan pathology this helper
    //     exists for cannot occur, so there is nothing to fix.
    if (!exchangeFree(plan)) return df
    // anything the leaf estimate cannot size: fall back to planning
    // (safe — exchange-free)
    val parts = leafPartitions(plan, spark)
      .getOrElse(df.queryExecution.toRdd.getNumPartitions.toLong)
    // a stride adds no stage, so one idle core pays for it (two cores,
    // the one-partition scans of q100 and of the IVF-PQ search: +5% to
    // +17% queries/s striding over not spreading)
    if (parts == 0 || parts >= target || !plan.deterministic ||
        readBytes(plan) / parts > spark.sessionState.conf.filesMaxPartitionBytes) df
    else {
      SmallSort.register(spark)
      GraftColumns.frame(spark, strided(df.queryExecution.analyzed, target))
    }
  }

  /** `plan` with a [[Stride]] under its top run of projections and
    * filters: they then run once per row, in the task that keeps it, and
    * every task re-reads only what is below them (the scan). Column
    * pruning passes the stride; [[PushBelowStride]] moves the filters a
    * data source can take back below it. */
  private def strided(plan: LogicalPlan, n: Int): LogicalPlan = plan match {
    case _: Project | _: Filter => plan.withNewChildren(Seq(strided(plan.children.head, n)))
    case _ => Stride(n, plan)
  }

  /** The bytes the leaves of `plan` read, by their size estimates. */
  private def readBytes(plan: LogicalPlan): BigInt =
    plan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** No operator in `plan` needs a shuffle (joins, aggregates, windows,
    * sorts, repartitions and global limits all may). */
  private def exchangeFree(plan: LogicalPlan): Boolean = !plan.exists {
    case _: Join | _: Aggregate | _: Window | _: Sort | _: SortedCollect |
         _: RepartitionOperation | _: GlobalLimit => true
    case _ => false
  }

  /** The partition count of an exchange-free plan, estimated from its
    * LEAVES (and any [[Stride]]) without physical planning (round-20:
    * planning the subtree cost ~50 ms per kernel construction — ~20 s
    * across a bench — for a yes/no decision):
    *  - file scans: Spark's own split and packing math
    *    (FilePartition.maxSplitBytes / getFilePartitions) over the
    *    relation's cached file listing;
    *  - checkpointed RDDs: the RDD's real partition count;
    *  - local relations: one;
    *  - a [[Stride]]: its task count.
    * None when any other leaf is present. */
  def leafPartitions(plan: LogicalPlan, spark: SparkSession): Option[Long] = {
    val conf = spark.sessionState.conf
    val minParts = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(spark.sparkContext.defaultParallelism)).max(1)
    def parts(p: LogicalPlan): Option[Long] = p match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(filePartitions(fs, conf, minParts))
        case _ => None
      }
      case r: LogicalRDD => Some(r.rdd.getNumPartitions.toLong)
      case _: LocalRelation => Some(1L)
      case Stride(n, c) => parts(c).map(k => if (k == 0) 0L else math.max(n.toLong, k))
      case _: LeafNode => None
      case _ => p.children.foldLeft(Option(0L)) { (acc, c) => for (a <- acc; k <- parts(c)) yield a + k }
    }
    parts(plan)
  }

  private def filePartitions(fs: HadoopFsRelation, conf: SQLConf, minParts: Int): Long = {
    val openCost = conf.filesOpenCostInBytes
    val lens = fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getLen))
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, lens.map(_ + openCost).sum / minParts)).max(1L)
    // every file cut at maxSplit, the pieces packed largest first into
    // partitions of at most maxSplit bytes, each piece costing openCost
    val pieces = lens.flatMap(l => (0L until l by maxSplit).map(o => math.min(maxSplit, l - o)))
    var parts = 0L
    var filled = -1L
    for (p <- pieces.sorted(Ordering[Long].reverse)) {
      if (filled < 0 || filled + p > maxSplit) { parts += 1; filled = 0L }
      filled += p + openCost
    }
    parts
  }

  // LogicalPlan.exists by predicate (TreeNode.find) — local helper so
  // the match above reads as intent
  private implicit class PlanOps(val p: LogicalPlan) extends AnyVal {
    def exists(f: LogicalPlan => Boolean): Boolean = p.find(f).isDefined
  }
}
