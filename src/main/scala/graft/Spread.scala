package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join,
  LocalRelation, LogicalPlan, RepartitionOperation, Sort, Window}
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
  * repartition immediately after the read"). When the input has at
  * least two partitions fewer than the session's default parallelism,
  * round-robin repartition up to it; otherwise pass the frame through
  * untouched.
  *
  * Scale behaviour: at real scale the scan already carries >= the
  * cluster's parallelism in partitions, so the guard makes this a
  * structural no-op — nothing here is tuned to the local fixture; the
  * local default (defaultParallelism) IS the cluster value.
  *
  * Determinism: round-robin repartition sorts each input partition
  * before assigning rows (spark.sql.execution.sortBeforeRepartition,
  * on by default since SPARK-23207), so the row->partition map is a
  * pure function of the input — retries and reruns see identical
  * batches. Every kernel fed through this helper is per-row (one KV
  * session / one decode per row), so row order never reaches results.
  */
object Spread {
  def apply(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch partitioning is the source's
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    // provably-tiny inputs (a known row count under a few rows per
    // core, e.g. a top-k candidate slice feeding a reranker) are not
    // worth a shuffle: the kernel finishes faster than the exchange
    // schedules (measured +0.5 s on the 20-candidate rerank queries)
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
    val parts = leafPartitions(plan, df.sparkSession)
      .getOrElse(df.queryExecution.toRdd.getNumPartitions.toLong)
    // spread only when at least two cores would idle: one idle core does
    // not pay for the extra stage (q100's one-partition scan on two
    // cores ran 0.12 s slower per execution spread than not)
    if (parts < target - 1) df.repartition(target) else df
  }

  /** No operator in `plan` needs a shuffle (joins, aggregates, windows,
    * sorts, repartitions and global limits all may). */
  def exchangeFree(plan: LogicalPlan): Boolean = !plan.exists {
    case _: Join | _: Aggregate | _: Window | _: Sort |
         _: RepartitionOperation | _: GlobalLimit => true
    case _ => false
  }

  /** The partition count of an exchange-free plan, estimated from its
    * LEAVES without physical planning (round-20: planning the subtree
    * cost ~50 ms per kernel construction — ~20 s across a bench — for a
    * yes/no decision):
    *  - file scans: Spark's own split and packing math
    *    (FilePartition.maxSplitBytes / getFilePartitions) over the
    *    relation's cached file listing;
    *  - checkpointed RDDs: the RDD's real partition count;
    *  - local relations: one.
    * None when any other leaf is present. */
  def leafPartitions(plan: LogicalPlan, spark: SparkSession): Option[Long] = {
    val conf = spark.sessionState.conf
    val minParts = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(spark.sparkContext.defaultParallelism)).max(1)
    plan.collectLeaves().foldLeft(Option(0L)) {
      case (Some(acc), l: LogicalRelation) => l.relation match {
        case fs: HadoopFsRelation => Some(acc + filePartitions(fs, conf, minParts))
        case _ => None
      }
      case (Some(acc), r: LogicalRDD) => Some(acc + r.rdd.getNumPartitions)
      case (Some(acc), _: LocalRelation) => Some(acc + 1L)
      case _ => None
    }
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
