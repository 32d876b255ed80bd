package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * One checkpoint policy for every iterative/multi-consumer operator.
 *
 * Default: `localCheckpoint(eager = false)` (see [[cp]] for when that
 * is lazy) — blocks live on executors, are freed
 * by the ContextCleaner when the DataFrame is dropped, and cost no
 * distributed-FS round trip. Caveat (documented on [[Dedup]]): losing
 * an executor (dynamic allocation, spot kill) loses its blocks and
 * fails the job.
 *
 * For long dedup runs on preemptible pools, set
 * `spark.graft.checkpoint.dir` to a fault-tolerant path (HDFS/S3A):
 * every operator checkpoint then becomes a RELIABLE checkpoint backed
 * by that directory — identical results, executor-loss-proof lineage
 * truncation, at the cost of writing the intermediate to the FS.
 */
object Checkpoints {

  val DirKey = "spark.graft.checkpoint.dir"

  // getCheckpointDir returns the fully-qualified UUID SUBdirectory that
  // setCheckpointDir created, never the configured root — so the change
  // guard must compare against what WE last set, not what Spark reports.
  private val lastSet = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Checkpoint under the session's policy (see object doc). Lazy over
    * an exchange-free input, a strided one ([[graft.Spread]], e.g. a
    * torch model's `Tok.input`) included: no job runs until the
    * checkpoint is read.
    * Under AQE an input that holds an exchange is not lazy: building its
    * RDD materializes every upstream shuffle stage, so those map jobs run
    * when `cp` is called (the later read reuses their output; nothing
    * runs twice). Streaming frames pass through untouched: checkpoint() is illegal
    * on them, and the multi-consumer reuse it buys is a batch-plan
    * concern — each micro-batch is small by construction. This is
    * what lets batch operators (incremental dedup probes, chunkers)
    * run unchanged inside `writeStream` pipelines. */
  def cp(df: DataFrame): DataFrame = if (df.isStreaming) df else {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir mkdirs a fresh UUID subdir per call; only
        // (re)set when the configured root actually changed
        if (lastSet.put(sc.applicationId, dir) != dir || sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(dir)
        df.checkpoint(eager = false)
      case None => df.localCheckpoint(eager = false)
    }
  }
}
