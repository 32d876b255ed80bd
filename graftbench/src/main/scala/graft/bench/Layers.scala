package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.torch.TorchScriptModel

/** Per-layer metrics of a traced run. Counts and times are means per
  * timed execution, so they do not depend on how many passes fit. */
object Layers {
  /** Token-input encoder models of the inference queries q107, q113,
    * q122, q124, q127/q145 and q134. */
  private def encoderModels: Seq[TorchScriptModel] = Seq(
    SparkEntry.embedClassModel, SparkEntry.textCnnModel, SparkEntry.attnModel,
    SparkEntry.lstmModel, SparkEntry.encModel, SparkEntry.gruLmModel)

  /** Milliseconds per 1000 rows through every encoder once: direct
    * `forwardTokensBatch` calls on fixed 256-row, 16-token batches. */
  def torchMsPerKrow(seed: Long): Double = encoderModels.map { m =>
    val vocab = m.embedHead.map(_.vocab).orElse(m.seqHead.map(_.vocab)).get
    val rnd = new Random(seed)
    val batch = Array.fill(256)(Array.fill(16)(rnd.nextInt(vocab)))
    for (_ <- 0 until 3) m.forwardTokensBatch(batch)
    val ts = (0 until 9).map { _ =>
      val t0 = System.nanoTime(); m.forwardTokensBatch(batch); (System.nanoTime() - t0) / 1e6
    }
    Run.median(ts) * 1000.0 / batch.length
  }.sum

  def apply(spark: SparkSession, a: Main.Args, w: Workload, trace: Trace, execs: Seq[Exec], cores: Int,
      busyS: Double, gcMs: Long, indexBuildMs: Seq[Double], setups: Seq[Double]): Seq[(String, (Double, String))] = {
    val n = execs.size.toDouble
    val build = execs.map(e => trace.get(s"${e.span}/build"))
    val plan = execs.map(e => trace.get(s"${e.span}/plan"))
    val collect = execs.map(e => trace.get(s"${e.span}/collect"))
    val every = build ++ plan ++ collect
    def mean(xs: Seq[Double]): Double = xs.sum / n
    def phase(p: String): Double = mean(execs.map(_.phases.getOrElse(p, 0L).toDouble))
    val gapMs = execs.zip(collect).map { case (e, s) =>
      (e.collectT1 - e.collectT0 - s.jobCoveredMs(e.collectT0, e.collectT1)).toDouble }
    val mb = 1048576.0
    // Similarity: the persisted-index search of the timed passes, and the
    // median of its index builds at set-up. A workload without one builds
    // and searches the same index once here, on the pipeline fixture, so
    // the layer is measured (and should read flat) everywhere.
    val (annBuildMs, searchMs) =
      if (w.searches.nonEmpty) (Run.median(indexBuildMs), Run.median(execs.filter(e => w.searches.contains(e.op)).map(_.latencyS * 1000)))
      else {
        val t0 = System.nanoTime()
        val search = Ann.prepare(spark, s"${a.data}/${Workloads("pipeline").scale}", "q106_ann_ivfpq",
          Some(s"${a.work}/index/probe"))
        val buildMs = (System.nanoTime() - t0) / 1e6
        (buildMs, Run.median((0 until 3).map { _ =>
          val t1 = System.nanoTime(); search().collect(); (System.nanoTime() - t1) / 1e6 }))
      }
    // torch throughput: encoder input rows (one result row each) and
    // generated tokens per second of the executions that produce them
    def perSecond(of: Exec => Boolean, count: Exec => Long): Double = {
      val es = execs.filter(of)
      if (es.isEmpty) 0.0 else es.map(count).sum / es.map(_.latencyS).sum
    }
    Seq(
      "setup.first_s" -> (setups.head, "s"),
      "SparkEntry.build_ms" -> (mean(execs.map(_.buildMs)), "ms"),
      "SparkEntry.build_jobs" -> (mean(build.map(_.jobs.size.toDouble)), "count"),
      "catalyst.analysis_ms" -> (phase("analysis"), "ms"),
      "catalyst.optimization_ms" -> (phase("optimization"), "ms"),
      "catalyst.planning_ms" -> (phase("planning"), "ms"),
      "scheduler.jobs" -> (mean(every.map(_.jobs.size.toDouble)), "count"),
      "scheduler.stages" -> (mean(every.map(_.stages.toDouble)), "count"),
      "scheduler.tasks" -> (mean(every.map(_.tasks.toDouble)), "count"),
      "scheduler.single_task_stages" -> (mean(every.map(_.singleTaskStages.toDouble)), "count"),
      "scheduler.driver_gap_ms" -> (mean(gapMs), "ms"),
      "exec.parallel_eff" -> (every.map(_.taskMs).sum / (busyS * 1000.0 * cores), "ratio"),
      "exec.task_ms" -> (mean(every.map(_.taskMs.toDouble)), "ms"),
      "exec.shuffle_write_mb" -> (mean(every.map(_.shuffleWriteBytes / mb)), "MB"),
      "exec.spill_mb" -> (mean(every.map(_.spillBytes / mb)), "MB"),
      "exec.gc_ms" -> (gcMs / n, "ms"),
      "exec.written_mb" -> (mean(every.map(_.writtenBytes / mb)) + trace.blockBytes.get / mb / n, "MB"),
      "torch.forward_ms_per_krow" -> (torchMsPerKrow(a.seed), "ms"),
      "torch.encoder_rows_per_s" -> (perSecond(e => Workloads.encoders(e.op), _.rows), "1/s"),
      "torch.gen_tokens_per_s" -> (perSecond(e => Workloads.generators(e.op), _.tokens), "1/s"),
      "Similarity.build_ms" -> (annBuildMs, "ms"),
      "Similarity.search_ms" -> (searchMs, "ms"),
      "trace.queries_per_s" -> (Run.queriesPerS(execs), "1/s"))
  }

  /** Spans query -> build | plan | collect -> job -> stage, one JSON
    * object per line; times are epoch milliseconds. */
  def writeSpans(a: Main.Args, trace: Trace, execs: Seq[Exec]): Unit = {
    val lines = execs.flatMap { e =>
      val q = s"""{"span": "${e.span}", "parent": null, "op": "${e.op}", "pass": ${e.pass}, """ +
        s""""ms": ${e.latencyS * 1000}, "rows": ${e.rows}, "ok": ${e.ok}}"""
      q +: Seq("build" -> e.buildMs, "plan" -> e.planMs, "collect" -> e.collectMs).flatMap { case (p, ms) =>
        val s = trace.get(s"${e.span}/$p")
        val phase = s"""{"span": "${e.span}/$p", "parent": "${e.span}", "ms": $ms, "jobs": ${s.jobs.size}, """ +
          s""""stages": ${s.stages}, "tasks": ${s.tasks}, "task_ms": ${s.taskMs}, """ +
          s""""shuffle_write_bytes": ${s.shuffleWriteBytes}, "spill_bytes": ${s.spillBytes}, """ +
          s""""written_bytes": ${s.writtenBytes}}"""
        val jobs = s.jobs.flatMap { j =>
          s"""{"span": "job ${j.id}", "parent": "${e.span}/$p", "start": ${j.t0}, "end": ${j.t1}}""" +:
            s.stageList.filter(st => j.children.contains(st.id)).map { st =>
              s"""{"span": "stage ${st.id}", "parent": "job ${j.id}", "start": ${st.t0}, "end": ${st.t1}, """ +
                s""""tasks": ${st.tasks}, "task_ms": ${st.taskMs}}"""
            }
        }
        phase +: jobs
      }
    }
    Files.createDirectories(Paths.get(a.spans).getParent)
    Files.write(Paths.get(a.spans), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
