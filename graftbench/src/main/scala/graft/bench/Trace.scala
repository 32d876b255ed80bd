package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._

/** A Spark job or stage seen by the listener; a job's children are its stages. */
final class Interval(val id: Int, val t0: Long) {
  var t1 = 0L
  var tasks = 0
  var taskMs = 0L
  val children = mutable.ArrayBuffer[Int]()
}

/** Counters of one span (the build, plan or collect phase of one
  * operation), with the jobs and stages it started. */
final class SpanStats {
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
  val jobs = mutable.ArrayBuffer[Interval]()
  val stageList = mutable.ArrayBuffer[Interval]()

  /** Milliseconds of [t0, t1] covered by at least one job. */
  def jobCoveredMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    for ((a, b) <- jobs.map(j => (j.t0.max(t0), j.t1.min(t1))).sortBy(_._1) if b > a) {
      if (b > end) { covered += b - a.max(end); end = b }
    }
    covered
  }
}

/** Spark listener that files jobs, stages and tasks under the span that
  * started them. The span id travels as a local property of the driver
  * thread, which Spark copies into every job's and stage's properties.
  * Attached only in traced runs. */
final class Trace extends SparkListener {
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, (String, Interval)]()
  private val jobSpan = new ConcurrentHashMap[Int, Interval]()
  private val stageJob = new ConcurrentHashMap[Int, Interval]()
  /** Bytes of RDD blocks stored (checkpoints, caches): not span-tagged,
    * since block updates carry no job properties. */
  val blockBytes = new AtomicLong()

  private def stats(span: String): SpanStats = spans.computeIfAbsent(span, _ => new SpanStats)
  private def spanOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Trace.Key)))

  override def onJobStart(j: SparkListenerJobStart): Unit =
    spanOf(j.properties).foreach { s =>
      val u = new Interval(j.jobId, j.time)
      jobSpan.put(j.jobId, u)
      j.stageIds.foreach(stageJob.put(_, u))
      val st = stats(s); st.synchronized { st.jobs += u }
    }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(j.jobId)).foreach(_.t1 = j.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      val i = e.stageInfo
      val u = new Interval(i.stageId, i.submissionTime.getOrElse(0L))
      stageSpan.put(i.stageId, (s, u))
      val st = stats(s)
      st.synchronized {
        st.stages += 1
        st.stageList += u
        if (i.numTasks == 1) st.singleTaskStages += 1
        Option(stageJob.get(i.stageId)).foreach(j => j.synchronized { j.children += i.stageId })
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { case (_, u) =>
      u.t1 = e.stageInfo.completionTime.getOrElse(0L)
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(t.stageId)).foreach { case (s, u) =>
      val m = t.taskMetrics
      val st = stats(s)
      st.synchronized {
        st.tasks += 1
        u.tasks += 1
        if (m != null) {
          st.taskMs += m.executorRunTime
          u.taskMs += m.executorRunTime
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.writtenBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
    val i = b.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) blockBytes.addAndGet(i.memSize + i.diskSize)
  }

  def clear(): Unit = { spans.clear(); stageSpan.clear(); jobSpan.clear(); stageJob.clear(); blockBytes.set(0) }
  def get(span: String): SpanStats = Option(spans.get(span)).getOrElse(new SpanStats)
}

object Trace {
  val Key = "graft.bench.span"
}
