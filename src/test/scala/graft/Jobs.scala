package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageKinds}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, seen by a listener. */
object Jobs {

  /** The jobs `f` started, in start order. Two marker jobs bracket it;
    * the listener bus delivers events in order, so once the closing
    * marker is seen every job `f` started has been seen too. */
  def during(spark: SparkSession)(f: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { seen.add(j); () }
    }
    def description(j: SparkListenerJobStart): String =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-open")
      f
      marker("jobs-close")
      val events = Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .takeWhile(e => e != null && description(e) != "jobs-close").toVector
      assert(events.exists(description(_) == "jobs-open"), "the opening marker was not seen")
      events.dropWhile(description(_) != "jobs-open").drop(1)
    } finally sc.removeSparkListener(listener)
  }

  /** `j` samples range bounds for a range exchange: Spark's
    * `RangePartitioner` collects a sample of the exchange's input before
    * its map stage, so the job's result stage (the one that writes no
    * shuffle) ends in an RDD the exchange itself made. */
  def samplesRangeBounds(j: SparkListenerJobStart): Boolean =
    j.stageInfos.filterNot(StageKinds.writesShuffle)
      .exists(_.rddInfos.headOption.exists(_.scope.exists(_.name == "Exchange")))
}
