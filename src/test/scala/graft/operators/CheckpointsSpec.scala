package graft.operators

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[Checkpoints.cp]]'s laziness, counted with a job listener: over an
 * exchange-free frame it starts no job until the checkpoint is read;
 * over a frame that holds an exchange, AQE runs the upstream shuffle
 * stages while `cp` is called.
 */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The jobs started while `f` runs. Two marker jobs bracket it; the
    * listener bus delivers events in order, so once the closing marker
    * is seen every job `f` started has been seen too. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("cp-open")
      f
      marker("cp-close")
      val events = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(e => e != null && e != "cp-close").toVector
      assert(events.contains("cp-open"), "the opening marker was not seen")
      events.dropWhile(_ != "cp-open").size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("cp over an exchange-free frame starts no job") {
    val df = spark.read.parquet("graftbench/data/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") % 2 === 0)
    var cp: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { cp = Checkpoints.cp(df) } == 0)
    assert(cp.count() == df.count())
  }

  test("cp over a frame that holds an exchange runs its shuffle stages at call time (AQE)") {
    assume(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    var cp: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { cp = Checkpoints.cp(df) } > 0)
    assert(cp.orderBy("k").collect().map(_.getLong(1)).sum == 1000L)
  }
}
