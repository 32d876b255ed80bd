package graft.operators

import graft.{SparkTestSession, Tok}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[Checkpoints.cp]]'s laziness, counted with a job listener: over an
 * exchange-free frame (a torch model's token input included: it is
 * strided, not shuffled) it starts no job until the checkpoint is read;
 * over a frame that holds an exchange, AQE runs the upstream shuffle
 * stages while `cp` is called.
 */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def jobsDuring(f: => Unit): Int = graft.Jobs.during(spark)(f).size

  test("cp over an exchange-free frame starts no job") {
    val df = spark.read.parquet("graftbench/data/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") % 2 === 0)
    var cp: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { cp = Checkpoints.cp(df) } == 0)
    assert(cp.count() == df.count())
  }

  test("cp over a torch model's token input starts no job") {
    val docs = spark.read.parquet("graftbench/data/sf0.01/documents.parquet")
    var cp: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { cp = Checkpoints.cp(Tok.input(docs, 64, 12)) } == 0)
    assert(cp.count() == Tok.input(docs, 64, 12).count())
  }

  test("cp over a frame that holds an exchange runs its shuffle stages at call time (AQE)") {
    assume(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    var cp: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { cp = Checkpoints.cp(df) } > 0)
    assert(cp.orderBy("k").collect().map(_.getLong(1)).sum == 1000L)
  }
}
