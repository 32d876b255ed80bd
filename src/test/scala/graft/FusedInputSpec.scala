package graft

import org.apache.spark.scheduler.StageKinds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, greatest, lit, size, slice, struct, zip_with}
import org.scalatest.funsuite.AnyFunSuite

/** The shallow-fusion input's bigram count ([[SparkEntry.fusedInput]],
  * behind q257, q264, q268, q271 and q276): one job with no exchange,
  * and the same counts as a grouped count over the token pairs. */
class FusedInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("fusedInput counts the bigram prior in one job, no exchange, equal to a grouped count") {
    val vocab = SparkEntry.genModel.seqHead.get.vocab
    val dir = "graftbench/data/sf0.01"
    SparkEntry.fusedInput(spark, dir, vocab) // the first read of a table infers its schema
    var got: (DataFrame, Array[Array[Long]]) = null
    val jobs = Jobs.during(spark) { got = SparkEntry.fusedInput(spark, dir, vocab) }
    assert(jobs.size == 1, s"${jobs.size} jobs")
    assert(!jobs.head.stageInfos.exists(StageKinds.writesShuffle), "the count shuffled")
    val (toks, counts) = got
    val grouped = Array.fill(vocab)(new Array[Long](vocab))
    val ids = col("tok_ids")
    toks.select(explode(zip_with(slice(ids, lit(1), greatest(size(ids) - 1, lit(0))),
        slice(ids, lit(2), greatest(size(ids) - 1, lit(0))),
        (a, b) => struct(a.as("p"), b.as("c")))).as("pc"))
      .groupBy(col("pc.p"), col("pc.c")).count().collect()
      .foreach(r => grouped(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getLong(2))
    assert(counts.map(_.toSeq).toSeq == grouped.map(_.toSeq).toSeq)
    assert(counts.forall(_.length == vocab) && counts.map(_.sum).sum > 0)
  }
}
