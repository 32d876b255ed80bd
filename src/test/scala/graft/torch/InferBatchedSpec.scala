package graft.torch

import graft.{SparkEntry, SparkTestSession, Tok}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, length, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[Torch.inferBatched]] (the kernel behind q107 and q113) gives the
 * same logits, bit for bit, at every batch size, and each equals the
 * model's forward pass over that row alone. Inputs are the sf0.01
 * documents as vendored in the checkout; every seventh document's
 * input is null, so null rows sit inside the batches.
 */
class InferBatchedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val docs = spark.read.parquet("graftbench/data/sf0.01/documents.parquet")
  private val batchSizes = Seq(1, 3, 7, 256)

  private def nullEvery7th(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, when(col("doc_id") % 7 =!= 3, col(c)))

  /** doc_id -> the logits' float bits (None for a null output). */
  private def logits(input: DataFrame, m: TorchScriptModel, bs: Int): Map[Long, Option[Seq[Int]]] = {
    val bc = spark.sparkContext.broadcast(m)
    Torch.inferBatched(input, "x", "logits", bc, batchSize = bs)
      .select(col("doc_id"), col("logits")).collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[Float](1)).map(_.map(java.lang.Float.floatToRawIntBits)))
      .toMap
  }

  /** Every batch size agrees with the per-row forward pass `single`. */
  private def check(input: DataFrame, m: TorchScriptModel,
      single: org.apache.spark.sql.Row => Option[Array[Float]]): Unit = {
    val expected = input.collect().map(r => r.getLong(0) ->
      single(r).map(_.toSeq.map(java.lang.Float.floatToRawIntBits))).toMap
    assert(expected.values.count(_.isEmpty) > 10, "no null rows in the input")
    assert(expected.values.count(_.nonEmpty) > 100, "too few live rows")
    for (bs <- batchSizes) assert(logits(input, m, bs) == expected, s"batch size $bs")
  }

  private def ints(r: org.apache.spark.sql.Row): Option[Array[Int]] =
    Option(r.getSeq[Long](1)).map(_.map(_.toInt).toArray)

  test("feature path (qualityModel): logits are identical at every batch size and per row") {
    val m = SparkEntry.qualityModel
    val input = nullEvery7th(docs.select(col("doc_id"), array(
      length(col("text")).cast("double") / 64.0, Tok.count(col("text")).cast("double") / 16.0,
      (col("doc_id") % 13).cast("double") / 4.0, lit(0.5), (col("doc_id") % 5).cast("double"))
      .as("x")), "x")
    check(input, m, r => Option(r.getSeq[java.lang.Double](1))
      .filterNot(_.contains(null))
      .map(xs => m.forwardBatch(xs.map(_.toFloat).toArray, 1)))
  }

  test("token path (embedClassModel, q107's input): logits are identical at every batch size and per row") {
    val m = SparkEntry.embedClassModel
    val input = nullEvery7th(Tok.input(docs, m.embedHead.get.vocab).withColumnRenamed("tok_ids", "x"), "x")
    check(input, m, r => ints(r).map(t => m.forwardTokensBatch(Array(t))))
  }

  test("token path (textCnnModel, q113's input): logits are identical at every batch size and per row") {
    val m = SparkEntry.textCnnModel
    val input = nullEvery7th(Tok.input(docs, m.seqHead.get.vocab, minTokens = 2)
      .withColumnRenamed("tok_ids", "x"), "x")
    check(input, m, r => ints(r).map(t => m.forwardTokensBatch(Array(t))))
  }
}
