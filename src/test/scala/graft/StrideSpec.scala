package graft

import org.apache.spark.sql.{DataFrame, GraftColumns, Row}
import org.apache.spark.sql.catalyst.plans.physical.AllTuples
import org.apache.spark.sql.functions.{col, monotonically_increasing_id, rand, spark_partition_id,
  uuid}
import org.scalatest.funsuite.AnyFunSuite

import graft.torch.Torch

/**
 * [[Stride]]: task `j` of `n` keeps the rows `k` of its one-partition
 * input with `k mod n = j`, every row exactly once, the same way on
 * every run; [[Spread]] strides only deterministic inputs, and a torch
 * kernel over a strided scan computes what it computes row by row.
 */
class StrideSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val docs = spark.read.parquet("graftbench/data/sf0.1/documents.parquet")

  private def stride(n: Int, df: DataFrame): DataFrame = {
    SmallSort.register(spark)
    GraftColumns.frame(spark, Stride(n, df.queryExecution.analyzed))
  }

  private def strided(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.find(_.isInstanceOf[Stride]).isDefined

  /** (row position in the one input partition, task) of every output row. */
  private def placement(n: Int, input: DataFrame): Seq[(Long, Int)] =
    stride(n, input.withColumn("pos", monotonically_increasing_id()))
      .select(col("pos"), spark_partition_id().as("task")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq

  test("every row of a one-partition input lands once, in task (position mod n)") {
    val all = docs.count()
    for (n <- Seq(1, 2, 3, 4, 7, 32); rows <- Seq(0L, 1L, n - 1L, all)) {
      val input = docs.limit(rows.toInt).coalesce(1)
      val got = placement(n, input)
      assert(got.map(_._1).sorted == (0L until rows), s"n=$n rows=$rows: rows lost or repeated")
      assert(got.forall { case (k, task) => task == k % n }, s"n=$n rows=$rows: row in the wrong task")
      if (rows > 0) assert(stride(n, input).rdd.getNumPartitions == n)
    }
  }

  test("each strided task reads the scan's rows as they are, not a reused row object") {
    val n = 4
    val expected = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val got = stride(n, docs.select("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.sortBy(_._1).toSeq == expected.sortBy(_._1).toSeq)
  }

  test("a many-partition parent: every row once, over max(n, partitions) tasks") {
    val input = spark.range(0, 1000, 1, 3).toDF("id")
    for (n <- Seq(1, 2, 3, 7, 32)) {
      val out = stride(n, input)
      assert(out.rdd.getNumPartitions == math.max(n, 3))
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
    }
  }

  test("the planned stride claims no partition count its RDD may not have") {
    val input = spark.range(0, 100, 1, 3).toDF("id")
    for (n <- Seq(1, 2, 7)) {
      val plan = stride(n, input).queryExecution.executedPlan
      val exec = plan.collectFirst { case s: StrideExec => s }.get
      val claimed = exec.outputPartitioning
      val real = exec.execute().getNumPartitions
      assert(real == math.max(n, 3))
      assert(claimed.numPartitions == 0 || claimed.numPartitions == real,
        s"n=$n: claims ${claimed.numPartitions} partitions, has $real")
      assert(!claimed.satisfies(AllTuples), s"n=$n: claims one partition")
    }
  }

  test("two runs assign rows to tasks identically") {
    val input = Tok.input(docs, 256)
    assert(strided(input), "the token input is not strided")
    def run(): Set[(Long, Int)] = input.select(col("doc_id"), spark_partition_id()).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(run() == run())
  }

  test("a nondeterministic input is never strided") {
    for (df <- Seq(docs.withColumn("r", rand(7)), docs.withColumn("u", uuid()),
        docs.where(rand(3) < 0.5))) {
      val spread = Spread(df)
      assert(!strided(spread), s"strided a nondeterministic input:\n${spread.queryExecution.optimizedPlan}")
    }
    assert(strided(Spread(docs)), "a deterministic scan is not strided")
  }

  test("inferBatched over a strided scan equals the row-by-row forward pass, bit for bit") {
    for (m <- Seq(SparkEntry.embedClassModel, SparkEntry.textCnnModel)) {
      val vocab = m.embedHead.map(_.vocab).getOrElse(m.seqHead.get.vocab)
      val input = Tok.input(docs, vocab, minTokens = 2)
      assert(strided(input))
      val expected = input.collect().map { r =>
        val ids = r.getSeq[Long](1).map(_.toInt).toArray
        (r.getLong(0), m.forwardTokensBatch(Array(ids)).map(java.lang.Float.floatToRawIntBits).toSeq)
      }.sortBy(_._1).toSeq
      val bc = spark.sparkContext.broadcast(m)
      for (bs <- Seq(1, 7, 256)) {
        val got = Torch.inferBatched(input, "tok_ids", "logits", bc, batchSize = bs)
          .select("doc_id", "logits").collect()
          .map((r: Row) => (r.getLong(0), r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)))
          .sortBy(_._1).toSeq
        assert(got == expected, s"batch size $bs differs from the row-by-row forward pass")
      }
    }
  }
}
