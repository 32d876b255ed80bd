package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[SmallSort]]: a root sort is merged at collect, with the same rows
 * in the same order as Spark's range sort, and every other sort is left
 * to Spark. Queries read the sf0.01 documents and
 * embeddings tables as vendored in the checkout for the benchmark.
 */
class SmallSortSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "graftbench/data/sf0.01"

  /** Applies `f` to a query built with the rule registered but optimized
    * without it: SparkEntry registers the rule on every table reference,
    * and a Dataset is optimized on first use. */
  private def withoutRule[T](build: => DataFrame)(f: DataFrame => T): T = {
    val df = build
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == SmallSort)
    try f(df) finally spark.experimental.extraOptimizations = saved
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  /** A top-k over the documents: its sort sits under a limit. */
  private def topK: DataFrame = {
    SmallSort.register(spark)
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("len"))
      .orderBy(col("len").desc, col("doc_id")).limit(10)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def plan(name: String): String = plan(query(name))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** An operator that puts a sort's input in one task, or merges it there. */
  private def oneTask(line: String): Boolean =
    line.contains("Exchange SinglePartition, REPARTITION_BY_NUM") || line.contains("Coalesce 1") ||
      line.contains("SortedCollect")

  test("results are identical, row for row and in order, with and without the rule") {
    for (q <- Seq("q17_text_stats", "q22_minhash_lsh", "q100_ingest_pipeline",
        "q106_ann_ivfpq", "q107_torch_embedding", "q113_torch_textcnn",
        "q194_torch_generate", "q257_torch_gen_fused", "q16_dedup_exact",
        "q21_jaccard_pairs", "q145_cross_encoder")) {
      val off = withoutRule(query(q))(rows)
      assert(rows(query(q)) == off, s"$q: results differ with the rule")
      assert(off.nonEmpty, s"$q: empty result")
    }
    assert(rows(topK) == withoutRule(topK)(rows), "top-k results differ with the rule")
  }

  test("a torch kernel fed by a mid-plan sort: that sort keeps its range exchange") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def build: DataFrame = {
      SmallSort.register(spark)
      val m = SparkEntry.embedClassModel
      val toks = Tok.input(docs, m.embedHead.get.vocab).orderBy("doc_id")
      torch.Torch.inferBatched(toks, "tok_ids", "logits", spark.sparkContext.broadcast(m),
          batchSize = 256)
        .select(col("doc_id"), col("logits"))
        .orderBy("doc_id")
    }
    val off = withoutRule(build)(rows)
    val on = build
    val p = plan(on)
    assert("rangepartitioning".r.findAllIn(p).length == 1, s"mid-plan sort lost its range exchange:\n$p")
    assert(p.contains("SortedCollect"), s"root sort not merged at collect:\n$p")
    assert(rows(on) == off)
  }

  test("inference queries collect with no exchange at all") {
    for (q <- Seq("q107_torch_embedding", "q113_torch_textcnn",
        "q194_torch_generate", "q257_torch_gen_fused")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: exchange left:\n$p")
      assert(p.contains("SortedCollect"), s"$q: root sort not merged at collect:\n$p")
    }
  }

  test("q17 over a one-partition scan collects without any exchange") {
    val p = plan("q17_text_stats")
    assert(!p.contains("Exchange"), s"q17 shuffles:\n$p")
  }

  test("top-k sorts keep TakeOrderedAndProject, with no one-partition operator under it") {
    for ((name, p) <- Seq("top-k" -> plan(topK), "q125_hybrid_rrf" -> plan("q125_hybrid_rrf"),
        "q145_cross_encoder" -> plan("q145_cross_encoder"))) {
      val lines = p.linesIterator.toSeq
      val tops = lines.indices.filter(i => lines(i).contains("TakeOrderedAndProject"))
      assert(tops.nonEmpty, s"$name: no TakeOrderedAndProject:\n$p")
      for (i <- tops) {
        val indent = lines(i).indexWhere(_.isLetter)
        val under = lines.drop(i + 1).takeWhile(_.indexWhere(_.isLetter) > indent)
        assert(!under.exists(oneTask), s"$name: one-partition sort input under the top-k:\n$p")
      }
    }
  }

  test("a sort whose input is over the advisory partition size keeps its range exchange") {
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      // q107's input is spread over every core; the execute path (a
      // write, `.rdd`) range-sorts it, the collect path merges its runs
      val df = query("q107_torch_embedding")
      val rows = df.collect().toSeq
      val jobs = Jobs.during(spark)(assert(df.rdd.collect().toSeq == rows))
      assert(jobs.exists(Jobs.samplesRangeBounds), "the execute path ran no range sort")
      assert(!Jobs.during(spark)(df.collect()).exists(Jobs.samplesRangeBounds),
        "the collect path ran a range sort")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Spread's leaf estimate equals the scan's real partition count") {
    val dir = java.nio.file.Files.createTempDirectory("leaf-partitions").toFile
    try {
      // seven small files, and one file large enough to be split
      spark.range(0, 200000, 1, 7).selectExpr("id", "repeat('x', cast(id % 50 as int)) AS s")
        .write.parquet(s"$dir/small")
      spark.range(0, 150000, 1, 1).selectExpr("id", "sha2(cast(id AS string), 256) AS h")
        .write.parquet(s"$dir/large")
      val frames = Seq(s"$dir/small", s"$dir/large", s"$sfDir/documents.parquet",
        s"$sfDir/embeddings.parquet", "graftbench/data/sf0.1/documents.parquet").map(spark.read.parquet(_))
      for (df <- frames) {
        val real = df.queryExecution.toRdd.getNumPartitions.toLong
        assert(Spread.leafPartitions(df.queryExecution.optimizedPlan, spark).contains(real),
          s"estimate differs from the real $real partitions:\n${df.queryExecution.optimizedPlan}")
      }
      assert(spark.read.parquet(s"$dir/large").queryExecution.toRdd.getNumPartitions > 1,
        "the large file was not split")
    } finally new scala.reflect.io.Directory(dir).deleteRecursively()
  }

  test("the rule is registered once per session") {
    SmallSort.register(spark)
    SmallSort.register(spark)
    assert(spark.experimental.extraOptimizations.count(_ == SmallSort) == 1)
  }
}
