package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[SortedCollect]]: `collect()` merges the per-partition sorted runs on
 * the driver and returns what the `execute()` path (a write, `.rdd`)
 * returns, row for row, except that rows whose sort keys tie may come
 * in any order; it runs in one job with no range-bound sampling.
 */
class SortedCollectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The root sort's ordering, when the optimized plan ends in one. */
  private def rootOrdering(df: DataFrame): Option[Ordering[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case s: SortedCollect => Some(new LazilyGeneratedOrdering(s.order, s.output))
      case _ => None
    }

  /** `rows` cut into runs of rows whose sort keys tie, each as a multiset. */
  private def tieGroups(rows: Seq[InternalRow], ord: Ordering[InternalRow]): Seq[Map[InternalRow, Int]] =
    rows.foldLeft(Vector.empty[Vector[InternalRow]]) { (gs, r) =>
      if (gs.nonEmpty && ord.compare(gs.last.last, r) == 0) gs.init :+ (gs.last :+ r)
      else gs :+ Vector(r)
    }.map(_.groupBy(identity).map { case (r, rs) => r -> rs.size })

  /** Asserts the collect and execute paths of `df` agree up to ties;
    * false when `df` does not end in a sort. */
  private def pathsAgree(name: String, df: DataFrame): Boolean = rootOrdering(df) match {
    case None => false
    case Some(ord) =>
      val unsafe = UnsafeProjection.create(df.schema)
      def norm(rows: Array[InternalRow]): Seq[InternalRow] = rows.toSeq.map(r => unsafe(r).copy())
      val collected = norm(df.queryExecution.executedPlan.executeCollect())
      val executed = norm(df.queryExecution.toRdd.map(_.copy()).collect())
      assert(collected.size == executed.size, s"$name: row counts differ")
      assert(tieGroups(collected, ord) == tieGroups(executed, ord), s"$name: collect and execute differ")
      true
  }

  private def withoutRule[T](build: => DataFrame)(f: DataFrame => T): T = {
    val df = build
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == SmallSort)
    try f(df) finally spark.experimental.extraOptimizations = saved
  }

  /** A query over the sf0.01 documents as vendored for the benchmark. */
  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, "graftbench/data/sf0.01")

  test("sf0.01 queries ending in a sort: collect equals the execute path") {
    val names = Seq("q16_dedup_exact", "q17_text_stats", "q18_lang_profile", "q19_langid",
      "q20_fingerprint", "q21_jaccard_pairs", "q22_minhash_lsh", "q47_repetition",
      "q100_ingest_pipeline", "q107_torch_embedding", "q113_torch_textcnn",
      "q194_torch_generate", "q203_torch_gen_sampled", "q257_torch_gen_fused")
    val unsorted = names.filterNot(q => pathsAgree(q, query(q)))
    assert(unsorted.isEmpty, s"${unsorted.mkString(", ")} do not end in a sort")
  }

  private val schema = StructType(Seq(StructField("id", LongType), StructField("k", DoubleType),
    StructField("s", StringType)))
  private val keys: Seq[java.lang.Double] = Seq(null, Double.NaN, Double.NegativeInfinity, -1.5,
    -0.0, 0.0, 2.0, Double.PositiveInfinity, Double.MaxValue)

  /** Rows with null, NaN, infinite and signed-zero keys and null
    * strings, over four partitions. */
  private def edgy: DataFrame = {
    val rows = (0 until 200).map(i => Row(i.toLong, keys(i % keys.size),
      if (i % 7 == 0) null else s"s${i % 11}"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("nulls first and last, NaN and signed zeros: the order of Spark's own sort") {
    SmallSort.register(spark)
    val orders = Seq(
      Seq(col("k").asc_nulls_last, col("id")),
      Seq(col("k").desc_nulls_first, col("id")),
      Seq(col("k").asc, col("id").desc),
      Seq(col("s").desc_nulls_last, col("k").asc_nulls_first, col("id")))
    for (o <- orders) {
      val spark0 = withoutRule(edgy.orderBy(o: _*))(_.collect().toSeq)
      val df = edgy.orderBy(o: _*)
      assert(rootOrdering(df).isDefined)
      assert(df.collect().toSeq == spark0, s"order ${o.mkString(", ")} differs from Spark's sort")
      assert(pathsAgree(o.mkString(", "), df))
    }
    // ties: keys alone, compared as multisets within each tie group
    val df = edgy.orderBy(col("k").desc_nulls_last)
    assert(pathsAgree("k desc nulls last", df))
  }

  test("zero partitions and all-empty partitions collect nothing") {
    SmallSort.register(spark)
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).orderBy("k")
    val empty = spark.range(0, 100, 1, 4).where(col("id") < 0).orderBy(col("id").desc)
    for (df <- Seq(none, empty)) {
      assert(df.collect().isEmpty)
      assert(df.rdd.collect().isEmpty)
    }
  }

  test("the execute path: one partition when small, else one range per input partition") {
    SmallSort.register(spark)
    def sorted: DataFrame = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
      .orderBy(col("k"), col("id").desc)
    val expected = sorted.collect().toSeq
    assert(sorted.rdd.getNumPartitions == 1)
    assert(sorted.rdd.collect().toSeq == expected)
    // over the advisory size, with a shuffle width unlike the input's
    val keys = Seq(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key -> "1",
      SQLConf.SHUFFLE_PARTITIONS.key -> "9")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val large = sorted
      assert(large.rdd.getNumPartitions == 4, "range count is not the input's partition count")
      assert(large.rdd.collect().toSeq == expected)
      assert(pathsAgree("range-sorted", large))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q107's collect runs exactly one job") {
    val df = query("q107_torch_embedding")
    assert(Jobs.during(spark)(df.collect()).size == 1)
  }

  test("q22's collect runs no range-bound sampling job") {
    def sampling(df: DataFrame): Int = Jobs.during(spark)(df.collect()).count(Jobs.samplesRangeBounds)
    assert(sampling(query("q22_minhash_lsh")) == 0)
    assert(withoutRule(query("q22_minhash_lsh"))(sampling) > 0,
      "Spark's own sort shows no sampling job: the listener cannot see one")
  }
}
