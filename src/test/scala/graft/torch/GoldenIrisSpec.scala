package graft.torch

import graft.SparkTestSession
import graft.functions.ArgMax
import org.scalatest.funsuite.AnyFunSuite

/** The reference's only correctness oracle: the 15-row golden e2e of
  * reference src/lib.rs:143-197 — `SELECT argmax(iris(features)),
  * argmax(iris([sl,sw,pl,pw])) FROM iris LIMIT 15` must produce
  * [0,0,0,0,0,0,0,0,0,1,0,1,0,1,1] for both columns (lib.rs:172-192). */
class GoldenIrisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val irisParquet = "/root/reference/data/iris.snappy.parquet"
  val modelPath = "/root/reference/model/iris.spt"
  val golden = Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 1, 0, 1, 1)

  test("golden e2e: argmax(iris(features)) and argmax(iris(array(sl,sw,pl,pw)))") {
    ArgMax.register(spark)
    Torch.createFunction(spark, "iris", modelPath)
    // coalesce(1) pins scan order = file order, matching the reference's
    // single-partition LIMIT 15 (lib.rs:164-170)
    spark.read.parquet(irisParquet).coalesce(1).createOrReplaceTempView("iris")
    val rows = spark.sql(
      """SELECT argmax(iris(features)) AS f_inferred,
        |       argmax(iris(array(sl, sw, pl, pw))) AS inferred
        |FROM iris LIMIT 15""".stripMargin).collect()
    assert(rows.length == 15)
    assert(rows.map(_.getInt(0)).toSeq == golden, "f_inferred (list<double> features, implicit cast)")
    assert(rows.map(_.getInt(1)).toSeq == golden, "inferred (array literal)")
  }

  test("model loads + runs through a non-file Hadoop FS scheme (Q15 URL source)") {
    // mock:// resolves via ServiceLoader -> MockFs -> local disk, so the
    // Hadoop FileSystem branch of readAllBytes (the reference's
    // object_store fetch path, lib.rs:64-77) is exercised end-to-end
    // offline — closing Q15's untested leg
    val m = TorchScriptModel.load(s"mock://$modelPath")
    assert(m.inDim == 4 && m.outDim == 3)
    ArgMax.register(spark)
    Torch.createFunction(spark, "iris_mock", s"mock://$modelPath")
    spark.read.parquet(irisParquet).coalesce(1).createOrReplaceTempView("iris_mock_t")
    val preds = spark.sql(
      "SELECT argmax(iris_mock(features)) FROM iris_mock_t LIMIT 15")
      .collect().map(_.getInt(0)).toSeq
    assert(preds == golden)
  }

  test("full-table inference agrees with the stored label on most rows") {
    ArgMax.register(spark)
    Torch.createFunction(spark, "iris_f", modelPath)
    spark.read.parquet(irisParquet).createOrReplaceTempView("iris_all")
    val agree = spark.sql(
      "SELECT avg(CASE WHEN argmax(iris_f(features)) = label THEN 1.0D ELSE 0.0D END) FROM iris_all")
      .collect()(0).getDouble(0)
    assert(agree > 0.9, s"model should fit its training data, accuracy=$agree")
  }

  test("F64->F64 variant returns array<double> with same argmax") {
    ArgMax.register(spark)
    Torch.createFunction(spark, "iris_d", modelPath,
      inputType = org.apache.spark.sql.types.DoubleType,
      returnType = org.apache.spark.sql.types.DoubleType)
    spark.read.parquet(irisParquet).coalesce(1).createOrReplaceTempView("iris_d_t")
    val df = spark.sql("SELECT iris_d(features) AS logits, argmax(iris_d(features)) AS pred FROM iris_d_t LIMIT 15")
    assert(df.schema("logits").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.DoubleType)
    assert(df.collect().map(_.getInt(1)).toSeq == golden)
  }

  test("batched inference (mapPartitions GEMM) == per-row UDF for several batch sizes") {
    ArgMax.register(spark)
    val model = Torch.createFunction(spark, "iris_b", modelPath)
    val bc = spark.sparkContext.broadcast(model)
    val df = spark.read.parquet(irisParquet)
    // sort by the WHOLE (sl, pred) pair: inferBatched's adaptive input
    // spread (graft.Spread) strides the sub-parallelism scan, so
    // arrival order among equal-sl rows is not stable — the comparison
    // is a multiset equality, which the full-tuple sort canonicalizes
    val perRow = df.selectExpr("sl", "argmax(iris_b(features)) AS pred")
      .collect().map(r => (r.getDouble(0), r.getInt(1))).sorted.toSeq
    for (bs <- Seq(1, 3, 7, 64, 1000)) {
      val batched = Torch.inferBatched(df, "features", "logits", bc, bs)
        .selectExpr("sl", "argmax(logits) AS pred")
        .collect().map(r => (r.getDouble(0), r.getInt(1))).sorted.toSeq
      assert(batched == perRow, s"batch_size=$bs")
    }
  }
}
