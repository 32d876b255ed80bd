package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

/**
 * The scan-side kernel skeleton: every operator that appends columns to
 * its input row for row (batched inference, decode loops, codecs) runs
 * through [[Kernel.apply]]. It is the reference's batch loop (reference
 * src/udf.rs:191-222, 250-286: rows gathered into a batch, one forward
 * call, the output split back per row, a partial final batch) as one
 * Dataset-typed `mapPartitions`: one logical plan, no ExistingRDD rescan
 * or extra job boundary, so it runs unchanged on a streaming frame.
 *
 * What it does once for every kernel:
 *  - spreads the input over the cluster ([[Spread]]);
 *  - casts the named `ints` columns to `array<int>` and `floats` columns
 *    to `array<float>`, in place;
 *  - appends the `out` fields to the schema;
 *  - per partition, calls `open()` once (read broadcast weights there);
 *  - groups the partition's rows into batches of the resolved batch size
 *    and rebuilds each output row as the input row's values followed by
 *    the values the batch body returns for it, in input order.
 *
 * A kernel whose output is not one row per input row (frame explosion,
 * pair scans) keeps its own `mapPartitions`.
 */
object Kernel {

  /** One partition's batch body: given a batch of input rows, the values
    * to append to each, in row order. With one output field a value is
    * the column value; with several it is a `Product` (a tuple) of them,
    * or null for all-null columns. */
  type Batch = Seq[Row] => Iterator[Any]

  /** The batch-size rule (the reference's `torchfusion.batch_size` knob,
    * config.rs:15-23): an explicit size above 0 wins, otherwise the
    * session's [[graft.torch.TorchConf]] value. */
  def batchSize(spark: SparkSession, requested: Int): Int =
    if (requested > 0) requested else graft.torch.TorchConf.get(spark).batchSize

  /** Appends `out` to `df`, one output row per input row, in order.
    * `batchSize` follows [[batchSize]]'s rule; the default of 1 hands the
    * body one row at a time. Column indices in the body are those of
    * `df.schema` (casting keeps every column in place). */
  def apply(
      df: DataFrame,
      out: Seq[StructField],
      ints: Seq[String] = Nil,
      floats: Seq[String] = Nil,
      batchSize: Int = 1)(open: () => Batch): DataFrame = {
    val bs = Kernel.batchSize(df.sparkSession, batchSize)
    val cast = (ints.map(_ -> ArrayType(IntegerType)) ++ floats.map(_ -> ArrayType(FloatType)))
      .foldLeft(Spread(df)) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }
    val n = cast.schema.length
    val k = out.length
    cast.mapPartitions { it =>
      val body = open()
      it.grouped(bs).flatMap { rows =>
        val in = rows.iterator
        body(rows).map(v => append(in.next(), v, n, k))
      }
    }(Encoders.row(StructType(cast.schema.fields ++ out)))
  }

  private def append(r: Row, v: Any, n: Int, k: Int): Row = {
    val a = new Array[Any](n + k)
    var i = 0
    while (i < n) { a(i) = r.get(i); i += 1 }
    if (k == 1) a(n) = v
    else if (v != null) {
      val p = v.asInstanceOf[Product]
      i = 0
      while (i < k) { a(n + i) = p.productElement(i); i += 1 }
    }
    new GenericRow(a)
  }

  /** Column `i` as int ids: null when the array or any element is null.
    * An empty array stays empty (see [[nonEmptyInts]]). */
  def ints(r: Row, i: Int): Array[Int] = {
    if (r.isNullAt(i)) return null
    val xs = r.getSeq[Any](i)
    val a = new Array[Int](xs.length)
    var j = 0
    while (j < a.length) {
      xs(j) match {
        case null => return null
        case f: java.lang.Number => a(j) = f.intValue()
      }
      j += 1
    }
    a
  }

  /** [[ints]], with an empty array read as null too (a prompt with no
    * tokens has nothing to decode from). */
  def nonEmptyInts(r: Row, i: Int): Array[Int] = {
    val a = ints(r, i)
    if (a == null || a.isEmpty) null else a
  }

  /** Column `i` as a feature vector of exactly `dim` values: null when
    * the array or any element is null; any other length fails. */
  def floats(r: Row, i: Int, dim: Int): Array[Float] = {
    if (r.isNullAt(i)) return null
    val xs = r.getSeq[Any](i)
    require(xs.length == dim, s"expected $dim features, got ${xs.length}")
    val a = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      xs(j) match {
        case null => return null
        case f: java.lang.Number => a(j) = f.floatValue()
      }
      j += 1
    }
    a
  }
}
