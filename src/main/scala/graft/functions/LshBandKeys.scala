package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/**
 * `lsh_band_keys(array<double>, numPlanes, bands, seed) -> array<long>`:
 * random-hyperplane LSH signature in ONE pass — the sign bit of the
 * embedding's dot product against `numPlanes` seeded Gaussian planes,
 * grouped into `bands` keys of `numPlanes/bands` bits each.
 *
 * Output layout: `bands` band keys followed by `ceil(numPlanes/64)`
 * packed signature words (all bits, 64 per long) — the words let
 * candidate pairs be hamming-prefiltered without re-touching the
 * embedding arrays.
 *
 * A native expression because the composed form (one `dot_product`
 * call per plane, shift/OR per band) rebuilds the whole signature per
 * consuming expression when the projection is interpreted — at 128
 * planes x 64 dims that recomputation dominated the near-dup stage.
 * Planes are generated lazily from the fixed seed at the first-seen
 * input dimension (deterministic across executors; ~64 KB at 128x64,
 * far below broadcast-worthy size); a row with any OTHER dimension
 * raises rather than silently hashing against a different plane set.
 */
case class LshBandKeys(
    child: Expression, numPlanes: Int, bands: Int, seed: Long, dim: Int = -1)
    extends UnaryExpression with CodegenFallback {
  require(numPlanes % bands == 0, "bands must divide numPlanes")
  private val width = numPlanes / bands
  require(width <= 64, "band width must fit in a long")
  private val nWords = (numPlanes + 63) / 64

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "lsh_band_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"lsh_band_keys requires array<double>, got ${other.sql}")
  }

  // plane matrix for the single observed input dim, flattened
  // plane-major (same generation order as a per-plane Array.fill, so
  // results are stable across refactors of the composed form). The dim
  // is pinned on first use: rows with a DIFFERENT dimension would get
  // signatures from an unrelated plane set and never collide with
  // anything, so mixed-dimension input is an error, not a silent miss.
  // When `dim` is declared (>0) the check is global and exact; with
  // dim <= 0 the pin is per expression instance, i.e. per task — a
  // mixed-dim corpus split across partitions can then still produce
  // disjoint plane sets, which is why operators that know their dim
  // (nearDupPairs, lshTopK) always declare it.
  @transient private lazy val planeRef =
    new java.util.concurrent.atomic.AtomicReference[(Int, Array[Double])](
      if (dim > 0) (dim, genPlanes(dim)) else null)
  private def genPlanes(d: Int): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes * d)(rnd.nextGaussian())
  }
  private def planesFor(d: Int): Array[Double] = {
    val cached = planeRef.get()
    if (cached != null) {
      require(cached._1 == d,
        s"lsh_band_keys: embedding dimension $d differs from declared/first-seen " +
          s"${cached._1}; mixed-dimension input cannot share one hyperplane set")
      cached._2
    } else {
      val ps = genPlanes(d)
      if (planeRef.compareAndSet(null, (d, ps))) ps else planesFor(d)
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return null
      x(i) = arr.getDouble(i)
      i += 1
    }
    val ps = planesFor(dim)
    val out = new Array[Long](bands + nWords)
    var plane = 0
    var off = 0
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < width) {
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += ps(off + d) * x(d); d += 1 }
        if (dot >= 0) {
          key |= (1L << j)
          out(bands + (plane >> 6)) |= (1L << (plane & 63))
        }
        plane += 1
        off += dim
        j += 1
      }
      out(b) = key
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandKeys =
    copy(child = newChild)
}

object LshBandKeys {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "lsh_band_keys") { exprs =>
      LshBandKeys(
        exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue(),
        exprs(3).eval().asInstanceOf[Number].longValue(),
        if (exprs.length > 4) exprs(4).eval().asInstanceOf[Number].intValue() else -1) }

  def lsh_band_keys(
      spark: SparkSession, c: Column, numPlanes: Int, bands: Int,
      seed: Long = 42L, dim: Int = -1): Column = {
    register(spark)
    call_function("lsh_band_keys", c, lit(numPlanes), lit(bands), lit(seed), lit(dim))
  }
}
