package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/**
 * `vec_unit(array<double>) -> array<double>`: L2-normalize a vector in
 * ONE JVM pass — bit-identical to the composed
 * `when(sqrt(aggregate(e, 0.0, (a, v) => a + v*v)) > 0,
 *       transform(e, v => v / nrm)).otherwise(e)`
 * form it replaces (round-20, guide §1.2 "per-task work"): the norm
 * accumulates `0.0 + v0*v0 + v1*v1 + ...` in index order exactly like
 * the left fold, each element divides by the same `sqrt` once, and the
 * fall-through cases match the when/otherwise semantics —
 *  - any NULL element: the fold's `acc + null` nulls the norm, the
 *    `when` predicate is null, the vector passes through UNCHANGED;
 *  - zero norm (all-zero vector): predicate false, vector unchanged;
 *  - NaN norm (a NaN element): Spark SQL orders NaN GREATER than any
 *    value, so `nrm > 0` is TRUE and the composed form DIVIDES by the
 *    NaN norm (an all-NaN vector out) — reproduced here exactly;
 *  - null array: null out.
 * A native expression because Catalyst higher-order functions evaluate
 * interpreted per element — this runs per CORPUS row in every ANN
 * train/encode/probe path, where the interpretation was the measured
 * cost of the pre-exchange scan task.
 */
case class VecUnit(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_unit"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"vec_unit requires array<double>, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return arr // null element => norm null => pass through
      val v = arr.getDouble(i)
      s += v * v
      i += 1
    }
    val nrm = math.sqrt(s)
    // Spark's `nrm > 0` predicate: NaN compares GREATER than 0, so only
    // an exactly-zero norm passes through; NaN norms divide (see doc)
    if (nrm == 0.0) return arr
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = arr.getDouble(i) / nrm; i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): VecUnit =
    copy(child = newChild)
}

object VecUnit {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "vec_unit")(exprs => VecUnit(exprs.head))

  def vec_unit(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("vec_unit", c)
  }
}
