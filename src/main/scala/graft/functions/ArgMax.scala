package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * `argmax(array<numeric>) -> int`: index of the largest element.
 *
 * Semantics mirror the reference's vectorized argmax UDF
 * (reference src/argmax.rs:14-120, backed by the `argminmax` crate):
 *   - first-max-wins on ties (strictly-greater replaces the champion);
 *   - NaN never wins (argminmax's ignore-NaN float mode);
 *   - accepted item types F16/F32/F64/I32/I64 (argmax.rs:30-35) map to
 *     Spark Float/Double/Int/Long (+ Short; Spark has no 16-bit float);
 *   - returns UInt32 in the reference (argmax.rs:58-60) -> IntegerType
 *     here (indices are small non-negative, lossless narrowing).
 * Divergence (documented): the reference leaves empty lists / null
 * handling undefined (argmax.rs:110-117 reads raw buffers); we return
 * NULL for null/empty/all-NaN inputs and skip null items.
 */
case class ArgMax(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "argmax"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(et, _) if ArgMax.supports(et) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"argmax requires array of float/double/int/long/short, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val et = child.dataType.asInstanceOf[ArrayType].elementType
    var best = -1
    et match {
      case FloatType | DoubleType =>
        var bestV = 0.0
        var i = 0
        while (i < n) {
          if (!arr.isNullAt(i)) {
            val v = et match {
              case FloatType => arr.getFloat(i).toDouble
              case _         => arr.getDouble(i)
            }
            // NaN fails both comparisons -> never selected
            if (best == -1 && !java.lang.Double.isNaN(v)) { best = i; bestV = v }
            else if (v > bestV) { best = i; bestV = v }
          }
          i += 1
        }
      case _ =>
        var bestV = 0L
        var i = 0
        while (i < n) {
          if (!arr.isNullAt(i)) {
            val v = et match {
              case IntegerType => arr.getInt(i).toLong
              case ShortType   => arr.getShort(i).toLong
              case _           => arr.getLong(i)
            }
            if (best == -1 || v > bestV) { best = i; bestV = v }
          }
          i += 1
        }
    }
    if (best == -1) null else best
  }

  /** Same loop as [[nullSafeEval]], generated into the surrounding
    * whole-stage-codegen pipeline (a CodegenFallback here would punch a
    * hole in the q27-style scan→project span for every row). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val et = child.dataType.asInstanceOf[ArrayType].elementType
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val bestV = ctx.freshName("bestV")
      val v = ctx.freshName("v")
      val getV = CodeGenerator.getValue(arr, et, i)
      val loop = et match {
        case FloatType | DoubleType =>
          s"""
             |double $bestV = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  if (!$arr.isNullAt($i)) {
             |    double $v = (double) $getV;
             |    if ($best == -1 && !Double.isNaN($v)) { $best = $i; $bestV = $v; }
             |    else if ($v > $bestV) { $best = $i; $bestV = $v; }
             |  }
             |}""".stripMargin
        case _ =>
          s"""
             |long $bestV = 0L;
             |for (int $i = 0; $i < $n; $i++) {
             |  if (!$arr.isNullAt($i)) {
             |    long $v = (long) $getV;
             |    if ($best == -1 || $v > $bestV) { $best = $i; $bestV = $v; }
             |  }
             |}""".stripMargin
      }
      s"""
         |int $n = $arr.numElements();
         |int $best = -1;
         |$loop
         |if ($best == -1) { ${ev.isNull} = true; } else { ${ev.value} = $best; }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArgMax = copy(child = newChild)
}

object ArgMax {
  def supports(et: DataType): Boolean = et match {
    case FloatType | DoubleType | IntegerType | LongType | ShortType => true
    case _                                                           => false
  }

  /** Register `argmax` in the session function registry (SQL-callable),
    * mirroring the reference's `configure_context` (reference src/lib.rs:131-135).
    * Idempotent ([[SessionFunctions.registerOnce]]). */
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "argmax")(exprs => ArgMax(exprs.head))

  /** Injection descriptor for `SparkSessionExtensions.injectFunction`. */
  def descriptor: (FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("argmax"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[ArgMax].getCanonicalName, "argmax"),
      (exprs: Seq[Expression]) => ArgMax(exprs.head))
}
