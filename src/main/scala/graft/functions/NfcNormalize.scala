package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `nfc_normalize(string) -> string`: Unicode NFC (canonical
 * composition) via `java.text.Normalizer` — the first step of the
 * standard web-corpus text-normalization stack (combining sequences
 * like `e` + U+0301 become the precomposed `é`, so downstream exact /
 * hash dedup sees one representation per canonically-equivalent
 * string). Matches DuckDB's `nfc_normalize`, which the oracle uses.
 *
 * Codegen'd (no UDF): the generated code is one static call, with a
 * fast path that returns the input UTF8String untouched when it is
 * already normalized — true for ~all real web text (ASCII is always
 * NFC), so the common case allocates nothing.
 */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"nfc_normalize requires string, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static helper the generated code calls (Scala emits a static
    * forwarder for this on the companion class). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "nfc_normalize")(exprs => NfcNormalize(exprs.head))

  def nfc_normalize(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("nfc_normalize", c)
  }
}
