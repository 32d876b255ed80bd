package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `tok_ids(text, mod, maxTokens) -> array<bigint>`: the model token ids
 * of the in-SQL torch queries, in one pass — bit-identical to the
 * Catalyst idiom
 * {{{
 * slice(transform(regexp_extract_all(text, Tok.Pattern, 0),
 *   tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % mod), 1, maxTokens)
 * }}}
 * and to the oracle's `CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % v`.
 * The first 8 hex chars of md5 are the digest's first 4 bytes, so each
 * id is those bytes read as an unsigned big-endian int, mod `mod`.
 *
 * The idiom decodes the row, runs the regex, allocates a string per
 * token, hex-formats its md5 and parses the hex back through `conv`,
 * all interpreted inside a lambda; here the row's UTF-8 bytes are
 * tokenized in place ([[HashExprs.tokenizeBytes]]), each token range
 * feeds one reused digest, and tokenization stops after `maxTokens`.
 * Invalid UTF-8 rows are hashed on the bytes Spark's regex path sees
 * ([[HashExprs.utf8Bytes]]). Null text gives null.
 */
case class TokIds(child: Expression, mod: Long, maxTokens: Int)
    extends UnaryExpression with CodegenFallback {
  require(mod >= 1, "mod must be >= 1")
  require(maxTokens >= 0, "maxTokens must be >= 0")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "tok_ids"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"tok_ids requires string, got ${other.sql}")
  }

  // one digest and range buffer per expression instance; instances are
  // task-confined (see GramHashes)
  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")
  @transient private lazy val tr = new HashExprs.TokenRanges
  @transient private lazy val d = new Array[Byte](16)

  override def nullSafeEval(input: Any): Any = {
    val bytes = HashExprs.utf8Bytes(input.asInstanceOf[UTF8String])
    HashExprs.tokenizeBytes(bytes, tr, maxTokens)
    val out = new Array[Long](tr.n)
    var i = 0
    while (i < tr.n) {
      md5.update(bytes, tr.starts(i), tr.ends(i) - tr.starts(i))
      md5.digest(d, 0, 16)
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      out(i) = v % mod
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TokIds =
    copy(child = newChild)
}

/**
 * `tok_count(text, cap) -> int`: the number of `Tok.Pattern` tokens,
 * i.e. `size(regexp_extract_all(text, Tok.Pattern, 0))`, by a byte scan
 * with no hashing, stopping at `cap` tokens (so `min(count, cap)`).
 * The cheap row filter in front of [[TokIds]]: a `size(tok_ids) >= n`
 * filter would be pushed through the projection with the whole hashing
 * expression substituted in, hashing every row twice; `cap = n` makes
 * the `>= n` test stop scanning a row at its n-th token. Re-encoding
 * invalid UTF-8 never moves a whitespace byte, so the raw bytes give
 * the same count. Null text gives null.
 */
case class TokCount(child: Expression, cap: Int = Int.MaxValue)
    extends UnaryExpression with CodegenFallback {
  require(cap >= 0, "cap must be >= 0")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "tok_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"tok_count requires string, got ${other.sql}")
  }

  @transient private lazy val tr = new HashExprs.TokenRanges

  override def nullSafeEval(input: Any): Any = {
    HashExprs.tokenizeBytes(input.asInstanceOf[UTF8String].getBytes, tr, cap)
    tr.n
  }

  override protected def withNewChildInternal(newChild: Expression): TokCount =
    copy(child = newChild)
}
