package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `gram_hashes(string, k) -> array<long>`: POSITIONAL word-k-gram
 * hashes — element `i` is the hash of tokens `[i, i+k)` — the input to
 * duplicated-substring (span) detection, where positions matter.
 * Differs from [[ShingleHashes]] (distinct set semantics, for Jaccard)
 * and [[WinnowFps]] (windowed minima, for overlap fingerprints).
 *
 * Same oracle-checkable hash as winnowing: first 15 hex chars of
 * md5(space-joined gram) parsed base-16, bit-identical to SQL
 * `CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT)` — though the
 * span oracle can work from the raw gram strings directly, so the
 * hash only needs to be collision-free (2^-60 per pair), not
 * SQL-reproducible. Tokens are `\S+` runs ([[HashExprs.tokenize]]).
 * One JVM pass per row; rows shorter than k tokens yield an empty
 * array.
 */
case class GramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, "k must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"gram_hashes requires string, got ${other.sql}")
  }

  // one digest per expression instance; instances are task-confined
  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")
  // round-20: byte-range tokenization (HashExprs.tokenizeBytes) — the
  // digest consumes exactly the space-joined gram's UTF-8 bytes via
  // incremental update()s, so every hash is bit-equal to the string
  // path while the decode/regex/StringBuilder work leaves the hot loop
  @transient private lazy val tr = new HashExprs.TokenRanges

  override def nullSafeEval(input: Any): Any = {
    val bytes = HashExprs.utf8Bytes(input.asInstanceOf[UTF8String])
    HashExprs.tokenizeBytes(bytes, tr)
    val n = tr.n - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      md5.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md5.update(' '.toByte)
        md5.update(bytes, tr.starts(i + j), tr.ends(i + j) - tr.starts(i + j))
        j += 1
      }
      val d = md5.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = v >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object GramHashes {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "gram_hashes") { exprs =>
      GramHashes(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()) }

  def gram_hashes(spark: SparkSession, c: Column, k: Int): Column = {
    register(spark)
    call_function("gram_hashes", c, org.apache.spark.sql.functions.lit(k))
  }
}
