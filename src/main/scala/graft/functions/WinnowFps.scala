package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `winnow_fps(string, k, w) -> array<long>`: distinct winnowing
 * fingerprints (Schleimer/Wilkerson/Aiken) of word-k-gram-hashed text —
 * hash every k-gram, slide a window of `w` hashes, keep each window's
 * minimum. One JVM pass per row: the composed
 * `transform(sequence(...), j -> array_min(slice(grams, ...)))` form
 * evaluates interpreted per window, and an interpreted projection
 * re-evaluates the inlined gram-hash array per reference — O(n^2) md5
 * calls per document (observed 230s vs ~2s for the sf0.1 pair query
 * even after materializing the array).
 *
 * The per-gram hash is the first 15 hex chars of md5(space-joined
 * k-gram) parsed base-16 — bit-identical to the SQL
 * `CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT)`, so the whole
 * operator stays oracle-checkable. Tokens are `\S+` runs
 * ([[HashExprs.tokenize]]), matching `regexp_extract_all(text, '\S+')`.
 */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1 && w >= 1, "k and w must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"winnow_fps requires string, got ${other.sql}")
  }

  // one digest per expression instance; instances are task-confined
  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")
  // round-20: byte-range tokenization (HashExprs.tokenizeBytes) — the
  // digest consumes exactly the space-joined gram's UTF-8 bytes via
  // incremental update()s, bit-equal to the string path (see GramHashes)
  @transient private lazy val tr = new HashExprs.TokenRanges

  private def gramHash(bytes: Array[Byte], start: Int): Long = {
    md5.reset()
    var j = 0
    while (j < k) {
      if (j > 0) md5.update(' '.toByte)
      md5.update(bytes, tr.starts(start + j), tr.ends(start + j) - tr.starts(start + j))
      j += 1
    }
    val d = md5.digest()
    // first 15 hex chars == (first 8 bytes big-endian, unsigned) >>> 4
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = HashExprs.utf8Bytes(input.asInstanceOf[UTF8String])
    HashExprs.tokenizeBytes(bytes, tr)
    val nGrams = tr.n - k + 1
    if (nGrams <= 0) return ArrayData.toArrayData(Array.empty[Long])
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) { hs(i) = gramHash(bytes, i); i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (nGrams >= w) {
      var j = 0
      while (j <= nGrams - w) {
        var m = hs(j)
        var x = 1
        while (x < w) { if (hs(j + x) < m) m = hs(j + x); x += 1 }
        seen.add(m)
        j += 1
      }
    } else {
      var j = 0
      while (j < nGrams) { seen.add(hs(j)); j += 1 }
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "winnow_fps") { exprs =>
      WinnowFps(
        exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()) }

  def winnow_fps(spark: SparkSession, c: Column, k: Int, w: Int): Column = {
    register(spark)
    call_function("winnow_fps", c, lit(k), lit(w))
  }
}
