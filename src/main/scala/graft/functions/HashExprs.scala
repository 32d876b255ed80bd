package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared 64-bit string hash (FNV-1a over UTF-8 bytes) used by the
  * fingerprinting expressions below. Deterministic, dependency-free. */
private[graft] object Fnv64 {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L
  def hash(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * Prime; i += 1 }
    h
  }

  /** FNV-1a of `n` tokens joined by a single space, WITHOUT building the
    * joined string — byte-identical to `hash("t0 t1 ...".getBytes)`. */
  def hashJoined(tokenBytes: Array[Array[Byte]], start: Int, n: Int): Long = {
    var h = Offset
    var j = 0
    while (j < n) {
      if (j > 0) h = (h ^ 0x20L) * Prime // ' '
      val bs = tokenBytes(start + j)
      var i = 0
      while (i < bs.length) { h = (h ^ (bs(i) & 0xffL)) * Prime; i += 1 }
      j += 1
    }
    h
  }

  /** [[hashJoined]] over token byte-RANGES of one backing array (the
    * round-20 zero-copy form — see [[HashExprs.TokenRanges]]):
    * byte-identical to hashing the space-joined shingle string. */
  def hashJoinedRanges(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
      start: Int, n: Int): Long = {
    var h = Offset
    var j = 0
    while (j < n) {
      if (j > 0) h = (h ^ 0x20L) * Prime // ' '
      var i = starts(start + j)
      val e = ends(start + j)
      while (i < e) { h = (h ^ (bytes(i) & 0xffL)) * Prime; i += 1 }
      j += 1
    }
    h
  }
}

/**
 * `shingle_hashes(string, n) -> array<long>`: 64-bit FNV-1a hashes of
 * the distinct word n-gram shingles of whitespace-tokenized text, in
 * one pass and without materializing the shingle strings. The hash of
 * each shingle equals `rolling_hash64` of the space-joined shingle
 * string, so [[MinHashSig]]/[[SimHash64]] fed with these longs produce
 * BIT-IDENTICAL signatures to the string pipeline — while the
 * inverted-index shuffle key shrinks from a multi-word string to
 * 8 bytes. Collisions (~2^-64 per shingle pair) are the usual hashed-
 * shingling trade accepted by public web-dedup pipelines.
 */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires string, got ${other.sql}")
  }

  // round-20: byte-range tokenization (HashExprs.tokenizeBytes) — the
  // FNV input bytes are identical to the per-token getBytes copies the
  // string path produced, so every hash (and the LinkedHashSet order)
  // is bit-equal; the string decode, regex and per-token allocations
  // are gone from the hot loop
  @transient private lazy val tr = new HashExprs.TokenRanges

  override def nullSafeEval(input: Any): Any = {
    val bytes = HashExprs.utf8Bytes(input.asInstanceOf[UTF8String])
    HashExprs.tokenizeBytes(bytes, tr)
    if (tr.n < n)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= tr.n - n) {
      seen.add(Fnv64.hashJoinedRanges(bytes, tr.starts, tr.ends, i, n))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "shingle_hashes") { exprs =>
      ShingleHashes(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()) }

  def shingle_hashes(spark: SparkSession, c: Column, n: Int): Column = {
    register(spark)
    call_function("shingle_hashes", c, org.apache.spark.sql.functions.lit(n))
  }
}

private[graft] object HashExprs {
  @transient private lazy val nonWs = java.util.regex.Pattern.compile(graft.Tok.Pattern)

  /** Tokens = maximal non-whitespace runs (`\S+` matches) — the ONE
    * tokenization shared by Shingles, ShingleHashes, and the oracles'
    * `regexp_extract_all(text, '\S+')`. (Java `trim` + split diverges on
    * control chars <= U+0020 that are not regex whitespace.) */
  def tokenize(s: String): Array[String] = {
    val m = nonWs.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** Reusable token byte-range buffer for [[tokenizeBytes]] — one per
    * expression instance (instances are task-confined, like the
    * per-instance MD5 digests the gram kernels already carry). */
  final class TokenRanges {
    var starts: Array[Int] = new Array[Int](64)
    var ends: Array[Int] = new Array[Int](64)
    var n: Int = 0
    private[HashExprs] def grow(): Unit = {
      starts = java.util.Arrays.copyOf(starts, starts.length * 2)
      ends = java.util.Arrays.copyOf(ends, ends.length * 2)
    }
  }

  /** Round-20 zero-copy tokenization (guide §1.2 "per-task work"): the
    * token byte ranges of a string's UTF-8 bytes, EXACTLY the
    * [[tokenize]] regex tokens — the whitespace class
    * `[ \t\n\x0B\f\r]` is six single-byte ASCII values, and UTF-8
    * multi-byte sequences never contain bytes < 0x80, so maximal runs
    * of non-whitespace BYTES are precisely the maximal runs of
    * non-whitespace CHARS (for any valid-UTF-8 input, which is what
    * parquet string columns carry). No string decode, no regex
    * machinery, no per-token allocation. Stops after `limit` tokens.
    * Invalid UTF-8 goes through [[utf8Bytes]] first. */
  def tokenizeBytes(bytes: Array[Byte], tr: TokenRanges, limit: Int = Int.MaxValue): Unit = {
    tr.n = 0
    val len = bytes.length
    var i = 0
    while (i < len && tr.n < limit) {
      val b = bytes(i)
      if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r') {
        i += 1
      } else {
        val s = i
        i += 1
        var run = true
        while (run && i < len) {
          val c = bytes(i)
          if (c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r') run = false
          else i += 1
        }
        if (tr.n == tr.starts.length) tr.grow()
        tr.starts(tr.n) = s
        tr.ends(tr.n) = i
        tr.n += 1
      }
    }
  }

  /** The UTF-8 bytes Spark's string path hashes for `s`: its own bytes
    * when they are well-formed UTF-8, else the bytes of its decoded
    * form. `regexp_extract_all` (like every `UTF8String.toString`)
    * decodes the row with U+FFFD for each malformed sequence, so a
    * token holding invalid bytes reaches md5/FNV as EF BF BD; hashing
    * the raw bytes would give different values. Decoding never consumes
    * an ASCII byte, so the valid tokens' bytes and the token boundaries
    * stay where they were: only the invalid tokens change.
    * (`isValid` accepts exactly the byte strings Java's decoder maps
    * back to themselves.) */
  def utf8Bytes(s: UTF8String): Array[Byte] =
    if (s.isValid) s.getBytes else s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
}

/**
 * `simhash64(array<string>) -> bigint`: 64-bit SimHash fingerprint of a
 * token/shingle set (Charikar's similarity-preserving hash, as used by
 * public web-dedup pipelines): each feature votes +-1 per bit position
 * of its 64-bit hash; the sign of each bit's tally forms the output.
 * Near-identical sets yield fingerprints at small hamming distance.
 */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string> or array<long> (pre-hashed), got ${other.sql}")
  }

  // pre-hashed array<long> features skip the FNV step, producing the
  // SAME fingerprint as the string path fed through shingle_hashes
  private lazy val preHashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = if (preHashed) arr.getLong(i) else Fnv64.hash(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "simhash64")(exprs => SimHash64(exprs.head))
  def simhash64(c: Column): Column = call_function("simhash64", c)
}

/**
 * `shingles(string, n) -> array<string>`: distinct word n-gram shingles
 * of whitespace-tokenized text, in one pass. A native expression
 * because the equivalent `transform(sequence(...), i ->
 * concat_ws(slice(split(...))))` pipeline evaluates interpreted per
 * shingle (Catalyst higher-order functions don't participate in
 * whole-stage codegen) and was ~30x slower at corpus scale.
 */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"shingles requires string, got ${other.sql}")
  }

  // round-20: byte-range tokenization (see ShingleHashes) — each
  // shingle's UTF-8 bytes are spliced straight from the input array
  // (token bytes + single spaces, exactly the string concatenation's
  // encoding, UTF-8 being injective), deduped as UTF8String (byte
  // equality == string equality for valid UTF-8) in the same
  // first-occurrence order
  @transient private lazy val tr = new HashExprs.TokenRanges

  override def nullSafeEval(input: Any): Any = {
    val bytes = HashExprs.utf8Bytes(input.asInstanceOf[UTF8String])
    HashExprs.tokenizeBytes(bytes, tr)
    if (tr.n < n)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[UTF8String])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= tr.n - n) {
      var len = n - 1 // the n-1 joining spaces
      var j = 0
      while (j < n) { len += tr.ends(i + j) - tr.starts(i + j); j += 1 }
      val sh = new Array[Byte](len)
      var p = 0
      j = 0
      while (j < n) {
        if (j > 0) { sh(p) = ' '; p += 1 }
        val w = tr.ends(i + j) - tr.starts(i + j)
        System.arraycopy(bytes, tr.starts(i + j), sh, p, w)
        p += w
        j += 1
      }
      seen.add(UTF8String.fromBytes(sh))
      i += 1
    }
    val out = new Array[UTF8String](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "shingles") { exprs =>
      Shingles(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()) }

  def shingles(spark: SparkSession, c: Column, n: Int): Column = {
    register(spark)
    call_function("shingles", c, org.apache.spark.sql.functions.lit(n))
  }
}

/**
 * `minhash_sig(array<string>, numHashes) -> array<bigint>`: MinHash
 * signature computed in ONE pass over the feature set — for each of
 * `numHashes` seeded hash functions h_j, the minimum h_j(x) over all
 * elements. h_j(x) = splitmix64(fnv64(x) ^ seed_j), a universal-enough
 * family for banding. A native expression instead of nested
 * `transform(...array_min...)` lambdas because Catalyst higher-order
 * functions evaluate interpreted per element — at 64 hashes x ~80
 * shingles x millions of docs that interpretation dominates the whole
 * dedup job; this loop is plain JVM code.
 */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string> or array<long> (pre-hashed), got ${other.sql}")
  }

  private lazy val seeds: Array[Long] = MinHashSig.seedsFor(numHashes)

  // see SimHash64: array<long> inputs are pre-hashed features
  private lazy val preHashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(
      MinHashSig.minima(input.asInstanceOf[ArrayData], numHashes, seeds, preHashed))

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/**
 * `minhash_buckets(features, bands, rowsPerBand) -> array<long>`: LSH
 * band bucket keys in ONE pass — the `bands * rowsPerBand` MinHash
 * minima of [[MinHashSig]], combined per band into a single 64-bit
 * bucket key (splitmix64 chain over the band's rows). A native
 * expression because the composed `transform(sequence(...),
 * b -> xxhash64(slice(sig, ...)))` form re-evaluates the entire
 * signature expression for every band when interpreted — 32x the
 * dominant cost of the whole near-dup job. Accepts `array<string>` or
 * pre-hashed `array<long>` features like [[MinHashSig]].
 */
case class MinHashBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  require(bands >= 1 && rowsPerBand >= 1, "bands and rowsPerBand must be >= 1")
  private val numHashes = bands * rowsPerBand

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_buckets requires array<string> or array<long>, got ${other.sql}")
  }

  private lazy val seeds: Array[Long] = MinHashSig.seedsFor(numHashes)

  private lazy val preHashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val mins = MinHashSig.minima(
      input.asInstanceOf[ArrayData], numHashes, seeds, preHashed)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = 0L
      var r = 0
      while (r < rowsPerBand) {
        k = MinHashSig.splitmix64(k ^ mins(b * rowsPerBand + r))
        r += 1
      }
      out(b) = k
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBuckets =
    copy(child = newChild)
}

object MinHashBuckets {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "minhash_buckets") { exprs =>
      MinHashBuckets(
        exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()) }

  def minhash_buckets(
      spark: SparkSession, c: Column, bands: Int, rowsPerBand: Int): Column = {
    register(spark)
    call_function("minhash_buckets", c,
      org.apache.spark.sql.functions.lit(bands),
      org.apache.spark.sql.functions.lit(rowsPerBand))
  }
}

object MinHashSig {
  /** splitmix64 finalizer — public-domain mixing constants. */
  def splitmix64(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The shared seed chain — MinHashSig and MinHashBuckets MUST use the
    * same one so their signatures stay bit-compatible. */
  private[functions] def seedsFor(numHashes: Int): Array[Long] = {
    var x = 0x9e3779b97f4a7c15L
    Array.fill(numHashes) { x = splitmix64(x); x }
  }

  /** Per-hash minima over the feature set — the core MinHash loop shared
    * by [[MinHashSig]] (raw signature) and [[MinHashBuckets]] (banded). */
  private[functions] def minima(
      arr: ArrayData, numHashes: Int, seeds: Array[Long], preHashed: Boolean): Array[Long] = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = if (preHashed) arr.getLong(i) else Fnv64.hash(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < numHashes) {
          val v = splitmix64(h ^ seeds(j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "minhash_sig") { exprs =>
      MinHashSig(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()) }

  def minhash_sig(spark: SparkSession, c: Column, numHashes: Int): Column = {
    register(spark)
    call_function("minhash_sig", c, org.apache.spark.sql.functions.lit(numHashes))
  }
}

/**
 * `rolling_hash64(string) -> bigint`: polynomial rolling hash (FNV-1a)
 * of the string's UTF-8 bytes — a cheap whole-document fingerprint for
 * exact dedup at scale where storing the text key itself is too wide.
 */
case class RollingHash64(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_hash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"rolling_hash64 requires string, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Fnv64.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}

object RollingHash64 {
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "rolling_hash64")(exprs => RollingHash64(exprs.head))
  def rolling_hash64(c: Column): Column = call_function("rolling_hash64", c)
}
