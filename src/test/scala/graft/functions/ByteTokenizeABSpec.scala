package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Round-20 bit-identity A/B for the byte-range tokenization rewrite of
 * the fingerprint kernels (the charEntropy recipe from round 19: prove
 * hex/bit equality against the replaced implementation over the FULL
 * fixture plus adversarial inputs BEFORE trusting the oracle gate).
 *
 * The reference below IS the r19 string path, re-implemented verbatim
 * in the test (regex tokenize -> per-token UTF-8 getBytes -> joined
 * hashes / md5 of the joined string): every output of the byte-range
 * expressions must equal it element-for-element over
 *  - every sf0.1 document (the largest fixture's whole text column),
 *  - adversarial strings: emoji/CJK/combining marks (multi-byte
 *    UTF-8), every ASCII whitespace class member alone and in runs,
 *    vertical tab vs other control chars, empty/whitespace-only text,
 *  - invalid UTF-8 rows built with `cast(binary as string)`: the string
 *    path sees them decoded (U+FFFD per malformed sequence), so the
 *    reference runs on the decoded string Spark hands back.
 */
class ByteTokenizeABSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  import ByteTokenizeABSpec.{adversarial, invalidUtf8}

  private def texts: Seq[String] = {
    val fromFixture = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    fromFixture ++ adversarial
  }

  // ---- the r19 reference implementations (string path), verbatim ----
  private val nonWs = java.util.regex.Pattern.compile(graft.Tok.Pattern)
  private def refTokenize(s: String): Array[String] = {
    val m = nonWs.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }
  private def refShingleHashes(s: String, n: Int): Seq[Long] = {
    val toks = refTokenize(s)
    if (toks.length < n) return Seq.empty
    val bytes = toks.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    for (i <- 0 to toks.length - n) seen.add(Fnv64.hashJoined(bytes, i, n))
    import scala.jdk.CollectionConverters._
    seen.iterator().asScala.map(_.longValue).toSeq
  }
  private def refShingles(s: String, n: Int): Seq[String] = {
    val toks = refTokenize(s)
    if (toks.length < n) return Seq.empty
    val seen = new java.util.LinkedHashSet[String]()
    for (i <- 0 to toks.length - n)
      seen.add((i until i + n).map(toks).mkString(" "))
    import scala.jdk.CollectionConverters._
    seen.iterator().asScala.toSeq
  }
  private def md5Head15(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    for (b <- 0 until 8) v = (v << 8) | (d(b) & 0xffL)
    v >>> 4
  }
  private def refGramHashes(s: String, k: Int): Seq[Long] = {
    val toks = refTokenize(s)
    val n = toks.length - k + 1
    if (n <= 0) return Seq.empty
    (0 until n).map(i => md5Head15((i until i + k).map(toks).mkString(" ")))
  }
  private def refWinnow(s: String, k: Int, w: Int): Seq[Long] = {
    val toks = refTokenize(s)
    val nGrams = toks.length - k + 1
    if (nGrams <= 0) return Seq.empty
    val hs = (0 until nGrams).map(i => md5Head15((i until i + k).map(toks).mkString(" ")))
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (nGrams >= w) for (j <- 0 to nGrams - w) seen.add(hs.slice(j, j + w).min)
    else hs.foreach(seen.add(_))
    import scala.jdk.CollectionConverters._
    seen.iterator().asScala.map(_.longValue).toSeq
  }

  test("byte-range kernels == r19 string path over all sf0.1 docs + adversarial inputs") {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"),
        ShingleHashes.shingle_hashes(spark, col("text"), 3).as("sh"),
        Shingles.shingles(spark, col("text"), 3).as("ss"),
        GramHashes.gram_hashes(spark, col("text"), 3).as("gh"),
        WinnowFps.winnow_fps(spark, col("text"), 3, 4).as("wf"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getSeq[String](2), r.getSeq[Long](3), r.getSeq[Long](4))))
      .toMap
    val all = texts.zipWithIndex
    var checked = 0
    for ((t, i) <- all) {
      val (sh, ss, gh, wf) = got(i.toLong)
      assert(sh == refShingleHashes(t, 3), s"shingle_hashes diverged on input $i: ${t.take(60)}")
      assert(ss == refShingles(t, 3), s"shingles diverged on input $i: ${t.take(60)}")
      assert(gh == refGramHashes(t, 3), s"gram_hashes diverged on input $i: ${t.take(60)}")
      assert(wf == refWinnow(t, 3, 4), s"winnow_fps diverged on input $i: ${t.take(60)}")
      checked += 1
    }
    assert(checked > 1000, s"fixture unexpectedly small: $checked inputs")
  }

  test("byte-range kernels at n=1 and wide n match the reference on adversarial inputs") {
    import spark.implicits._
    val df = adversarial.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((n, w) <- Seq((1, 1), (2, 2), (5, 3))) {
      val got = df.select(col("id"),
          ShingleHashes.shingle_hashes(spark, col("text"), n).as("sh"),
          GramHashes.gram_hashes(spark, col("text"), n).as("gh"),
          WinnowFps.winnow_fps(spark, col("text"), n, w).as("wf"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2), r.getSeq[Long](3))))
        .toMap
      for ((t, i) <- adversarial.zipWithIndex) {
        val (sh, gh, wf) = got(i.toLong)
        assert(sh == refShingleHashes(t, n), s"shingle_hashes n=$n diverged on: $t")
        assert(gh == refGramHashes(t, n), s"gram_hashes n=$n diverged on: $t")
        assert(wf == refWinnow(t, n, w), s"winnow_fps n=$n w=$w diverged on: $t")
      }
    }
  }

  test("byte-range kernels == string path on invalid UTF-8 (decoded with U+FFFD)") {
    val df = ByteTokenizeABSpec.invalidDf(spark)
    for ((n, w) <- Seq((1, 1), (2, 2), (3, 4))) {
      val rows = df.select(col("text"),
          ShingleHashes.shingle_hashes(spark, col("text"), n).as("sh"),
          Shingles.shingles(spark, col("text"), n).as("ss"),
          GramHashes.gram_hashes(spark, col("text"), n).as("gh"),
          WinnowFps.winnow_fps(spark, col("text"), n, w).as("wf"))
        .collect()
      assert(rows.length == invalidUtf8.length)
      for (r <- rows) {
        val t = r.getString(0) // the decoded string the string path tokenizes
        assert(t.contains('\uFFFD'), s"fixture row is not malformed UTF-8: $t")
        assert(r.getSeq[Long](1) == refShingleHashes(t, n), s"shingle_hashes n=$n diverged on: $t")
        assert(r.getSeq[String](2) == refShingles(t, n), s"shingles n=$n diverged on: $t")
        assert(r.getSeq[Long](3) == refGramHashes(t, n), s"gram_hashes n=$n diverged on: $t")
        assert(r.getSeq[Long](4) == refWinnow(t, n, w), s"winnow_fps n=$n w=$w diverged on: $t")
      }
    }
  }
}

object ByteTokenizeABSpec {
  val adversarial: Seq[String] = Seq(
    "", " ", "\t\n\u000B\f\r", "a", " a ", "a b", "a  b", "a\u000Bb",
    "a\u0000b", "\u0001\u0002 \u0003", // control chars <= U+0020 that are NOT ws
    "héllo wörld héllo", "日本語 テスト 日本語 テスト 语言",
    "👍 emoji 👍🏽 modifier zwj 🧑‍🚀 done",
    "é combining é acute", "mixed　ideographic　space", // U+3000 is NOT in the class
    "tab\tsep\tvals", "trail ws   ", "   lead ws", "\r\n crlf \r\n",
    "xx yy zz xx yy zz xx yy", "one")

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def a(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Malformed UTF-8 rows: a lone 0xff, truncated 2-, 3- and 4-byte
    * sequences (alone, before whitespace, at the end), an invalid byte
    * inside an otherwise valid token, overlong, surrogate and
    * above-U+10FFFF encodings, a stray continuation byte, and distinct
    * invalid tokens that decode to the same string. */
  val invalidUtf8: Seq[Array[Byte]] = Seq(
    b(0xff),
    a("a ") ++ b(0xff) ++ a(" b"),
    a("a ") ++ b(0xff) ++ a("b ") ++ b(0xc3) ++ a(" x") ++ b(0xe2, 0x82),
    b(0xc3), a("x ") ++ b(0xc3), b(0xc3) ++ a(" x"),
    b(0xe2, 0x82), a("x") ++ b(0xe2, 0x82) ++ a(" y"), b(0xe2, 0x82) ++ a("\t") ++ b(0x82),
    b(0xf0, 0x9f, 0x98), b(0xf0, 0x9f, 0x98) ++ a(" ok"),
    a("ab") ++ b(0xff) ++ a("cd ef"), a("h") ++ b(0xc3, 0xa9, 0xfe) ++ a("llo w") ++ b(0xc3, 0xb6) ++ a("rld"),
    b(0xc0, 0xaf) ++ a(" overlong"), b(0xe0, 0x80, 0xaf), b(0xed, 0xa0, 0x80) ++ a(" surrogate"),
    b(0xf4, 0x90, 0x80, 0x80) ++ a(" big"), b(0xf5, 0x80), b(0x80) ++ a(" stray"),
    b(0xff) ++ a(" ") ++ b(0xfe) ++ a(" ") ++ b(0xff) ++ a(" ") ++ b(0xfe),
    a("x ") ++ b(0xff) ++ a(" y x ") ++ b(0xfe) ++ a(" y"),
    a("日本") ++ b(0xe6, 0x97) ++ a(" 語 ") ++ b(0xe8, 0xaa, 0x9e, 0x9e))

  /** (id, text) with each [[invalidUtf8]] row as `cast(binary as string)`. */
  def invalidDf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    invalidUtf8.zipWithIndex.map { case (bs, i) => (i.toLong, bs) }.toDF("id", "bin")
      .select(col("id"), col("bin").cast("string").as("text"))
  }
}
