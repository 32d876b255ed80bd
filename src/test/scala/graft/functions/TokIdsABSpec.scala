package graft.functions

import graft.{SparkTestSession, Tok}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Bit-identity A/B for the native token-id kernel (`Tok.ids`) against
 * the Catalyst idiom it replaced in the torch queries, evaluated in
 * the SAME session (not re-implemented):
 * {{{
 * slice(transform(regexp_extract_all(text, Tok.Pattern, 0),
 *   tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % mod), 1, maxTokens)
 * }}}
 * Element-for-element equality over every sf0.1 document,
 * [[ByteTokenizeABSpec]]'s adversarial strings and malformed UTF-8
 * rows, and null / empty / whitespace-only text, for every
 * maxTokens in {1, 12, > token count, unbounded} and mod in
 * {8, 32, 64, 2^31-1}. `Tok.count` is checked against
 * `size(regexp_extract_all(...))` on the same rows, and the early-stop
 * `Tok.atLeast(text, n)` against the full `Tok.count(text) >= n` for
 * n in {1, 2, 10}.
 */
class TokIdsABSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val mods = Seq(8L, 32L, 64L, Int.MaxValue.toLong)
  private val caps = Seq(1, 12, 100000)

  private def words(text: Column): Column =
    call_function("regexp_extract_all", text, lit(Tok.Pattern), lit(0))
  private def idiom(text: Column, mod: Long): Column =
    transform(words(text), tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % mod)

  /** (id, text) rows: the sf0.1 documents, then the edge cases. */
  private def inputs: DataFrame = {
    import spark.implicits._
    // the sf0.1 documents table as vendored in the checkout for the benchmark
    val docs = spark.read.parquet("graftbench/data/sf0.1/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val base = docs.agg(max(col("id"))).head().getLong(0) + 1
    val edge = (ByteTokenizeABSpec.adversarial.map(Option(_)) ++
        Seq(None, Some(""), Some(" \t\n\u000B\f\r "), Some("\u000B")))
      .zipWithIndex.map { case (t, i) => (base + i, t.orNull) }.toDF("id", "text")
    val invalid = ByteTokenizeABSpec.invalidDf(spark)
      .select((col("id") + base + 1000).as("id"), col("text"))
    docs.unionByName(edge).unionByName(invalid)
  }

  test("tok_ids == slice(transform(regexp_extract_all, md5 idiom)) on every input, mod and cap") {
    val df = inputs
    val cols = for (m <- mods; c <- caps :+ Int.MaxValue) yield
      (m, c, Tok.ids(col("text"), m, c), slice(idiom(col("text"), m), 1, c))
    val rows = df.select(col("id") +: col("text").isNull.as("nul") +:
        Tok.count(col("text")).as("n") +: size(words(col("text"))).as("ref_n") +:
        cols.flatMap { case (_, _, got, ref) => Seq(got, ref) }: _*).collect()
    assert(rows.length > 5000, s"fixture unexpectedly small: ${rows.length} rows")
    var tokens = 0L
    for (r <- rows) {
      val id = r.getLong(0)
      if (r.getBoolean(1)) {
        assert(r.isNullAt(2), s"tok_count of null text must be null")
        for (j <- cols.indices) assert(r.isNullAt(4 + 2 * j), s"tok_ids of null text must be null")
      } else {
        assert(r.getInt(2) == r.getInt(3), s"tok_count diverged on row $id")
        tokens += r.getInt(2)
        for (((m, c, _, _), j) <- cols.zipWithIndex) {
          val got = r.getSeq[Long](4 + 2 * j)
          val ref = r.getSeq[Long](5 + 2 * j)
          assert(got == ref, s"tok_ids(mod=$m, maxTokens=$c) diverged on row $id")
        }
      }
    }
    assert(tokens > 100000, s"too few tokens checked: $tokens")
  }

  test("Tok.atLeast(text, n) == (Tok.count(text) >= n) on every input, n in {1, 2, 10}") {
    val ns = Seq(1, 2, 10)
    val rows = inputs.select(col("id") +: ns.flatMap(n =>
      Seq(Tok.atLeast(col("text"), n), Tok.count(col("text")) >= n)): _*).collect()
    assert(rows.length > 5000, s"fixture unexpectedly small: ${rows.length} rows")
    for ((n, j) <- ns.zipWithIndex) {
      for (r <- rows) assert(r.get(1 + 2 * j) == r.get(2 + 2 * j),
        s"atLeast(n=$n) diverged on row ${r.getLong(0)}: ${r.get(1 + 2 * j)} vs ${r.get(2 + 2 * j)}")
      val outcomes = rows.map(r => Option(r.get(1 + 2 * j))).toSet
      assert(outcomes == Set(Some(true), Some(false), None), s"n=$n does not split the rows: $outcomes")
    }
  }
}
