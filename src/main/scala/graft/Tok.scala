package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions.col
import graft.functions.{TokCount, TokIds}

/** The ONE cross-engine tokenizer definition (ADVICE r9).
  *
  * Tokens are maximal runs of non-(ASCII-whitespace), with whitespace
  * spelled as the explicit class `[ \t\n\x0B\f\r]` rather than `\s`:
  * Java's default `\s` and RE2's `\s` disagree at the edges (Java
  * includes vertical tab U+000B, RE2 does not), so a `\S+` written in a
  * Spark expression and a `\S+` written in a DuckDB oracle can tokenize
  * the same document differently. The explicit class below parses
  * identically in both engines — Java and RE2 both support `\t \n \f \r`
  * and the `\x0B` hex escape inside a character class, and neither
  * applies Unicode space classes to it — so one pattern string serves
  * both sides.
  *
  * `Pattern` is semantically IDENTICAL to Java's `\S+` (Java `\s` is
  * exactly `[ \t\n\x0B\f\r]` without UNICODE_CHARACTER_CLASS), so
  * switching the Spark side to it changes nothing; switching the oracles
  * to it aligns RE2's vertical-tab edge to Spark's.
  */
object Tok {
  /** Regex source text, identical in Java and RE2: `[^ \t\n\x0B\f\r]+` */
  val Pattern: String = "[^ \\t\\n\\x0B\\f\\r]+"

  /** The whitespace characters themselves, escaped for splicing into a
    * larger character class (e.g. `"[^A-Za-z0-9" + WsChars + "]"`). */
  val WsChars: String = " \\t\\n\\x0B\\f\\r"

  /** One ASCII-whitespace char: `[ \t\n\x0B\f\r]` (== Java `\s`). */
  val Ws: String = s"[$WsChars]"

  /** A run of ASCII whitespace: `[ \t\n\x0B\f\r]+` (== Java `\s+`). */
  val WsPlus: String = Ws + "+"

  /** The same pattern quoted as a SQL single-quoted literal, for
    * splicing into DuckDB oracle text (interpolated builders only —
    * stripMargin oracles carry the class spelled out inline). */
  val SqlLit: String = "'[^ \\t\\n\\x0B\\f\\r]+'"

  /** Model token ids of `text`: the md5 id of each of its first
    * `maxTokens` tokens, mod `mod` ([[graft.functions.TokIds]]) — the
    * engine side of the oracle's
    * `CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % mod`. */
  def ids(text: Column, mod: Long, maxTokens: Int = Int.MaxValue): Column =
    column(TokIds(expression(text), mod, maxTokens))

  /** Token count of `text` without hashing ([[graft.functions.TokCount]]). */
  def count(text: Column): Column = column(TokCount(expression(text)))

  /** `count(text) >= n`, scanning each row only up to its n-th token.
    * Filter rows on it, not on `size(ids(...))`, so each row is hashed
    * once. */
  def atLeast(text: Column, n: Int): Column = column(TokCount(expression(text), n)) >= n

  /** The `docs` whose `text` has at least `minTokens` tokens, spread over
    * the session's cores ([[Spread]]) before any tokenizing projection,
    * so that each row is hashed once, in the task that runs its kernel. */
  def spread(docs: DataFrame, minTokens: Int = 1): DataFrame =
    Spread(docs.filter(atLeast(col("text"), minTokens)))

  /** A torch model's input: `doc_id` and the `tok_ids` of the first
    * `maxLen` tokens of `text`, mod `vocab`, for the documents with at
    * least `minTokens` tokens, hashed after the [[spread]]. */
  def input(docs: DataFrame, vocab: Long, maxLen: Int = Int.MaxValue,
      minTokens: Int = 1): DataFrame =
    spread(docs, minTokens).select(col("doc_id"), ids(col("text"), vocab, maxLen).as("tok_ids"))
}
