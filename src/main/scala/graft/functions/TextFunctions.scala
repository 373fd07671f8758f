package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.{ColumnBridge, UnicodeNormalize}

/** Column-API surface and SQL builder for graft's native text
  * functions (expression implementation:
  * org.apache.spark.sql.graft.UnicodeNormalize).
  */
object TextFunctions {

  /** `graft_normalize(text[, form])` — form defaults to NFC (what
    * DuckDB's nfc_normalize implements); NFKC is the usual choice
    * for dedup keys when compatibility equivalence should collapse.
    */
  private[functions] val normalizeBuilder: Seq[Expression] => Expression = {
    case Seq(c) => UnicodeNormalize(c, "NFC")
    case Seq(c, f) => UnicodeNormalize(c, String.valueOf(f.eval()))
    case other => throw new IllegalArgumentException(
      s"graft_normalize expects 1 or 2 arguments, got ${other.size}")
  }

  def unicode_normalize(text: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalize(ColumnBridge.expression(text), form))

  /** Lower-cased character bigrams (native per-row loop — see
    * org.apache.spark.sql.graft.CharBigrams).
    */
  def char_bigrams(text: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.CharBigrams(ColumnBridge.expression(text)))

  /** Sliding word n-grams over a token array (native per-row loop —
    * see org.apache.spark.sql.graft.WordGrams).
    */
  def word_grams(tokens: Column, n: Int): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.WordGrams(ColumnBridge.expression(tokens), n))

  /** Sliding character n-grams with SQL substring codepoint
    * semantics (native per-row loop — see
    * org.apache.spark.sql.graft.CharNgrams).
    */
  def char_ngrams(text: Column, n: Int): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.CharNgrams(ColumnBridge.expression(text), n))

  /** Sliding word n-gram XXH64 hashes (exact multi-arg xxhash64 seed
    * chain — see org.apache.spark.sql.graft.WordGramXxhash).
    */
  def word_gram_xxhash(tokens: Column, n: Int): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.WordGramXxhash(ColumnBridge.expression(tokens), n))
}
