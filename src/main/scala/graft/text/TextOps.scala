package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text primitives for the training-data pipeline operators:
  * whitespace tokenization and n-gram (token-shingle) generation, all
  * codegen-friendly built-ins (no UDFs) so they stay inside whole-stage
  * codegen at 100 TB scan scale.
  */
object TextOps {

  /** Whitespace tokens of `text` (trimmed; empty text → empty array). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array())
      .otherwise(split(trim(text), "\\s+"))

  /** Token n-gram shingles joined with single spaces; docs shorter than n
    * tokens yield no shingles.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array())

  /** Lowercased character trigrams (including word boundaries as spaces). */
  def charTrigrams(text: Column): Column = {
    val s = lower(regexp_replace(trim(text), "\\s+", " "))
    when(length(s) >= 3,
      transform(sequence(lit(1), length(s) - 2), i => s.substr(i, lit(3))))
      .otherwise(array())
  }
}
