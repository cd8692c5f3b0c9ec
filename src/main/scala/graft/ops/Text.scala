package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The text kernel every operator pack shares: the whitespace
  * tokenizer, the canonicalizer and the word n-gram builder. The
  * DuckDB oracles spell the same tokenizer and n-grams as the
  * `WORDS(expr)` / `GRAMS(ws, n)` macros ([[graft.Dsl.expandOracle]]),
  * so both engines tokenize one way.
  */
object Text {

  /** Words of `text`: split on single spaces, empty tokens dropped,
    * case kept. Callers that fold case pass `lower(text)`. */
  def words(text: Column): Column = filter(split(text, " "), w => w =!= "")

  /** Aggressive text canonicalization for near-exact dedup: casefold,
    * strip every non-alphanumeric to a space, collapse runs, trim.
    * Catches the re-encoded/re-punctuated copies exact sha-dedup
    * misses, far cheaper than MinHash (no shingles, no signatures).
    */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Word `n`-grams of the word array `ws`, in order, each joined by
    * one space. Needs `size(ws) >= n`: on a shorter array the slice
    * start reaches 0 and the expression throws, so every caller guards
    * (filters the short rows out, or substitutes its own value). */
  def grams(ws: Column, n: Int): Column =
    transform(sequence(lit(0), size(ws) - n), i => concat_ws(" ", slice(ws, i + 1, lit(n))))
}
