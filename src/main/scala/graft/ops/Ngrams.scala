package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Word n-grams over a document's token array: split on single spaces
  * (the oracle's string_split), 1-based windows, shared by shingling
  * (Dedup) and repetition scoring (CorpusOps). */
object Ngrams {

  /** Evaluates `value` once per row and applies `f` to it as a lambda
    * variable, the one element of a `transform`. Catalyst eliminates no
    * common subexpression inside a lambda, and CollapseProject inlines a
    * column computed by an earlier projection into the lambda that reads
    * it, so a row-invariant value used inside a lambda is recomputed for
    * every array element unless it is bound first. Invariant: a lambda
    * never re-derives a row-invariant value; it reads a bound variable, a
    * column or a literal (`LambdaAuditSpec`). */
  def bind(value: Column)(f: Column => Column): Column =
    element_at(transform(array(value), f), 1)

  /** Array of adjacent space-joined word n-grams of `text`, empty below `n`
    * words (Spark's `sequence(1, 0)` counts down to `[1, 0]` rather than
    * returning an empty array like DuckDB's generate_series). */
  def wordNgrams(text: Column, n: Int): Column = bind(split(text, " ")) { words =>
    when(size(words) >= n, transform(sequence(lit(1), size(words) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(words, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }
}
