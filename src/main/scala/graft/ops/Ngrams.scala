package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared word-n-gram construction — the one sliding-window-over-split-words
  * idiom used by shingling (Dedup) and frequency tables (ProfileOps), kept
  * in a single place so tokenization fixes cannot silently diverge between
  * call sites. Splits on single spaces (matching the oracle's
  * string_split), 1-based windows. Callers must pre-filter rows with fewer
  * than `n` words (`size(split(c, " ")) >= n`) — Spark's sequence(1, 0)
  * yields a DESCENDING range, not an empty one. */
object Ngrams {

  /** Array of space-joined word n-grams of `textCol`. */
  def wordNgrams(textCol: Column, n: Int): Column = {
    val ws = split(textCol, " ")
    transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k =>
        element_at(ws, (i + k).cast("int"))): _*))
  }
}
