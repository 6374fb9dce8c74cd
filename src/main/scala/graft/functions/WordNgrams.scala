package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst table-generating function (UDTF): `word_ngrams(text, n)`
  * emits one row per word n-gram of a whitespace-tokenized string —
  * completing the extension-type matrix alongside [[ArrayDot]] (scalar,
  * codegen'd), [[MisraGriesAgg]] (imperative aggregate), and
  * [[graft.plans.IntervalJoin]] (whole logical+physical operator).
  *
  * Versus the declarative route (split → sequence explode → slice →
  * concat_ws), the generator produces each n-gram string directly from one
  * tokenization — no intermediate token-array duplication per output row,
  * and no higher-order-function lambdas (the interpreted-HOF trap in
  * NOTES.md). Generators are never codegen'd by Spark (Generate is its own
  * physical node), so CodegenFallback costs nothing here.
  *
  * Semantics: strings shorter than n words yield no rows (matching the
  * slice-based formulation); a NULL input yields no rows (like explode of
  * NULL); n must be a foldable positive literal.
  */
case class WordNgrams(child: Expression, nExpr: Expression)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, nExpr)
  override def prettyName: String = "word_ngrams"

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"word_ngrams requires a string column, got ${child.dataType.catalogString}")
    else if (nExpr.dataType != IntegerType || !nExpr.foldable ||
        nExpr.eval() == null) // a foldable NULL would NPE at first eval
      TypeCheckResult.TypeCheckFailure("word_ngrams requires a non-null literal int n")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val n: Int = nExpr.eval().asInstanceOf[Number].intValue()

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null || n <= 0) return Iterator.empty
    // limit -1 keeps trailing empty tokens, matching Spark SQL split() and
    // DuckDB string_split (Java's 1-arg split drops them)
    val words = raw.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (words.length < n) Iterator.empty
    else (0 to words.length - n).iterator.map { i =>
      InternalRow(UTF8String.fromString(words.slice(i, i + n).mkString(" ")))
    }
  }

  override protected def withNewChildrenInternal(
    newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), nExpr = newChildren(1))
}
