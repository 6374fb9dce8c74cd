package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, ExprId, Expression, ExtractValue, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Ngrams

/** Catalyst eliminates no common subexpression inside a higher-order
  * function's lambda, so a row-invariant value computed there is computed
  * again for every array element: `element_at(split(text, " "), i)` in a
  * `transform` re-splits the whole document once per word. This audit walks
  * the optimized plan of every declared text-module query (memo plans
  * included) and fails on any lambda-body subexpression that reads no
  * lambda variable and is neither a literal nor a plain column read. */
class LambdaAuditSpec extends AnyFunSuite {
  import TestSpark._

  private val modules = Seq(ops.TextOps.queries, ops.CorpusOps.queries, ops.Dedup.queries,
    ops.TokenOps.queries, ops.Similarity.queries, ops.InvertedIndex.queries, ops.Boilerplate.queries,
    ops.SubstringDedup.queries, ops.Classifier.queries, queries.ProfileOps.queries)

  /** Lambda variables `e` reads that are not bound inside `e`. */
  private def freeLambdaVars(e: Expression): Set[ExprId] = e match {
    case v: NamedLambdaVariable => Set(v.exprId)
    case l: LambdaFunction =>
      freeLambdaVars(l.function) -- l.arguments.collect { case v: NamedLambdaVariable => v.exprId }
    case _ => e.children.flatMap(freeLambdaVars).toSet
  }

  private def columnRead(e: Expression): Boolean = e match {
    case _: Attribute => true
    case c: Cast => columnRead(c.child)
    case x: ExtractValue => columnRead(x.children.head)
    case _ => false
  }

  /** The largest subexpressions of `e`'s lambda bodies that are row-invariant
    * work: each nested lambda is audited on its own. */
  private def invariants(e: Expression): Seq[Expression] = {
    def walk(x: Expression): Seq[Expression] = x match {
      case _: LambdaFunction => Nil
      case _ if x.foldable || columnRead(x) => Nil
      case _ if freeLambdaVars(x).isEmpty => Seq(x)
      case _ => x.children.flatMap(walk)
    }
    e.collect { case l: LambdaFunction => walk(l.function) }.flatten
  }

  /** Every expression of `p`, its children, inner plans (cached relations,
    * adaptive plans) and subqueries. */
  private def expressionsOf(p: QueryPlan[_]): Seq[Expression] =
    p.expressions ++ (p.children ++ p.innerChildren ++ p.subqueries)
      .collect { case q: QueryPlan[_] => q }.flatMap(expressionsOf)

  test("no lambda in a text-module query re-derives a row-invariant value") {
    val audited = modules.flatten.filterNot(_._1.startsWith("stream_")).sortBy(_._1)
    val hits = audited.flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      expressionsOf(plan).flatMap(invariants).map(e => s"$name: ${e.sql.take(200)}")
    }.distinct
    info(s"${audited.size} queries audited")
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("Ngrams.wordNgrams splits its text once per row") {
    val plan = Tables.documents(spark, sf)
      .select(Ngrams.wordNgrams(col("text"), 3)).queryExecution.optimizedPlan
    val hits = expressionsOf(plan).flatMap(invariants)
    assert(hits.isEmpty, hits.map(_.sql).mkString("\n", "\n", ""))
  }
}
