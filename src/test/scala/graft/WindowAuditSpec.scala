package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec, GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** A window with no PARTITION BY moves its whole input to one task, so
  * at scale it is legal only over a cardinality-BOUNDED input.
  * Boundedness walks the window child's "cardinality spine", the chain of
  * operators that determine how many rows reach the single window task:
  *
  *  - an aggregate on the spine bounds it, UNLESS its grouping keys
  *    include a fact-identity column (doc_id, vec_id, event_id,
  *    o_orderkey, l_orderkey, o_custkey, l_partkey): grouping a fact by a
  *    key whose cardinality grows with the fact (its own row identity, or
  *    the customer and part keys, which scale with the schema) is still
  *    fact cardinality, e.g. per-doc scores fed to a global rank;
  *  - a limit / top-k (GlobalLimit, CollectLimit, TakeOrderedAndProject)
  *    bounds it;
  *  - broadcast joins descend their STREAMED side only (the build side is
  *    already broadcast-bounded and does not set output cardinality);
  *    other joins and unions require every child spine bounded;
  *  - a cached relation (InMemoryTableScan: session memos, stored
  *    artifacts) is as bounded as the plan that built it, so the walk
  *    descends into its cached plan;
  *  - a fact-table scan (lineitem, orders, events, documents, embeddings)
  *    reached with none of the above on the way is UNBOUNDED → fail;
  *  - dimension scans and local relations are bounded.
  *
  * Checked on the static physical plan (`sparkPlan`) of every declared
  * batch query, including the plans of the cached relations it reads:
  * window placement does not depend on AQE re-planning, so no execution
  * is needed. Streaming gates are excluded (their `queries` entries
  * replay a stream at call time; that family's state ops are all keyed,
  * never globally sorted).
  */
class WindowAuditSpec extends AnyFunSuite {
  import TestSpark._

  private val factMarkers = Seq(
    "lineitem.parquet", "orders.parquet", "events.parquet",
    "documents.parquet", "embeddings.parquet")

  private val factIdentity =
    Set("doc_id", "vec_id", "event_id", "o_orderkey", "l_orderkey", "o_custkey", "l_partkey")

  /** True iff the plan rooted at `p` yields a cardinality-bounded row set
    * for single-task consumption (see class doc for the walk rules). */
  private def bounded(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      val ids = a.groupingExpressions.flatMap(_.references.map(_.name))
      ids.isEmpty || !ids.exists(factIdentity.contains) || a.children.forall(bounded)
    case _: GlobalLimitExec | _: CollectLimitExec | _: TakeOrderedAndProjectExec =>
      true
    case j: BroadcastHashJoinExec =>
      bounded(j.buildSide match {
        case BuildLeft  => j.right
        case BuildRight => j.left
      })
    case j: BroadcastNestedLoopJoinExec =>
      bounded(j.buildSide match {
        case BuildLeft  => j.right
        case BuildRight => j.left
      })
    case u: UnionExec => u.children.forall(bounded)
    case s: FileSourceScanExec =>
      val paths = s.relation.location.rootPaths.mkString(",")
      !factMarkers.exists(paths.contains)
    case m: InMemoryTableScanExec => bounded(m.relation.cachedPlan)
    // a cached plan is adaptive; its stages are leaves that hold their plan
    case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
    case q: QueryStageExec => bounded(q.plan)
    case r: ReusedExchangeExec => bounded(r.child)
    case leaf if leaf.children.isEmpty => true
    case other => other.children.forall(bounded)
  }

  test("no declared batch query plans a partition-less window over non-aggregated fact input") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("stream_"))
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        PlanTest.flatten(df.queryExecution.sparkPlan, intoCached = true).foreach {
          case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
            offenders += s"$name: ${w.windowExpression.mkString(", ").take(120)}"
          case _ => ()
        }
      }
    assert(offenders.isEmpty,
      s"partition-less WindowExec over non-aggregated fact input (single-task sort " +
        s"of a fact table at scale):\n  ${offenders.mkString("\n  ")}")
  }
}
