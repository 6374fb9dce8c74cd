package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: a file write of driver-held rows gets one task per
  * split, not one per core.
  *
  * Spark plans a `LocalRelation` as a `LocalTableScanExec` sliced into
  * `min(rows, leafNodeDefaultParallelism)` partitions, and a file write
  * makes one file per partition: a 200-row append on 4 cores lands as 4
  * tiny files. Every later commit of the table hard-links each of them and
  * every read opens each footer, so the scan of an append-built table grows
  * with its file count rather than its bytes (the small-files cost Delta
  * Lake, VLDB 2020, names for tables that take small appends).
  *
  * For an `InsertIntoHadoopFsRelationCommand` whose query is a
  * non-streaming `LocalRelation` (the "LocalRelation early" batch has
  * already folded projections and filters into it) the rule wraps the
  * query in `Repartition(n, shuffle = false, _)` with
  * `n = max(1, ceil(sizeInBytes / spark.sql.files.maxPartitionBytes))`,
  * the split size a scan of the written table would use, capped at the
  * slice count Spark would use anyway. The coalesce adds no exchange.
  *
  * A caller's own `repartition`/`coalesce` is left alone (its query is
  * then not a bare `LocalRelation`), as is any write of a scanned or
  * computed input. The rule fires once per write: its output is no longer
  * a bare `LocalRelation`, and it only fires when it lowers the task count.
  *
  * Registered via [[graft.functions.GraftExtensions]]. */
case class LocalWrites(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case w: InsertIntoHadoopFsRelationCommand => w.query match {
      case r: LocalRelation if !r.isStreaming =>
        val n = splits(r)
        if (n < slices(r)) w.copy(query = Repartition(n, shuffle = false, r)) else w
      case _ => w
    }
  }

  /** Tasks the rows need at the scan split size. */
  private def splits(r: LocalRelation): Int = {
    val split = BigInt(math.max(1L, conf.filesMaxPartitionBytes))
    val n = (r.stats.sizeInBytes + split - 1) / split
    n.max(1).min(Int.MaxValue).toInt
  }

  /** Partitions `LocalTableScanExec` would slice the rows into. */
  private def slices(r: LocalRelation): Int = {
    val leaf = conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(session.sparkContext.defaultParallelism)
    math.min(r.data.length, leaf)
  }
}
