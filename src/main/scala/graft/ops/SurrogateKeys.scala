package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surrogate-key assignment (D1 in SURVEY.md §7.4).
  *
  * The reference assigns contiguous sequential SKs two ways: pandas
  * `range(1, 1+len(df))` (etl_script_dlh/etl_lakehouse.py:88,:92,:97) and
  * MySQL AUTO_INCREMENT harvested by a read-back
  * (etl_script_dwh/etl_dwh.py:108-115). Both are inherently sequential.
  *
  * `monotonically_increasing_id` is non-contiguous and partition-dependent,
  * so it cannot reproduce them. We provide two strategies:
  *
  *  - [[dense]] — `row_number()` over a global sort on the natural key:
  *    contiguous, deterministic, oracle-reproducible
  *    (`row_number() OVER (ORDER BY k)` in any SQL engine). The window has an
  *    empty partition spec, so Spark funnels the dim through ONE task. That
  *    is fine for dimensions (the only place the reference assigns SKs —
  *    dims are ≤~11k rows there and ≤ a few million at any realistic scale),
  *    but must never be applied to a fact table.
  *
  *  - [[scalable]] — sort-free two-pass `zipWithIndex`-style assignment:
  *    per-partition counts are collected (tiny: one Long per partition), then
  *    each row gets `offset(partition) + local index` ([[Ranks]]' scan). O(1) shuffle, keeps
  *    full parallelism, contiguous; deterministic only up to the incoming
  *    partition order, so pair it with a `repartitionByRange` on the natural
  *    key when determinism matters. This is the 100 TB path.
  */
object SurrogateKeys {

  /** Contiguous deterministic SKs: 1..n in `orderKeys` order. */
  def dense(df: DataFrame, skName: String, orderKeys: Column*): DataFrame =
    df.withColumn(skName, row_number().over(Window.orderBy(orderKeys: _*)))

  /** Contiguous SKs without a global sort — the at-scale variant.
    * Row order (and therefore key assignment) follows the existing
    * partitioning; `sortWithinPartitions` + `repartitionByRange` upstream
    * makes it fully deterministic without a single-task window (the scan
    * [[Ranks.ranked]] runs after exactly that exchange). */
  def scalable(df: DataFrame, skName: String): DataFrame =
    Ranks.scan(df, Nil, skName, None, Nil)
}
