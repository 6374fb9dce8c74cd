package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact ranks in a total order without a window that funnels its input
  * through one task.
  *
  * `row_number()`, `ntile(n)` or a running `sum` over a bare `ORDER BY`
  * moves every row to one task, and `PARTITION BY` a column of few values
  * (an order status, a year) moves each value's rows to one task.
  * [[ranked]] instead range-exchanges the rows on the whole order
  * (`groupBy`, then `orderBy`) and sorts within each range, so the ranges
  * follow the order and each group's rows are consecutive in it. One pass
  * then counts, per range, each group's rows and running-sum totals (a few
  * numbers per range, brought back by `collect()`); their prefix sums over the
  * ranges before it are where a range's rows start. A second pass, the
  * frame itself, numbers each row from there. No step sorts in one task
  * and nothing is joined back. [[SurrogateKeys.scalable]] is the same scan
  * without the range exchange.
  *
  * Ranks are exact when no two rows of a group tie on all of `orderBy`.
  * `groupBy` columns must have few distinct values: their per-range
  * totals are collected. Building the frame runs the counting pass. */
object Ranks {

  /** `df` with `rank`, each row's 1-based position in the ascending order
    * of `orderBy` (sort orders such as `desc(...)` are allowed) within its
    * group of `groupBy` (all rows when empty), `size`, the group's row
    * count, and for each BIGINT column `c` of `running`, `c_running`: the
    * sum of `c` over the group's rows up to and including this one (SQL's
    * `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`; nulls add 0). */
  def ranked(df: DataFrame, groupBy: Seq[String], orderBy: Seq[Column],
      rank: String, size: String, running: Seq[String] = Nil): DataFrame = {
    val keys = groupBy.map(col) ++ orderBy
    val sorted = df
      .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
      .sortWithinPartitions(keys: _*)
    scan(sorted, groupBy, rank, Some(size), running)
  }

  /** `df` with `as`: SQL's `ntile(n)` over `orderBy` within each group of
    * `groupBy`, as a BIGINT. From the rank r among s rows it is closed
    * form: the first s mod n tiles hold ⌈s/n⌉ rows, the rest ⌊s/n⌋ (SQL
    * engines all define ntile so). */
  def ntile(df: DataFrame, n: Int, groupBy: Seq[String], orderBy: Seq[Column],
      as: String): DataFrame = {
    val (r, s) = (col("__rank"), col("__size"))
    val m = s % n             // tiles that hold the larger size
    val small = floor(s / n)  // ⌊s/n⌋, 0 when s < n
    val big = small + 1
    ranked(df, groupBy, orderBy, "__rank", "__size")
      .withColumn(as, when(r <= m * big, floor((r - 1) / big) + 1)
        .otherwise(m + floor((r - m * big - 1) / small) + 1).cast("long"))
      .drop("__rank", "__size")
  }

  /** `df` with `as`: the running sum of the BIGINT column `c` in the order
    * of `orderBy` (see [[ranked]]). */
  def runningSum(df: DataFrame, orderBy: Seq[Column], c: String, as: String): DataFrame =
    ranked(df, Nil, orderBy, "__rank", "__size", running = Seq(c))
      .withColumnRenamed(s"${c}_running", as)
      .drop("__rank", "__size")

  /** `df` with `rank`, each row's 1-based position within its group of
    * `groupBy` in partition order (partition index, then row order within
    * the partition), the group's row count as `size` if given, and the
    * running sums of `running`. Exact and deterministic when the partitions
    * are: each group's rows must be consecutive in that order for the
    * ranks to be ranks within the group. */
  private[ops] def scan(df: DataFrame, groupBy: Seq[String], rank: String,
      size: Option[String], running: Seq[String]): DataFrame = {
    val rows = df.rdd
    val (gs, rs) = (groupBy.map(df.schema.fieldIndex), running.map(df.schema.fieldIndex))
    def group(row: Row): Row = if (gs.isEmpty) Row.empty else Row.fromSeq(gs.map(row.get))
    // per partition and group: the row count, then the running columns' sums
    val totals: Array[Map[Row, Array[Long]]] = rows.mapPartitions { it =>
      val acc = scala.collection.mutable.Map[Row, Array[Long]]()
      it.foreach { row =>
        val a = acc.getOrElseUpdate(group(row), new Array[Long](1 + rs.size))
        a(0) += 1
        rs.indices.foreach(j => if (!row.isNullAt(rs(j))) a(1 + j) += row.getLong(rs(j)))
      }
      Iterator(acc.toMap)
    }.collect()
    def plus(a: Array[Long], b: Array[Long]) = a.indices.map(j => a(j) + b(j)).toArray
    // where each partition's rows of each group start: the totals before it
    val starts = totals.scanLeft(Map.empty[Row, Array[Long]]) { (before, part) =>
      before ++ part.map { case (g, t) => g -> plus(before.getOrElse(g, new Array[Long](t.length)), t) }
    }
    val sizes = starts.last.map { case (g, t) => g -> t(0) }
    val numbered = rows.mapPartitionsWithIndex { (p, it) =>
      val acc = scala.collection.mutable.Map[Row, Array[Long]]()
      it.map { row =>
        val g = group(row)
        val a = acc.getOrElseUpdate(g, starts(p).get(g).map(_.clone).getOrElse(new Array[Long](1 + rs.size)))
        a(0) += 1
        rs.indices.foreach(j => if (!row.isNullAt(rs(j))) a(1 + j) += row.getLong(rs(j)))
        Row.fromSeq(row.toSeq ++ (a(0) +: size.map(_ => sizes(g)).toSeq) ++ a.tail)
      }
    }
    val added = (rank +: size.toSeq) ++ running.map(c => s"${c}_running")
    df.sparkSession.createDataFrame(numbered,
      StructType(df.schema.fields ++ added.map(StructField(_, LongType, nullable = false))))
  }
}
