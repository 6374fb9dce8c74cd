package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Ranks

/** [[Ranks]] equals the windows it replaces: rank, running sum and
  * `ntile(n)` over a total order, with and without groups, on inputs
  * spread over many range partitions and on inputs smaller than a tile
  * count. */
class RanksSpec extends AnyFunSuite {
  import TestSpark._

  /** `rows` rows whose leading key `v` has heavy ties, broken by `id`, in
    * groups `g` of unequal size. */
  private def frame(rows: Long): DataFrame =
    spark.range(0L, rows, 1L, 4)
      .select(col("id"), pmod(xxhash64(col("id")), lit(97L)).as("v"), (col("id") % 13).as("w"),
        (pmod(col("id"), lit(7L)) / 3).cast("long").as("g"))

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().map(_.toSeq).toSeq

  Seq(20000L, 5L, 0L).foreach { rows =>
    test(s"ranks, group sizes and running sums match the windows ($rows rows)") {
      val df = frame(rows)
      val w = Window.orderBy(desc("v"), col("id"))
      val wg = Window.partitionBy("g").orderBy(desc("v"), col("id"))
      val got = Ranks.ranked(df, Seq("g"), Seq(desc("v"), col("id")), "rank", "size")
      val expected = df
        .withColumn("rank", row_number().over(wg).cast("long"))
        .withColumn("size", count(lit(1)).over(Window.partitionBy("g")))
      assert(sorted(got.select("id", "rank", "size")) == sorted(expected.select("id", "rank", "size")))
      val running = Ranks.runningSum(df, Seq(desc("v"), col("id")), "w", "w_running")
      val expectedRunning = df.withColumn("w_running",
        sum("w").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(sorted(running.select("id", "w_running")) == sorted(expectedRunning.select("id", "w_running")))
    }
  }

  Seq(20000L, 5L).foreach { rows =>
    test(s"ntile matches SQL ntile for every tile count, with and without groups ($rows rows)") {
      val df = frame(rows)
      Seq(1, 3, 4, 7, 10, 64).foreach { n =>
        Seq(Nil, Seq("g")).foreach { groups =>
          val w = Window.partitionBy(groups.map(col): _*).orderBy(col("v"), col("id"))
          val expected = df.withColumn("t", ntile(n).over(w).cast("long"))
          val got = Ranks.ntile(df, n, groups, Seq(col("v"), col("id")), "t")
          assert(sorted(got.select("id", "t")) == sorted(expected.select("id", "t")),
            s"ntile($n) grouped by $groups")
        }
      }
    }
  }
}
