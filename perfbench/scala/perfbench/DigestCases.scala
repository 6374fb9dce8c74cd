package perfbench

import org.apache.spark.sql.Row

/** Prints `<case> <rows> <digest>` for fixed row sets, so the
  * normalization rules of [[Digest]] can be checked from the test suite
  * without a Spark session. */
object DigestCases {
  def cases: Seq[(String, Seq[String], Seq[Row])] = Seq(
    ("ab", Seq("a", "b"), Seq(Row(1L, "x"), Row(2L, "y"))),
    ("ba_columns_swapped", Seq("b", "a"), Seq(Row("x", 1L), Row("y", 2L))),
    ("ab_rows_reversed", Seq("a", "b"), Seq(Row(2L, "y"), Row(1L, "x"))),
    ("ab_duplicate_row", Seq("a", "b"), Seq(Row(1L, "x"), Row(2L, "y"), Row(2L, "y"))),
    ("float_1.00001", Seq("f"), Seq(Row(1.00001))),
    ("float_1.00004", Seq("f"), Seq(Row(1.00004))),
    ("float_1.0002", Seq("f"), Seq(Row(1.0002))),
    ("float_neg_zero", Seq("f"), Seq(Row(-0.0))),
    ("float_zero", Seq("f"), Seq(Row(0.0))),
    ("null_string", Seq("s"), Seq(Row(null))),
    ("empty_string", Seq("s"), Seq(Row(""))),
    ("marker_string", Seq("s"), Seq(Row("∅"))),
    ("empty_ab", Seq("a", "b"), Seq.empty),
    ("empty_f", Seq("f"), Seq.empty))

  def main(args: Array[String]): Unit =
    cases.foreach { case (name, cols, rows) =>
      val acc = Digest.of(cols, rows)
      println(s"$name ${acc.rows} ${acc.hex}")
    }
}
