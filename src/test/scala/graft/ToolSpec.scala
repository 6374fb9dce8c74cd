package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Tool` subcommands are functions of (session, args): they run
  * on the caller's session and leave it running. */
class ToolSpec extends AnyFunSuite {
  import TestSpark._

  private val q = "q1_sales_per_month"

  test("time materializes the query and returns three pass times") {
    val ts = Tool.time(spark, Seq(sf, q))
    assert(ts.size == 3 && ts.forall(t => t > 0 && !t.isInfinite))
    assert(!spark.sparkContext.isStopped)
  }

  test("explain writes the formatted plan of each query to its own file") {
    val out = Files.createTempDirectory("tool-explain")
    val files = Tool.explain(spark, Seq(sf, out.toString, "spec", q))
    assert(files == Seq(out.resolve(s"${q}_spec.txt")))
    assert(Files.readString(files.head).contains("== Physical Plan =="))
  }

  test("reuse returns the live operator counts of the final plan") {
    val Seq((name, r)) = Tool.reuse(spark, Seq(sf, q))
    assert(name == q)
    assert(r.liveShuffles >= 1, r)
  }

  test("an unknown query or a short argument list is rejected") {
    intercept[IllegalArgumentException](Tool.time(spark, Seq(sf, "no_such_query")))
    intercept[IllegalArgumentException](Tool.explain(spark, Seq(sf)))
  }
}
