package graft

import org.scalatest.funsuite.AnyFunSuite

/** Generated classes compile once per JVM. Spark caches each class it
  * compiles under (context class loader, code body), so a query called
  * again must find every class it needs in that cache: a second call adds
  * no compile. Three shapes reach the cache differently:
  *  - a star query on the session itself;
  *  - a query on a memoized `newSession()` clone (`ScaleOps.aqeSession`);
  *  - a stream start, which runs in a fresh clone of its session. With
  *    Spark's artifact isolation on, each such clone runs its tasks under
  *    its own class loader and compiles byte-identical code again.
  * The test session applies [[GraftSession.jvmConfs]] as every main does. */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark._

  private def compiles(name: String): Long =
    Tool.compiling(Tool.materialize(SparkEntry.queries(name)(spark, sf)))._2.compiles

  Seq(
    "q4_sales_by_nation" -> "a star query",
    "aqe_skew_join" -> "a memoized newSession() clone",
    "stream_corpus_filter" -> "a stream start in a fresh session clone"
  ).foreach { case (name, shape) =>
    test(s"a second call of $name adds no compile ($shape)") {
      compiles(name)
      val again = compiles(name)
      assert(again == 0, s"$name compiled $again classes on its second call")
    }
  }
}
