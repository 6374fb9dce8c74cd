package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession]], so the oracle
  * dump, the plan audits and the benchmarks run under the same confs and
  * optimizer extensions. A second `SparkSession.builder(` in `src/main`
  * would let their physical plans drift apart again; an env knob read
  * outside the two entry points would let a library path change behaviour
  * with no option, spec or benchmark naming it. */
class SessionFactorySpec extends AnyFunSuite {

  test("GraftSession.scala is the only src/main file that calls SparkSession.builder(") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root; ${root.toAbsolutePath} is missing")
    val st = Files.walk(root)
    val callers =
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder("))
        .map(_.getFileName.toString).toSeq
      finally st.close()
    assert(callers == Seq("GraftSession.scala"))
  }

  test("only Bench.scala and GraftSession.scala read a SPARK_GRAFT_ env var") {
    val st = Files.walk(Paths.get("src/main"))
    val readers =
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("\"SPARK_GRAFT_"))
        .map(_.getFileName.toString).toSet
      finally st.close()
    assert(readers.subsetOf(Set("Bench.scala", "GraftSession.scala")), readers)
  }

  test("the default shuffle partitions follow the N of local[N]") {
    assert(GraftSession.partitionsFor("local[3]") == 3)
    assert(GraftSession.partitionsFor("local[6,2]") == 6)
    assert(GraftSession.partitionsFor("local[*]") == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.partitionsFor("spark://host:7077") == 200)
  }
}
