package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession]], so the oracle
  * dump, the plan audits and the benchmarks run under the same confs and
  * optimizer extensions. A second `SparkSession.builder(` in `src/main`
  * would let their physical plans drift apart again; an env knob read
  * outside the two entry points would let a library path change behaviour
  * with no option, spec or benchmark naming it. A fixed `/tmp/graft` root
  * outside [[graft.util.SilverArtifact]] would put staged state where
  * `SilverArtifact.root` cannot sandbox it, and a read that writes the
  * session conf would make one session's behaviour depend on what it
  * read before. */
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

  test("SilverArtifact.scala is the only src/main file with a \"/tmp/graft literal") {
    val st = Files.walk(Paths.get("src/main"))
    val hits =
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "SilverArtifact.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("\"/tmp/graft") => s"${p.getFileName}:${i + 1}"
        }).toSeq
      finally st.close()
    assert(hits.isEmpty, s"${hits.size} fixed roots: ${hits.mkString(", ")}")
  }

  test("Tables.events on a fresh session leaves its conf unchanged") {
    val s = TestSpark.spark.newSession()
    val before = s.conf.getAll
    Tables.events(s, TestSpark.sf).schema
    assert(s.conf.getAll == before)
  }

  test("the default shuffle partitions follow the N of local[N]") {
    assert(GraftSession.partitionsFor("local[3]") == 3)
    assert(GraftSession.partitionsFor("local[6,2]") == 6)
    assert(GraftSession.partitionsFor("local[*]") == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.partitionsFor("spark://host:7077") == 200)
  }
}
