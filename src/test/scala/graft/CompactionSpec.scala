package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtraOps
import graft.util.{AtomicTable, SilverArtifact}

class CompactionSpec extends AnyFunSuite {
  import TestSpark._

  test("compaction shrinks the file count ~16x and preserves content exactly") {
    ExtraOps.compactSmallFiles(spark, sf).collect() // drives both publishes
    val base = SilverArtifact.pathFor(sf, "compact/orders")
    def parquetFiles(version: String): Int =
      java.nio.file.Files.list(java.nio.file.Paths.get(base, version))
        .filter(_.toString.endsWith(".parquet")).count().toInt
    val versions = AtomicTable.history(base)
    assert(versions.size == 2)
    val (fragmented, compacted) = (parquetFiles(versions.head), parquetFiles(versions.last))
    assert(fragmented >= 32, s"fragmented layout had only $fragmented files")
    assert(compacted <= 4, s"compacted layout still has $compacted files")
    // both versions hold the identical rows
    val v1 = AtomicTable.readVersion(spark, base, versions.head)
    val v2 = AtomicTable.readVersion(spark, base, versions.last)
    assert(v1.exceptAll(v2).count() == 0 && v2.exceptAll(v1).count() == 0)
    // the live pointer serves the compacted layout
    assert(AtomicTable.read(spark, base).count() == v2.count())
  }
}
