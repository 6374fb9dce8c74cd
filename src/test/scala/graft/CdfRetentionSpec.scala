package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MergeOnRead
import graft.util.AtomicTable

/** CDF retention (ops/MergeOnRead.vacuumChanges) — the r12 verdict's
  * "wrong #1": without a sweep the `_changes` feed grows one commit file
  * per merge forever. This spec proves (1) the sweep keeps the newest
  * `keepCommits` and in-window reads survive it; (2) reads below the
  * vacuumed floor refuse with a precise message; (3) snapshot pins extend
  * retention (a commit whose base version a retained manifest still names
  * is never swept); (4) a legacy flat layout (data files without the
  * commit prefix) is refused loudly instead of read. */
class CdfRetentionSpec extends AnyFunSuite {
  import TestSpark._

  private def stage(name: String): String = {
    val base = s"/tmp/graft_cdf_spec/$name"
    AtomicTable.deleteRecursively(Paths.get(base))
    AtomicTable.publish(base) { dir =>
      Tables.orders(spark, sf).limit(2000)
        .repartition(2).write.mode("overwrite").parquet(dir)
    }
    base
  }

  /** One CDF-emitting merge: bump prices of keys ≡ 0 mod `m`. */
  private def merge(base: String, m: Int, v: Long): Unit = {
    val b = Tables.orders(spark, sf).limit(2000)
      .where(col("o_orderkey") % m === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
    MergeOnRead.mergeUpsert(spark, base, b, "o_orderkey", cdfVersion = Some(v))
  }

  private def feedFiles(base: String): Seq[String] = {
    val dir = Paths.get(MergeOnRead.changesPath(base))
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
  }

  test("vacuumChanges keeps the newest keepCommits; in-window reads survive") {
    val base = stage("sweep")
    merge(base, 5, 1L); merge(base, 7, 2L); merge(base, 11, 3L)
    assert(MergeOnRead.changeCommits(base) == Seq(1L, 2L, 3L))
    val want23 = MergeOnRead.readChanges(spark, base, startVersion = 2L)
      .groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val removed = MergeOnRead.vacuumChanges(base, keepCommits = 2)
    assert(removed == 1, s"exactly commit 1 should sweep, removed=$removed")
    assert(MergeOnRead.changeCommits(base) == Seq(2L, 3L))
    assert(MergeOnRead.changesFloor(base) == 2L)
    // in-window read survives the sweep byte-for-byte
    val got23 = MergeOnRead.readChanges(spark, base, startVersion = 2L)
      .groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got23 == want23, "in-window commits must be untouched by the sweep")
    // the swept commit's base-version marker is gone too (no marker leak)
    assert(!feedFiles(base).contains("_c1.base"))
    // idempotent: a second sweep removes nothing
    assert(MergeOnRead.vacuumChanges(base, keepCommits = 2) == 0)
  }

  test("reads below the vacuumed floor refuse with a precise message") {
    val base = stage("refuse")
    merge(base, 5, 1L); merge(base, 7, 2L); merge(base, 11, 3L)
    MergeOnRead.vacuumChanges(base, keepCommits = 1)
    assert(MergeOnRead.changeCommits(base) == Seq(3L))
    val e = intercept[IllegalArgumentException] {
      MergeOnRead.readChanges(spark, base, startVersion = 1L)
    }
    assert(e.getMessage.contains("below 3 have been vacuumed"),
      s"message must name the floor: ${e.getMessage}")
    assert(e.getMessage.contains("startVersion=1"),
      s"message must name the request: ${e.getMessage}")
    // the default read (everything retained) still works
    assert(MergeOnRead.readChanges(spark, base)
      .select("_commit_version").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("snapshot pins extend retention: pinned-base commits never sweep") {
    // table lives under a snapshot root; the manifest pins its ORIGINAL
    // version, so every commit based on it (all three) must survive a
    // keepCommits=1 sweep — the same mandatory-pin rule as pruneLocked
    val root = "/tmp/graft_cdf_spec/snaproot"
    AtomicTable.deleteRecursively(Paths.get(root))
    val base = s"$root/orders"
    val ver = AtomicTable.stageVersion(base) { dir =>
      Tables.orders(spark, sf).limit(2000)
        .repartition(2).write.mode("overwrite").parquet(dir)
    }
    AtomicTable.commitSnapshot(root, Seq("orders" -> ver))
    merge(base, 5, 1L); merge(base, 7, 2L); merge(base, 11, 3L)
    val removed = MergeOnRead.vacuumChanges(base, keepCommits = 1)
    assert(removed == 0, "a retained manifest pinning the base version " +
      s"must block the sweep entirely, removed=$removed")
    assert(MergeOnRead.changeCommits(base) == Seq(1L, 2L, 3L))
  }

  test("a legacy flat layout is refused loudly") {
    val base = stage("migrate")
    merge(base, 5, 1L); merge(base, 7, 2L)
    // demote the feed to the v1 layout: strip the c<v>- prefixes and the
    // hidden markers — a feed whose files name no commit
    val dir = Paths.get(MergeOnRead.changesPath(base))
    feedFiles(base).foreach { n =>
      if (n.startsWith("_")) Files.delete(dir.resolve(n))
      else Files.move(dir.resolve(n), dir.resolve(n.replaceFirst("^c\\d+-", "")))
    }
    assert(feedFiles(base).forall(n => !n.matches("c\\d+-.*")), "fixture is v1")
    val before = feedFiles(base).sorted

    val e = intercept[IllegalArgumentException] {
      MergeOnRead.readChanges(spark, base)
    }
    before.filterNot(_.startsWith("_")).foreach { n =>
      assert(e.getMessage.contains(n), s"message must name $n: ${e.getMessage}")
    }
    assert(feedFiles(base).sorted == before, "a refused read must not touch the feed")
  }
}
