package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps
import graft.queries.BehaviorOps
import graft.util.{SessionCaches, SilverArtifact}

/** Session memos over a source table key on its
  * [[SilverArtifact.sourceFingerprint]]: a table rewritten in place is
  * read afresh by the same session, with no `SessionCaches.clear`, and a
  * path that cannot be fingerprinted is never memoized. */
class FreshnessSpec extends AnyFunSuite {
  import TestSpark._

  /** A copy of the sf0.001 tables in a fresh directory. */
  private def sandbox(): String = {
    val dir = Files.createTempDirectory("freshness-sf")
    val st = Files.list(java.nio.file.Paths.get(sf))
    try st.iterator().asScala.foreach(p => Files.copy(p, dir.resolve(p.getFileName)))
    finally st.close()
    dir.toString
  }

  /** Replaces `<d>/<name>.parquet` in place with the rows of `keep`. */
  private def rewrite(d: String, name: String, keep: org.apache.spark.sql.Column): Unit = {
    val staged = Files.createTempDirectory("freshness-stage").resolve("t")
    spark.read.parquet(s"$d/$name.parquet").where(keep).coalesce(1)
      .write.parquet(staged.toString)
    val st = Files.list(staged)
    val part: Path =
      try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    // same inode, truncated and rewritten: the directory entry is untouched
    Files.write(java.nio.file.Paths.get(s"$d/$name.parquet"), Files.readAllBytes(part))
  }

  test("tables, baskets and sparse retrieval follow an in-place rewrite in one session") {
    val d = sandbox()
    val savedRoot = SilverArtifact.root
    SilverArtifact.root = Files.createTempDirectory("freshness-silver").toString
    val s = spark.newSession()
    try {
      assert(Tables.lineitem(s, d).count() == 6000)
      val baskets0 = BehaviorOps.baskets(s, d).count()
      val ranked0 = TextOps.sparseRetrieval(s, d).collect().toSet
      assert(ranked0.exists(_.getAs[Long]("doc_id") % 2 == 1),
        "the fixture must rank some odd documents, or the rewrite below proves nothing")

      rewrite(d, "lineitem", col("l_orderkey") % 2 === 0)
      rewrite(d, "documents", col("doc_id") % 2 === 0)

      val li = Tables.lineitem(s, d)
      val even = spark.read.parquet(s"$d/lineitem.parquet")
      assert(li.count() == even.count() && li.count() < 6000)
      assert(li.where(col("l_orderkey") % 2 =!= 0).isEmpty)
      val baskets1 = BehaviorOps.baskets(s, d)
      assert(baskets1.count() == even.select("l_orderkey").distinct().count())
      assert(baskets1.count() < baskets0)
      val ranked1 = TextOps.sparseRetrieval(s, d).collect().toSet
      assert(ranked1.nonEmpty && ranked1 != ranked0)
      assert(ranked1.forall(r => r.getAs[Long]("doc_id") % 2 == 0))
      // a session that never saw the old files ranks the same
      val fresh = spark.newSession()
      try assert(TextOps.sparseRetrieval(fresh, d).collect().toSet == ranked1)
      finally SessionCaches.clear(fresh)
    } finally {
      SessionCaches.clear(s)
      SilverArtifact.root = savedRoot
    }
  }

  test("a missing table throws on every call and leaves no memo entry") {
    val s = spark.newSession()
    val missing = Files.createTempDirectory("freshness-missing").toString
    for (_ <- 1 to 2) intercept[org.apache.spark.sql.AnalysisException] {
      Tables.lineitem(s, missing)
    }
    assert(SessionCaches.clear(s) == 0)
  }
}
