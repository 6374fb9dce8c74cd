package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, DeletionVectors, Similarity, TextOps}
import graft.pipeline.Medallion
import graft.queries.{BehaviorOps, ScaleOps, TemporalOps}
import graft.streaming.EventsStream
import graft.util.{SessionCaches, SilverArtifact}

/** Session memos follow their data directory's
  * [[SilverArtifact.dataFingerprint]]: a table rewritten in place is read
  * afresh by the same session, with no `SessionCaches.clear`, whether the
  * memo holds a source resolution, a stored artifact, a gold table, a
  * staged table path, a bucketed catalog table, a staged stream source
  * or a purely in-memory index; superseded entries are
  * unpersisted in every session; and a path that cannot be read is never
  * memoized. */
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

  private def bucketFiles(d: String): Set[String] = {
    val st = Files.list(java.nio.file.Paths.get(SilverArtifact.pathFor(d, "buckets/lineitem")))
    try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  test("tables, baskets and sparse retrieval follow an in-place rewrite in one session") {
    val d = sandbox()
    val savedRoot = SilverArtifact.root
    SilverArtifact.root = Files.createTempDirectory("freshness-silver").toString
    val s = spark.newSession()
    val other = spark.newSession()
    def odd(c: String) = col(c) % 2 =!= 0
    def pairDocs(df: DataFrame) = df.select("doc_a", "doc_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    def dvTotal(df: DataFrame) = df.agg(sum("n_orders")).head().getLong(0)
    def lines(df: DataFrame) = df.agg(sum("n_lines")).head().getLong(0)
    def kept(df: DataFrame) = df.agg(sum("n_kept")).head().getLong(0)
    def sessionUsers(df: DataFrame) = df.select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val urgent = col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 < 3
    // the PQ codebook seeds on every 31st vector, so those stay
    val droppedVec = odd("vec_id") && col("vec_id") % 31 =!= 0
    try {
      assert(Tables.lineitem(s, d).count() == 6000)
      val basketsFrame0 = BehaviorOps.baskets(s, d)
      val baskets0 = basketsFrame0.count()
      val ranked0 = TextOps.sparseRetrieval(s, d).collect().toSet
      val lshDocs0 = pairDocs(Dedup.minhashLsh(s, d))
      val fact0 = Medallion.factSales(s, d).count()
      val dv0 = dvTotal(DeletionVectors.deletionVectorRead(s, d))
      val centroids0 = TemporalOps.embeddingCentroids(s, d).collect().toSeq
      val ann0 = Similarity.annIvfPqTopK(s, d)
      val bucketed0 = lines(ScaleOps.bucketedJoin(s, d))
      // part-file names carry the write job's id, so a re-bucket renames them
      val bucketFiles0 = bucketFiles(d)
      ScaleOps.bucketedJoin(s, d)
      assert(bucketFiles(d) == bucketFiles0, "an unchanged source must not be re-bucketed")
      val corpusKept0 = kept(EventsStream.corpusFilterStream(s, d))
      val appendUsers0 = sessionUsers(EventsStream.sessionWindowAppend(s, d))
      assert(ranked0.exists(_.getAs[Long]("doc_id") % 2 == 1) && lshDocs0.exists(_ % 2 == 1) &&
        !ann0.where(droppedVec).isEmpty && appendUsers0.exists(_ % 2 == 1),
        "the fixture must reach some odd documents, vectors and users, or the rewrite below proves nothing")
      assert(basketsFrame0.storageLevel != StorageLevel.NONE)

      rewrite(d, "lineitem", col("l_orderkey") % 2 === 0)
      rewrite(d, "documents", col("doc_id") % 2 === 0)
      rewrite(d, "orders", col("o_orderkey") % 2 === 0)
      rewrite(d, "embeddings", !droppedVec)
      rewrite(d, "events", col("user_id") % 2 === 0)

      // the CacheManager is shared: a session that looks first after the
      // rewrite must not be served the rows `s` cached before it
      val otherAnnFresh = Similarity.annIvfPqTopK(other, d).where(droppedVec).isEmpty

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

      // one input per kind of memo; every check runs, so a failure names
      // all the stale kinds at once
      val fact1 = Medallion.factSales(s, d).count()
      val liveOrders = spark.read.parquet(s"$d/orders.parquet").where(!urgent).count()
      val liveLines = even.join(spark.read.parquet(s"$d/orders.parquet"),
        col("l_orderkey") === col("o_orderkey")).count()
      val stale = Seq(
        "(a) dedup_minhash_lsh: stored artifact under a (session, dir) memo" ->
          pairDocs(Dedup.minhashLsh(s, d)).forall(_ % 2 == 0),
        "(b) Medallion.factSales: gold" -> (fact1 < fact0),
        "(c) deletion_vector_read: staged table" ->
          (dvTotal(DeletionVectors.deletionVectorRead(s, d)) == liveOrders && liveOrders < dv0),
        "(d) embedding_centroids" ->
          (TemporalOps.embeddingCentroids(s, d).collect().toSeq != centroids0),
        "(d) ann_ivfpq: memo-only embedding, centroid, codebook and index" ->
          Similarity.annIvfPqTopK(s, d).where(droppedVec).isEmpty,
        "(e) superseded baskets entry unpersisted" ->
          (basketsFrame0.storageLevel == StorageLevel.NONE),
        "(f) ann_ivfpq in a second session: another session's superseded cache" ->
          otherAnnFresh,
        "(g) bucketed_join: bucketed catalog tables" ->
          (lines(ScaleOps.bucketedJoin(s, d)) == liveLines && liveLines < bucketed0),
        "(h) stream_corpus_filter: copied-file stream stage" ->
          (kept(EventsStream.corpusFilterStream(s, d)) < corpusKept0),
        "(h) stream_session_append: derived-file stream stage" -> {
          val users = sessionUsers(EventsStream.sessionWindowAppend(s, d))
          users.nonEmpty && users.forall(_ % 2 == 0)
        }
      ).collect { case (name, false) => name }
      assert(stale.isEmpty, s"stale after the rewrite: ${stale.mkString("; ")}")

      // a session that never saw the old files computes the same
      val fresh = spark.newSession()
      try {
        assert(TextOps.sparseRetrieval(fresh, d).collect().toSet == ranked1)
        assert(Medallion.factSales(fresh, d).count() == fact1)
      } finally SessionCaches.clear(fresh)
    } finally {
      SessionCaches.clear(s)
      SessionCaches.clear(other)
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
