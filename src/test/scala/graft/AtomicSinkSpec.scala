package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftSink
import graft.util.AtomicTable

/** Transactional-write-protocol contracts of [[graft.sources.GraftSink]]
  * that the differential gate's happy-path roundtrip cannot see: abort
  * leaves nothing readable, stray files are invisible, a second append
  * lands atomically in the live version, and staging never leaks into
  * reads.
  */
class AtomicSinkSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(tag: String): String = {
    val p = Paths.get(s"/tmp/graft_sink_spec/$tag")
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try it.forEach(f => Files.deleteIfExists(f)) finally it.close()
    }
    Files.createDirectories(p)
    p.toString
  }

  private def names(dir: Path): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toSeq finally st.close()
  }

  /** The `.jsonl` files of the sink's live version (none when unpublished). */
  private def liveFiles(dir: String): Seq[String] =
    AtomicTable.resolve(dir).toSeq.flatMap(v => names(Paths.get(v)))
      .filter(_.endsWith(".jsonl"))

  /** Every version dir on disk is published, no claim marker is left,
    * and the staging area is empty. */
  private def assertNoStagedLeft(dir: String): Unit = {
    val top = names(Paths.get(dir))
    assert(!top.exists(_.endsWith("._claim")), s"claim marker leaked: $top")
    val published = AtomicTable.history(dir).toSet
    val staged = top.filter(_.matches("_v\\d+")).filterNot(published)
    assert(staged.isEmpty, s"staged version left: $staged")
    val staging = Paths.get(dir, ".staging")
    assert(!Files.exists(staging) || names(staging).isEmpty,
      s"staged task files left: ${names(staging)}")
  }

  private def sample = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_orderstatus"))
    .limit(500)

  test("append publishes exactly the written rows; stray files are invisible") {
    val dir = freshDir("stray")
    val df = sample.cache()
    val n = df.count()
    df.write.format("graft.sources.GraftSink").option("path", dir)
      .mode("append").save()
    // a part file the manifest never saw — crashed task, concurrent
    // writer, manual copy: all must be invisible to readers
    Files.write(Paths.get(dir, "part-stray.jsonl"),
      "{\"o_orderkey\":-1,\"o_orderstatus\":\"X\"}\n".getBytes(StandardCharsets.UTF_8))
    val back = GraftSink.readBack(spark, dir, df.schema)
    assert(back.count() == n)
    assert(back.filter(col("o_orderkey") === -1).count() == 0)
    df.unpersist()
  }

  test("second append accumulates atomically; no temp manifest remains") {
    val dir = freshDir("append")
    val df = sample
    df.write.format("graft.sources.GraftSink").option("path", dir).mode("append").save()
    df.write.format("graft.sources.GraftSink").option("path", dir).mode("append").save()
    val back = GraftSink.readBack(spark, dir, df.schema)
    assert(back.count() == 2 * df.count())
    assertNoStagedLeft(dir)
  }

  test("two concurrent job commits both land in the manifest (no lost update)") {
    val dir = freshDir("race")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    def commitOne(qid: String, n: Int): Unit = {
      val factory = new graft.sources.SinkWriterFactory(dir, schema, qid)
      val msgs = (0 until n).map { p =>
        val w = factory.createWriter(p, p.toLong)
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        row.setLong(0, p.toLong)
        w.write(row)
        w.commit()
      }.toArray[org.apache.spark.sql.connector.write.WriterCommitMessage]
      new graft.sources.SinkBatchWrite(dir, schema, qid).commit(msgs)
    }
    // race 8 committing jobs; an append that staged against a superseded
    // version and still committed would lose whole jobs (last swap wins)
    val threads = (0 until 8).map { i =>
      new Thread(() => commitOne(s"race$i", 3))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val files = liveFiles(dir)
    assert(files.length == 24, s"all 8 jobs x 3 files must survive: ${files.length}")
    assert(GraftSink.readBack(spark, dir, schema).count() == 24)
    assertNoStagedLeft(dir)
  }

  test("aborted task leaves no staged file and nothing readable") {
    val dir = freshDir("abort")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    // drive the task-level API directly: write rows, then ABORT
    val factory = new graft.sources.SinkWriterFactory(dir, schema, "qabort")
    val w = factory.createWriter(0, 7L)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    row.setLong(0, 42L)
    w.write(row)
    w.abort()
    assert(!Files.exists(Paths.get(dir, ".staging", "part-qabort-0-7.jsonl")))
    assert(GraftSink.readBack(spark, dir, schema).count() == 0)
  }

  test("commit message with zero rows publishes no file") {
    val dir = freshDir("empty")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val factory = new graft.sources.SinkWriterFactory(dir, schema, "qempty")
    val w = factory.createWriter(1, 9L)
    val msg = w.commit() // closed with zero rows
    new graft.sources.SinkBatchWrite(dir, schema, "qempty")
      .commit(Array(msg))
    assert(AtomicTable.resolve(dir).isDefined, "the job commit must publish")
    assert(liveFiles(dir).isEmpty)
  }
}
