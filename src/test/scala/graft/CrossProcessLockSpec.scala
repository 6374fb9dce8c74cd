package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.AtomicTable

/** The commit protocol under CROSS-PROCESS contention.
  *
  * `withCommitLock`/`withAppendLock` pair a per-table JVM monitor with an
  * OS `FileChannel` lock on `_LOCK`/`_APPEND_LOCK`. Every earlier stress
  * test ran its writers as THREADS of one JVM, where the monitor
  * serializes first and the file-lock branch never contends — yet a
  * second writer PROCESS (a second Spark driver, a backfill job, a
  * vacuum cron) is exactly what the file lock exists for. This spec
  * launches real child JVMs ([[LockChild]], ProcessBuilder on the test
  * classpath) against the parent's table and proves, across processes:
  * exactly-once (immediate replays and whole-process-restart replays
  * both skip), no lost and no duplicated commits under mixed
  * append/vacuum churn, and a deterministic forced lost-race on EACH
  * lock file where the loser BLOCKS until release — never errors, never
  * proceeds early; and crash injection into the DSv2 sink's job commit,
  * where a child killed at any point must neither stall the next commit
  * nor leave part of its job visible.
  *
  * Object-store analog: on S3/GCS there is no `FileChannel.lock`; this
  * protocol degrades to a CONDITIONAL PUT (`If-None-Match: *` /
  * `x-goog-if-generation-match: 0`) of the next pointer object — the
  * atomic-rename-of-`_CURRENT` becomes "PUT `_commit_N` if absent", the
  * loser's 412 Precondition Failed is exactly this spec's lost race, and
  * the optimistic append retry loop above it is UNCHANGED (it already
  * assumes the base version can move between stage and commit). The
  * file-lock branch proven here is the POSIX stand-in for that
  * compare-and-set, which is why its cross-process behavior — blocking
  * losers, exactly-once watermarks — is worth pinning. */
class CrossProcessLockSpec extends AnyFunSuite {

  private def freshBase(name: String): String = {
    val base = s"/tmp/graft_xproc_spec/$name"
    AtomicTable.deleteRecursively(Paths.get(base))
    base
  }

  private val javaBin =
    Paths.get(System.getProperty("java.home"), "bin", "java").toString

  /** Launch a [[LockChild]] on this (forked test) JVM's classpath. */
  private def child(args: String*): Process =
    new ProcessBuilder(
      (Seq(javaBin, "-cp", System.getProperty("java.class.path"),
        "graft.LockChild") ++ args).asJava)
      .redirectErrorStream(true)
      .start()

  private def awaitOk(p: Process, what: String, timeoutSec: Long = 120): String = {
    // child output is a few lines — far below the pipe buffer — so it is
    // safe to wait first and drain after (draining first would hang
    // without a timeout if the child wedged)
    if (!p.waitFor(timeoutSec, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      fail(s"$what timed out after ${timeoutSec}s")
    }
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.exitValue() == 0, s"$what exited ${p.exitValue()}\n$out")
    out
  }

  private def currentFiles(base: String): Seq[String] = {
    val cur = AtomicTable.resolve(base).getOrElse(fail(s"no current at $base"))
    val st = Files.list(Paths.get(cur))
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".txt")).toSeq.sorted
    finally st.close()
  }

  test("two child JVMs + a parent appender + vacuum churn: exactly-once across processes") {
    val base = freshBase("xproc_append")
    AtomicTable.publish(base, keep = 3)(dir =>
      Files.writeString(Paths.get(dir, "seed.txt"), "seed\n"))

    val nBatches = 6
    // children contend on _APPEND_LOCK and _LOCK purely via the OS file
    // locks — their JVM monitors are private to each process
    val c0 = child("append", base, "c0", nBatches.toString, "3", "fresh")
    val c1 = child("append", base, "c1", nBatches.toString, "3", "fresh")
    // the parent appends THROUGH its own JVM monitor at the same time, so
    // the run mixes monitor-serialized and file-lock-serialized writers
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churner = new Thread(() => {
      while (!stop.get()) { AtomicTable.vacuum(base, keep = 3); Thread.sleep(15L) }
    })
    churner.start()
    (1 to nBatches).foreach { b =>
      val ran = AtomicTable.appendIdempotent(base, "p0", b.toLong, keep = 3)(dir =>
        Files.writeString(Paths.get(dir, s"p0-b$b.txt"), s"p0 $b\n"))
      assert(ran, s"parent batch $b must commit")
    }
    awaitOk(c0, "child c0"); awaitOk(c1, "child c1")
    stop.set(true); churner.join()

    // no lost commits, no duplicated commits: the current version holds
    // exactly one marker file per (writer, batch) — a duplicated commit
    // would have failed the child's CREATE_NEW write or left two files,
    // a lost one leaves a hole here
    val want = (Seq("seed.txt") ++
      (for (w <- Seq("c0", "c1", "p0"); b <- 1 to nBatches)
        yield s"$w-b$b.txt")).sorted
    assert(currentFiles(base) == want)
    Seq("c0", "c1", "p0").foreach { app =>
      assert(AtomicTable.txnLatest(base, app).contains(nBatches.toLong),
        s"$app watermark")
    }

    // whole-process restart: re-running child c0 with the SAME
    // transactions must skip every one (exactly-once across restarts,
    // the streaming-sink recovery contract) — LockChild exits nonzero
    // if any replay commits
    awaitOk(child("append", base, "c0", nBatches.toString, "3", "replay"),
      "child c0 restart replay")
    assert(currentFiles(base) == want, "replay run must not change the table")

    // hygiene: no claims left behind, retention holds, lineage == disk
    AtomicTable.vacuum(base, keep = 3)
    val st = Files.list(Paths.get(base))
    val left = try st.iterator().asScala.map(_.getFileName.toString).toSeq
      finally st.close()
    assert(!left.exists(_.endsWith("._claim")), s"orphaned claims: $left")
    val vdirs = left.filter(_.matches("_v\\d+.*"))
    assert(vdirs.size <= 3, s"retention bound violated: $vdirs")
    assert(vdirs.toSet == AtomicTable.history(base).toSet)
  }

  test("a child holding _LOCK blocks a parent publish until release (forced lost race)") {
    val base = freshBase("xproc_hold_commit")
    AtomicTable.publish(base)(dir =>
      Files.writeString(Paths.get(dir, "seed.txt"), "seed\n"))
    val holdMs = 1500L
    val p = child("hold", base, "_LOCK", holdMs.toString)
    // wait for the child to actually hold the OS lock
    val r = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    assert(r.readLine() == "HELD", "child must report the held lock")
    val t0 = System.nanoTime()
    AtomicTable.publish(base, keep = 2)(dir =>
      Files.writeString(Paths.get(dir, "after.txt"), "after\n"))
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(p.waitFor(30, TimeUnit.SECONDS) && p.exitValue() == 0)
    // the parent's commit must have BLOCKED on the OS lock (the JVM
    // monitor cannot help across processes) and landed only after the
    // child released — generous slack below the 1500ms hold for the
    // child's sleep timer and stream latency
    assert(waitedMs >= 1000,
      s"publish returned after ${waitedMs}ms against a ${holdMs}ms foreign hold " +
        "— the _LOCK file-lock branch did not contend")
    assert(currentFiles(base) == Seq("after.txt"))
  }

  test("a child holding _APPEND_LOCK blocks a parent append until release (forced lost race)") {
    val base = freshBase("xproc_hold_append")
    AtomicTable.publish(base)(dir =>
      Files.writeString(Paths.get(dir, "seed.txt"), "seed\n"))
    val holdMs = 1500L
    val p = child("hold", base, "_APPEND_LOCK", holdMs.toString)
    val r = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    assert(r.readLine() == "HELD", "child must report the held lock")
    val t0 = System.nanoTime()
    val ran = AtomicTable.appendIdempotent(base, "holdtest", 1L, keep = 2)(dir =>
      Files.writeString(Paths.get(dir, "appended.txt"), "a\n"))
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(ran)
    assert(p.waitFor(30, TimeUnit.SECONDS) && p.exitValue() == 0)
    assert(waitedMs >= 1000,
      s"append returned after ${waitedMs}ms against a ${holdMs}ms foreign hold " +
        "— the _APPEND_LOCK file-lock branch did not contend")
    assert(currentFiles(base) == Seq("appended.txt", "seed.txt"))
  }

  test("sink job commits killed at seeded moments: the next commit is prompt, each job lands whole or not at all") {
    val dir = freshBase("xproc_sink")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    def parentJob(qid: String, values: Seq[Long]): Unit = {
      val factory = new graft.sources.SinkWriterFactory(dir, schema, qid)
      val w = factory.createWriter(0, 0L)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      values.foreach { v => row.setLong(0, v); w.write(row) }
      new graft.sources.SinkBatchWrite(dir, schema, qid).commit(Array(w.commit()))
    }
    val rnd = new scala.util.Random(20261017L)
    val rounds = 8
    val rows = 2000L
    def childBase(i: Int): Long = 1000000L * (i + 1)
    (0 until rounds).foreach { i =>
      val c = child("sink", dir, s"kill$i", rows.toString, childBase(i).toString)
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(c.getInputStream, "UTF-8"))
      assert(r.readLine() == "STAGED", s"child kill$i must stage its job")
      // kill somewhere in the job commit: link, lock, record swap, prune
      Thread.sleep(rnd.nextInt(40).toLong)
      c.destroyForcibly()
      assert(c.waitFor(30, TimeUnit.SECONDS), s"child kill$i did not die")
      val t0 = System.nanoTime()
      parentJob(s"parent$i", (i * 100L) until (i * 100L + 50L))
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(ms < 10000L, s"parent commit after killing kill$i took ${ms}ms")
      val live = AtomicTable.resolve(dir).getOrElse(fail("nothing published"))
      assert(AtomicTable.history(dir).lastOption.map(n => s"$dir/$n").contains(live) &&
        !Files.exists(Paths.get(live + "._claim")),
        s"live version $live must be a published one, not a staged one")
    }
    val values = graft.sources.GraftSink.readBack(TestSpark.spark, dir, schema)
      .collect().map(_.getLong(0)).toSet
    (0 until rounds).foreach { i =>
      val n = (childBase(i) until childBase(i) + rows).count(values)
      assert(n == 0 || n == rows, s"child kill$i is partially visible: $n of $rows rows")
      assert((i * 100L until i * 100L + 50L).forall(values), s"parent job $i lost rows")
    }
  }
}
