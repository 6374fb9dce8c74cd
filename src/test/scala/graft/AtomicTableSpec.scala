package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.AtomicTable

/** Crash-safety contract of the pointer-swap commit: at EVERY intermediate
  * state of a publish, a reader resolving the pointer sees a complete
  * table — never a missing or half-written one. */
class AtomicTableSpec extends AnyFunSuite {
  import TestSpark._

  private def freshBase(): String =
    Files.createTempDirectory("graft_atomic").toString + "/t"

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).toDF("x")
  }

  /** Age a dir past the orphan TTL so pruning treats it as crashed, not
    * as a concurrent writer's in-flight claim. */
  private def backdate(p: java.nio.file.Path): Unit =
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - AtomicTable.OrphanTtlMs - 60000L))

  test("publish then read round-trips; republish supersedes atomically") {
    val base = freshBase()
    assert(!AtomicTable.exists(base))
    AtomicTable.overwrite(df(3), base)
    assert(AtomicTable.read(spark, base).count() == 3)
    AtomicTable.overwrite(df(5), base)
    assert(AtomicTable.read(spark, base).count() == 5)
    // stale version was pruned after the swap
    val versions = Files.list(Paths.get(base)).iterator()
    var vDirs = 0
    versions.forEachRemaining(p => if (p.getFileName.toString.startsWith("_v")) vDirs += 1)
    assert(vDirs == 1, "superseded versions must be pruned")
  }

  test("vacuum never deletes the live version, even when it is unlogged (crash between pointer swap and log append)") {
    val base = freshBase()
    AtomicTable.overwrite(df(3), base, keep = 2)
    // simulate the crash window INSIDE commitVersion: the new version is
    // fully written and _CURRENT already points at it, but the JVM died
    // before the _LOG append — live but unlogged
    val name = AtomicTable.stageVersion(base)(dir =>
      df(7).coalesce(1).write.mode("overwrite").parquet(dir))
    Files.writeString(Paths.get(base, "_CURRENT"), name)
    Files.deleteIfExists(Paths.get(base, name + "._claim"))
    // age it past the orphan TTL — the classification that previously
    // made vacuum destroy the table out from under its own pointer
    backdate(Paths.get(base, name))
    assert(AtomicTable.read(spark, base).count() == 7)
    AtomicTable.vacuum(base, keep = 1)
    assert(AtomicTable.read(spark, base).count() == 7,
      "the version _CURRENT names must survive every sweep, logged or not")
    // recovery is a normal publish: the next overwrite logs and swaps
    AtomicTable.overwrite(df(9), base)
    assert(AtomicTable.read(spark, base).count() == 9)
  }

  test("snapshot compat pointers never regress a member (overlapping-reload race)") {
    val base = freshBase()
    AtomicTable.overwrite(df(3), base, keep = 3) // _v1
    AtomicTable.overwrite(df(5), base, keep = 3) // _v2 live
    // the slower of two overlapping reloads delivers its pointer refresh
    // AFTER the newer reload completed — must be a no-op, not a regression
    AtomicTable.commitVersionIfNewer(base, "_v1", keep = 3)
    assert(AtomicTable.read(spark, base).count() == 5,
      "a late older refresh must not move _CURRENT backwards")
    // a genuinely newer refresh still advances the pointer
    val v3 = AtomicTable.stageVersion(base)(dir =>
      df(7).coalesce(1).write.mode("overwrite").parquet(dir))
    AtomicTable.commitVersionIfNewer(base, v3, keep = 3)
    assert(AtomicTable.read(spark, base).count() == 7)
  }

  test("crash after writing the new version but BEFORE the pointer swap: readers stay on the old complete version") {
    val base = freshBase()
    AtomicTable.overwrite(df(3), base)
    // simulate the crash window: a half-written next version exists on
    // disk (no _SUCCESS, truncated file), pointer never swapped
    val half = Paths.get(base, "_v99")
    Files.createDirectories(half)
    Files.writeString(half.resolve("part-00000.parquet"), "not parquet")
    assert(AtomicTable.read(spark, base).count() == 3, "reader must not see the crashed version")
    // recovery: once past the orphan TTL (backdated here), the next
    // successful publish supersedes and prunes the orphan — younger
    // unpublished dirs are presumed in-flight concurrent writes
    backdate(half)
    AtomicTable.overwrite(df(7), base)
    assert(AtomicTable.read(spark, base).count() == 7)
    assert(!Files.exists(half), "crashed orphan version must be pruned on next publish")
  }

  test("crash BEFORE any publish completes: table reports not-exists rather than a half state") {
    val base = freshBase()
    val half = Paths.get(base, "_v1")
    Files.createDirectories(half)
    Files.writeString(half.resolve("part-00000.parquet"), "garbage")
    assert(!AtomicTable.exists(base))
    intercept[IllegalStateException](AtomicTable.read(spark, base))
  }

  test("time travel: keep=2 retains the previous published version, prunes older and orphans") {
    val base = freshBase()
    AtomicTable.overwrite(df(1), base, keep = 2)
    AtomicTable.overwrite(df(2), base, keep = 2)
    // a crashed orphan must not pollute the history
    Files.createDirectories(Paths.get(base, "_v50"))
    backdate(Paths.get(base, "_v50"))
    AtomicTable.overwrite(df(3), base, keep = 2)
    assert(AtomicTable.read(spark, base).count() == 3)
    val hist = AtomicTable.history(base)
    assert(hist.size == 2, s"expected 2 retained versions, got $hist")
    assert(AtomicTable.readVersion(spark, base, hist.head).count() == 2)
    assert(!Files.exists(Paths.get(base, "_v50")), "orphan survived pruning")
    intercept[IllegalArgumentException](AtomicTable.readVersion(spark, base, "_v1"))
  }

  test("a DataFrame held across a reload survives when the writer publishes with keep=2") {
    val base = freshBase()
    AtomicTable.overwrite(df(3), base, keep = 2)
    val held = AtomicTable.read(spark, base) // pinned to _v1
    AtomicTable.overwrite(df(5), base, keep = 2)
    // the held plan still reads its complete snapshot (retention covers
    // the read/prune race the scaladoc documents)...
    assert(held.count() == 3)
    // ...while fresh readers see the new version
    assert(AtomicTable.read(spark, base).count() == 5)
  }

  test("two concurrent publishers: distinct versions, both retained, pointer always valid") {
    val base = freshBase()
    AtomicTable.overwrite(df(1), base, keep = 3)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    // the slow parquet job sits in the race window between version claim
    // and pointer swap — both writers are in it simultaneously
    def racer(n: Int) = pool.submit(new Runnable {
      def run(): Unit = {
        gate.await()
        AtomicTable.publish(base, keep = 3) { dir =>
          df(n).write.mode("overwrite").parquet(dir)
        }
      }
    })
    val (a, b) = (racer(10), racer(20))
    gate.countDown()
    a.get(120, TimeUnit.SECONDS); b.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    // both racers allocated distinct versions and both entered the lineage
    val hist = AtomicTable.history(base)
    assert(hist.size == 3, s"initial + both racing versions, got $hist")
    assert(hist.distinct.size == 3, "racers must never share a version dir")
    // the pointer is valid and points at one of the two racers' tables
    assert(Set(10L, 20L).contains(AtomicTable.read(spark, base).count()))
    // every retained version is independently readable (fully written)
    hist.foreach { v =>
      assert(Set(1L, 10L, 20L).contains(
        AtomicTable.readVersion(spark, base, v).count()))
    }
  }

  test("a writer slower than the orphan TTL survives a concurrent publisher's pruning (claim heartbeat)") {
    val base = freshBase()
    AtomicTable.overwrite(df(1), base)
    val savedTtl = AtomicTable.OrphanTtlMs
    AtomicTable.OrphanTtlMs = 1200L // heartbeat refreshes every ~300ms
    try {
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(1)
      // slow writer: claims a version, then its parquet job outlasts the
      // TTL before any top-level file lands — under r5's dir-mtime rule a
      // concurrent publisher would reap the claimed dir mid-write
      val slow = pool.submit(new Runnable {
        def run(): Unit = AtomicTable.publish(base, keep = 2) { dir =>
          Thread.sleep(2500L)
          df(42).write.mode("overwrite").parquet(dir)
        }
      })
      Thread.sleep(1800L) // well past the TTL, writer still mid-write
      AtomicTable.overwrite(df(2), base, keep = 2) // prunes as a side effect
      slow.get(120, TimeUnit.SECONDS) // must complete, not lose its dir
      pool.shutdown()
      // the slow writer's version committed last and is fully readable
      assert(AtomicTable.read(spark, base).count() == 42)
    } finally AtomicTable.OrphanTtlMs = savedTtl
  }

  test("a failing writer leaves the previous version live") {
    val base = freshBase()
    AtomicTable.overwrite(df(3), base)
    intercept[RuntimeException] {
      AtomicTable.publish(base)(_ => throw new RuntimeException("writer died"))
    }
    assert(AtomicTable.read(spark, base).count() == 3)
  }

  test("vacuum prunes aged-out versions and orphans, never the live table") {
    val base = freshBase()
    AtomicTable.overwrite(df(1), base, keep = 3)
    AtomicTable.overwrite(df(2), base, keep = 3)
    AtomicTable.overwrite(df(3), base, keep = 3)
    // a crashed orphan past the TTL, and a LIVE in-flight claim (recent)
    Files.createDirectories(Paths.get(base, "_v40"))
    backdate(Paths.get(base, "_v40"))
    Files.createDirectories(Paths.get(base, "_v41"))
    assert(AtomicTable.history(base).size == 3)
    val removed = AtomicTable.vacuum(base, keep = 1)
    // two aged-out published versions + the stale orphan go; the live
    // version and the fresh (possibly in-flight) claim stay
    assert(removed == 3, s"expected 3 removals, got $removed")
    assert(AtomicTable.read(spark, base).count() == 3)
    assert(AtomicTable.history(base) == Seq(AtomicTable.history(base).last))
    assert(!Files.exists(Paths.get(base, "_v40")), "stale orphan survived vacuum")
    assert(Files.exists(Paths.get(base, "_v41")), "fresh claim must survive vacuum")
    // idempotent: nothing left to remove
    assert(AtomicTable.vacuum(base, keep = 1) == 0)
  }

  test("schema evolution: each version carries its own schema, time travel reads the old one") {
    import spark.implicits._
    val base = freshBase()
    AtomicTable.overwrite((1 to 3).map(i => (i.toLong, s"n$i")).toDF("id", "name"),
      base, keep = 2)
    // v2 ADDS a column — the live read serves the evolved schema, and the
    // retained v1 still answers with its own (the Delta/Iceberg
    // schema-per-snapshot shape; no rewrite of old files)
    AtomicTable.overwrite(
      (1 to 3).map(i => (i.toLong, s"n$i", i * 10L)).toDF("id", "name", "score"),
      base, keep = 2)
    val live = AtomicTable.read(spark, base)
    assert(live.columns.toSeq == Seq("id", "name", "score"))
    assert(live.where(org.apache.spark.sql.functions.col("score") === 20L).count() == 1)
    val Seq(v1, _) = AtomicTable.history(base).takeRight(2)
    val old = AtomicTable.readVersion(spark, base, v1)
    assert(old.columns.toSeq == Seq("id", "name"),
      s"time-travel read must serve v1's schema, got ${old.columns.toSeq}")
    assert(old.count() == 3)
  }

  test("restore rolls FORWARD to an old version by hardlink, keeping history") {
    val base = freshBase()
    AtomicTable.publish(base, keep = 3)(d => df(10).write.mode("overwrite").parquet(d))
    AtomicTable.publish(base, keep = 3)(d => df(3).write.mode("overwrite").parquet(d))
    val Seq(v1, v2) = AtomicTable.history(base)
    AtomicTable.restore(base, v1, keep = 3)
    // the LIVE table is v1's contents again, via a NEW version
    val v3 = AtomicTable.resolve(base).get
    assert(!v3.endsWith(v1) && !v3.endsWith(v2), "restore must publish a new version")
    assert(AtomicTable.read(spark, base).count() == 10)
    assert(AtomicTable.history(base).size == 3, "the bad version stays in history")
    // O(files): restored parquet files are hardlinks of v1's (same inode)
    val v1p = Paths.get(base, v1)
    val linked = Files.list(Paths.get(v3)).iterator()
    val restoredParquet = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    while (linked.hasNext) { val p = linked.next()
      if (p.getFileName.toString.endsWith(".parquet")) restoredParquet += p }
    assert(restoredParquet.nonEmpty)
    assert(restoredParquet.forall(p =>
      Files.isSameFile(p, v1p.resolve(p.getFileName.toString))),
      "restored files must be hardlinks of the source version's files")
    // restoring an unknown / pruned version refuses
    intercept[IllegalArgumentException] {
      AtomicTable.restore(base, "_v9999", keep = 3)
    }
  }

  test("publishAppend: prior files hardlink into the new version, only the batch writes") {
    val base = freshBase()
    AtomicTable.publishAppend(base, keep = 2)(d =>
      df(3).coalesce(1).write.mode("append").parquet(d))
    assert(AtomicTable.read(spark, base).count() == 3)
    AtomicTable.publishAppend(base, keep = 2)(d =>
      df(4).coalesce(1).write.mode("append").parquet(d))
    assert(AtomicTable.read(spark, base).count() == 7,
      "append must accumulate, not replace")
    // time travel still sees the pre-append state
    val Seq(v1, v2) = AtomicTable.history(base)
    assert(AtomicTable.readVersion(spark, base, v1).count() == 3)
    // v1's parquet files were hardlinked into v2, not copied or rewritten
    val v1p = Paths.get(base, v1)
    val carried = Files.list(v1p).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(carried.nonEmpty)
    assert(carried.forall(p =>
      Files.isSameFile(p, Paths.get(base, v2, p.getFileName.toString))),
      "append must carry prior files by hardlink (same inode)")
  }

  test("publishAppend retries when a concurrent commit lands mid-stage (no lost batch)") {
    val base = freshBase()
    AtomicTable.overwrite(df(3), base, keep = 3)
    // the competing writer fires from INSIDE the first staging attempt —
    // deterministic stand-in for a concurrent committer racing the
    // resolve-link-commit window
    val competed = new java.util.concurrent.atomic.AtomicBoolean(false)
    AtomicTable.publishAppend(base, keep = 3) { dir =>
      if (competed.compareAndSet(false, true))
        AtomicTable.publishAppend(base, keep = 3)(d =>
          df(5).coalesce(1).write.mode("append").parquet(d))
      df(2).coalesce(1).write.mode("append").parquet(dir)
    }
    // first attempt linked the pre-compete version and must have been
    // DISCARDED; the retry linked the competing commit's version, so the
    // final table carries base + competing batch + our batch
    assert(AtomicTable.read(spark, base).count() == 3 + 5 + 2,
      "a commit landing mid-append must not be lost")
  }

  test("publishAppend treats an IO failure mid-stage as a lost race: retry, not hard fail") {
    // the r12 ADVICE race: a concurrent keep=1 prune deletes the base
    // version while the append is hardlinking it — the resulting
    // IOException must discard the partial stage and RETRY (the stale-base
    // check would have discarded it anyway), not fail the whole append
    val base = freshBase()
    AtomicTable.overwrite(df(3), base, keep = 1)
    var calls = 0
    AtomicTable.publishAppend(base, keep = 2) { dir =>
      calls += 1
      if (calls == 1) throw new java.io.IOException("simulated prune race mid-link")
      df(2).coalesce(1).write.mode("append").parquet(dir)
    }
    assert(calls == 2, "the failed stage must retry exactly once")
    assert(AtomicTable.read(spark, base).count() == 5,
      "the retried append must land the batch on the current version")
    // the failed attempt's partial staged dir was discarded eagerly
    val vDirs = Files.list(Paths.get(base)).iterator().asScala
      .count(_.getFileName.toString.matches("_v\\d+"))
    assert(vDirs == 2, s"only base + committed append may remain, got $vDirs")
    // a PERSISTENT IO fault still surfaces through the attempt cap
    val e = intercept[IllegalStateException] {
      AtomicTable.publishAppend(base, keep = 2)(_ =>
        throw new java.io.IOException("disk on fire"))
    }
    assert(e.getMessage.contains("staging kept failing") &&
      e.getCause.isInstanceOf[java.io.IOException])
  }

  test("idempotent publish: replays skip, watermarks commit atomically and survive ordinary publishes") {
    val base = freshBase()
    def pub(v: Long, rows: Int, app: String = "app") =
      AtomicTable.publishIdempotent(base, app, v)(d =>
        df(rows).write.mode("overwrite").parquet(d))
    assert(pub(1L, 3), "first transaction must apply")
    assert(AtomicTable.read(spark, base).count() == 3)
    // replaying the SAME version with different data: skipped, untouched
    assert(!pub(1L, 99), "replayed transaction version must be skipped")
    assert(AtomicTable.read(spark, base).count() == 3)
    // ... and the skipped attempt's staged dir was discarded
    val vDirs = Files.list(Paths.get(base)).iterator().asScala
      .count(_.getFileName.toString.matches("_v\\d+"))
    assert(vDirs == 1, "a skipped replay must not strand its staged version")
    assert(!pub(0L, 99), "older versions are also replays")
    // an ordinary (non-txn) publish must CARRY the watermark forward
    AtomicTable.overwrite(df(5), base)
    assert(AtomicTable.txnLatest(base, "app").contains(1L),
      "ordinary publishes must not lose idempotent-writer watermarks")
    assert(!pub(1L, 99))
    // the next version applies; apps are independent
    assert(pub(2L, 7))
    assert(AtomicTable.read(spark, base).count() == 7)
    assert(pub(1L, 9, app = "other"))
    assert(AtomicTable.txnVersions(base) == Map("app" -> 2L, "other" -> 1L))
    assert(AtomicTable.read(spark, base).count() == 9)
  }

  test("shallow clone: zero-copy, pinned against source evolution AND retention, independent history") {
    val base = freshBase()
    val dst = base + "_clone"
    AtomicTable.overwrite(df(10), base)
    AtomicTable.cloneTable(base, dst)
    // zero bytes copied: every cloned parquet file shares its source's inode
    val srcV = Paths.get(AtomicTable.resolve(base).get)
    val dstV = Paths.get(AtomicTable.resolve(dst).get)
    val cloned = Files.list(dstV).iterator()
    var nParquet = 0
    while (cloned.hasNext) {
      val p = cloned.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        nParquet += 1
        assert(Files.isSameFile(p, srcV.resolve(p.getFileName.toString)),
          "cloned files must be hardlinks of the source version's files")
      }
    }
    assert(nParquet > 0)
    assert(AtomicTable.read(spark, dst).count() == 10)
    // the source moves on with keep=1 — the cloned version's DIRECTORY is
    // pruned out of the source, but the clone's links keep the inodes alive
    AtomicTable.overwrite(df(3), base, keep = 1)
    assert(AtomicTable.read(spark, dst).count() == 10,
      "source retention must never break a clone")
    // histories are independent in both directions
    AtomicTable.overwrite(df(5), dst)
    assert(AtomicTable.read(spark, dst).count() == 5)
    assert(AtomicTable.read(spark, base).count() == 3,
      "publishing to the clone must not touch the source")
    // refusals: no source version; target already a table
    intercept[IllegalStateException] {
      AtomicTable.cloneTable(base + "_never_published", freshBase())
    }
    intercept[IllegalArgumentException] { AtomicTable.cloneTable(base, dst) }
  }

  test("every mutation commits through _CURRENT, _LOG or a snapshot manifest: no sidecar commit files") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_tripwire")
    val base = tmp.resolve("t").toString
    def two(n: Int) = (1 to n).map(i => (i, i * 2)).toDF("x", "z")
    AtomicTable.overwrite(two(3), base, keep = 2)
    assert(AtomicTable.appendIdempotent(base, "app", 1L, keep = 2)(dir =>
      two(2).write.mode("append").parquet(dir)))
    AtomicTable.renameColumn(spark, base, "x", "y")
    AtomicTable.dropColumn(spark, base, "z")
    val clone = tmp.resolve("clone").toString
    AtomicTable.cloneTable(base, clone)
    assert(AtomicTable.readMapped(spark, clone).columns.toSeq == Seq("y"))
    assert(AtomicTable.readMapped(spark, base).count() == 5)
    assert(AtomicTable.txnLatest(base, "app").contains(1L))

    val root = tmp.resolve("lake").toString
    val members = Seq("a", "b").map { t =>
      t -> AtomicTable.stageVersion(s"$root/$t")(dir =>
        df(4).write.mode("overwrite").parquet(dir))
    }
    AtomicTable.commitSnapshot(root, members)
    assert(AtomicTable.readSnapshotTables(spark, root, Seq("a", "b"))
      .values.map(_.count()).sum == 8)

    val sink = tmp.resolve("sink").toString
    df(6).write.format("graft.sources.GraftSink").option("path", sink)
      .mode("append").save()
    assert(graft.sources.GraftSink.readBack(spark, sink, df(1).schema).count() == 6)

    def topFiles(d: String): Seq[String] = {
      val st = Files.list(Paths.get(d))
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
      finally st.close()
    }
    val allowed = Set("_CURRENT", "_LOG", "_LOCK", "_APPEND_LOCK")
    Seq(base, clone, s"$root/a", s"$root/b", sink).foreach { d =>
      val files = topFiles(d)
      assert(!files.exists(_.endsWith("._claim")), s"claim left at $d: $files")
      assert(files.toSet.subsetOf(allowed),
        s"sidecar commit files at $d: ${files.filterNot(allowed).mkString(",")}")
    }
    assert(!topFiles(root).contains("_SNAPSHOT"),
      "the newest _snapshots/sn_N is the live snapshot; no second pointer")
  }
}
