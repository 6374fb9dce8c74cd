package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.AtomicTable

/** Multi-table snapshot isolation (r10 verdict #5): a reader resolving the
  * snapshot manifest sees only a complete OLD or complete NEW table set —
  * never zone A from run N with zone B from run N−1. */
class SnapshotCommitSpec extends AnyFunSuite {
  import TestSpark._

  private val members = Seq("bronze/a", "silver/b", "gold/c")

  private def stageEpoch(root: String, epoch: Int): Seq[(String, String)] = {
    import spark.implicits._
    members.map { rel =>
      rel -> AtomicTable.stageVersion(s"$root/$rel") { dir =>
        Seq.tabulate(4)(i => (i.toLong, epoch)).toDF("id", "epoch")
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
    }
  }

  private def epochsVia(root: String): Set[Int] =
    AtomicTable.readSnapshotTables(spark, root, members).values
      .map(_.select("epoch").distinct().collect().map(_.getInt(0)).toSeq)
      .flatten.toSet

  test("staged-but-uncommitted tables stay invisible; commit flips all at once") {
    val root = Files.createTempDirectory("graft-snap").toString
    AtomicTable.commitSnapshot(root, stageEpoch(root, 1))
    assert(epochsVia(root) == Set(1))
    // epoch 2 fully staged — the mid-commit window: snapshot readers and
    // per-table readers must both still see the complete epoch-1 set
    val staged2 = stageEpoch(root, 2)
    assert(epochsVia(root) == Set(1))
    members.foreach { rel =>
      val e = AtomicTable.read(spark, s"$root/$rel")
        .select("epoch").distinct().collect().map(_.getInt(0)).toSeq
      assert(e == Seq(1), s"$rel leaked staged data: $e")
    }
    AtomicTable.commitSnapshot(root, staged2)
    assert(epochsVia(root) == Set(2))
    members.foreach { rel =>
      assert(AtomicTable.read(spark, s"$root/$rel")
        .select("epoch").head().getInt(0) == 2)
    }
  }

  test("a snapshot map resolved before a reload still reads (keep=2 retention)") {
    val root = Files.createTempDirectory("graft-snap").toString
    AtomicTable.commitSnapshot(root, stageEpoch(root, 1))
    val pinned = AtomicTable.resolveSnapshot(root).get
    AtomicTable.commitSnapshot(root, stageEpoch(root, 2))
    // the epoch-1 version dirs survive one reload under keep=2
    members.foreach { rel =>
      val df = spark.read.parquet(s"$root/$rel/${pinned(rel)}")
      assert(df.select("epoch").head().getInt(0) == 1)
    }
  }

  test("vacuum(member, keep=1) never deletes a snapshot-pinned version") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap").toString
    AtomicTable.commitSnapshot(root, stageEpoch(root, 1))
    val pinned = AtomicTable.resolveSnapshot(root).get
    // per-table maintenance advances one member THREE publishes past the
    // snapshot, each with keep=1 — the snapshot-pinned version must ride
    // through every retention sweep
    val member = s"$root/bronze/a"
    (10 to 12).foreach { e =>
      AtomicTable.publish(member, keep = 1)(dir =>
        Seq.tabulate(4)(i => (i.toLong, e)).toDF("id", "epoch")
          .coalesce(1).write.mode("overwrite").parquet(dir))
    }
    AtomicTable.vacuum(member, keep = 1)
    // the r11 latent bug: without manifest pins this directory is gone and
    // the "committed" snapshot read throws on a missing path
    assert(Files.exists(java.nio.file.Paths.get(member, pinned("bronze/a"))),
      "snapshot-pinned version was vacuumed")
    assert(epochsVia(root) == Set(1), "live snapshot must still read epoch 1")
    // the member's own live pointer serves the newest publish
    assert(AtomicTable.read(spark, member)
      .select("epoch").head().getInt(0) == 12)
  }

  test("snapshot history: readSnapshotTablesAt time-travels, aged-out ids un-pin") {
    val root = Files.createTempDirectory("graft-snap").toString
    val sn1 = AtomicTable.commitSnapshot(root, stageEpoch(root, 1))
    val sn2 = AtomicTable.commitSnapshot(root, stageEpoch(root, 2))
    val sn3 = AtomicTable.commitSnapshot(root, stageEpoch(root, 3))
    assert(Seq(sn1, sn2, sn3) == Seq(1L, 2L, 3L))
    // keep=2: sn1's manifest aged out, sn2+sn3 retained
    assert(AtomicTable.snapshotHistory(root) == Seq(2L, 3L))
    assert(AtomicTable.resolveSnapshotAt(root, sn1).isEmpty)
    // transaction-level VERSION AS OF: the PREVIOUS snapshot re-read in
    // full while the newer one is live — even after aggressive per-table
    // maintenance, because the retained manifest pins its versions
    members.foreach(rel => AtomicTable.vacuum(s"$root/$rel", keep = 1))
    val old = AtomicTable.readSnapshotTablesAt(spark, root, sn2, members)
    assert(old.values.map(_.select("epoch").head().getInt(0)).toSet == Set(2))
    assert(epochsVia(root) == Set(3))
    val gone = intercept[IllegalStateException] {
      AtomicTable.readSnapshotTablesAt(spark, root, sn1, members)
    }
    assert(gone.getMessage.contains("not in the retained history"))
  }

  test("concurrent reloads + aggressive member vacuums honor the keep=2 read contract") {
    // the r12 pin machinery under RACE: a maintenance job hammering
    // keep=1 vacuums on every member while reloads commit. The CONTRACT
    // (keep=2) is that a reader's resolved snapshot survives ONE
    // concurrent reload — so a read may fail ONLY when ≥2 reloads
    // completed since its resolution (its manifest aged out and un-pinned
    // legitimately); any failure inside the one-reload window is a pin
    // violation. Successful reads must never see a mixed epoch, and
    // vacuum itself never throws.
    // The writer is paced on the reader: each reload waits (at most 60 s)
    // until the reader has finished one attempt since the previous reload.
    // Unpaced, a reload could outrun a three-table read so that every read
    // straddled two reloads and none could succeed.
    val root = Files.createTempDirectory("graft-snap").toString
    AtomicTable.commitSnapshot(root, stageEpoch(root, 1))
    @volatile var writerDone = false
    @volatile var err: Throwable = null
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      try {
        var seen = attempts.get()
        (2 to 5).foreach { e =>
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (attempts.get() <= seen && System.nanoTime() < deadline) Thread.sleep(5)
          AtomicTable.commitSnapshot(root, stageEpoch(root, e))
          seen = attempts.get()
        }
      } catch { case t: Throwable => err = t }
      finally writerDone = true
    })
    val vacuumer = new Thread(() => {
      try while (!writerDone)
        members.foreach(rel => AtomicTable.vacuum(s"$root/$rel", keep = 1))
      catch { case t: Throwable => err = t }
    })
    writer.start(); vacuumer.start()
    var checks = 0
    try {
      while (!writerDone) {
        val id0 = AtomicTable.snapshotHistory(root).lastOption.getOrElse(0L)
        try {
          val es = epochsVia(root)
          assert(es.size == 1, s"mixed snapshot under vacuum race: epochs $es")
          checks += 1
        } catch {
          case t: org.apache.spark.SparkException =>
            val idNow = AtomicTable.snapshotHistory(root).lastOption.getOrElse(0L)
            assert(idNow - id0 >= 2,
              s"read failed after only ${idNow - id0} reload(s) since resolution — " +
                s"a retained manifest's pin was violated: $t")
        } finally attempts.incrementAndGet()
      }
    } finally { writer.join(); vacuumer.join() }
    assert(err == null, s"writer/vacuumer failed: $err")
    assert(checks > 0, "reader never overlapped the race")
    assert(epochsVia(root) == Set(5))
  }

  test("concurrent reloads never expose a mixed snapshot") {
    // NB the keep=2 contract bounds what a reader may assert: a read that
    // straddles ≥2 full reloads can legitimately lose its resolved
    // versions to retention (observed under host load — the pre-r12 form
    // of this test treated that as failure and flaked). Successful reads
    // must be single-epoch; failed reads must have straddled ≥2 reloads.
    val root = Files.createTempDirectory("graft-snap").toString
    AtomicTable.commitSnapshot(root, stageEpoch(root, 1))
    @volatile var writerDone = false
    @volatile var writerErr: Throwable = null
    val writer = new Thread(() => {
      try (2 to 5).foreach(e => AtomicTable.commitSnapshot(root, stageEpoch(root, e)))
      catch { case t: Throwable => writerErr = t }
      finally writerDone = true
    })
    writer.start()
    var checks = 0
    try {
      while (!writerDone) {
        val id0 = AtomicTable.snapshotHistory(root).lastOption.getOrElse(0L)
        try {
          val es = epochsVia(root)
          assert(es.size == 1, s"mixed snapshot observed: epochs $es")
          checks += 1
        } catch {
          case t: org.apache.spark.SparkException =>
            val idNow = AtomicTable.snapshotHistory(root).lastOption.getOrElse(0L)
            assert(idNow - id0 >= 2,
              s"read failed after only ${idNow - id0} reload(s) since resolution: $t")
        }
      }
    } finally writer.join()
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(checks > 0, "reader never overlapped the writer")
    assert(epochsVia(root) == Set(5))
  }

  test("restoreSnapshot re-commits an old manifest without touching any version dir") {
    val root = Files.createTempDirectory("graft-snap").toString
    val sn1 = AtomicTable.commitSnapshot(root, stageEpoch(root, 1))
    AtomicTable.commitSnapshot(root, stageEpoch(root, 2))
    // aggressive per-table maintenance: only manifest pins keep epoch 1
    members.foreach(rel => AtomicTable.vacuum(s"$root/$rel", keep = 1))
    val dirsBefore = members.map { rel =>
      val p = java.nio.file.Paths.get(s"$root/$rel")
      val l = Files.list(p)
      try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
    }
    val sn3 = AtomicTable.restoreSnapshot(root, sn1)
    assert(sn3 > sn1)
    // O(manifest): no member gained or lost a version directory
    val dirsAfter = members.map { rel =>
      val p = java.nio.file.Paths.get(s"$root/$rel")
      val l = Files.list(p)
      try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
    }
    assert(dirsBefore.zip(dirsAfter).forall { case (b, a) =>
      b.filter(_.startsWith("_v")) == a.filter(_.startsWith("_v")) },
      "restoreSnapshot must not create or delete version directories")
    // the LIVE snapshot is epoch 1 again; the bad epoch 2 stays in history
    assert(epochsVia(root) == Set(1))
    // and the PER-TABLE pointers rolled back too: a plain AtomicTable.read
    // of each member must serve the restored epoch, not the bad deploy —
    // the forward-only compat refresh alone would leave a permanent
    // split-brain between snapshot readers and per-table readers
    members.foreach { rel =>
      val got = AtomicTable.read(spark, s"$root/$rel")
        .select("epoch").distinct().collect().map(_.getInt(0)).toSet
      assert(got == Set(1),
        s"per-table read of $rel must follow the restore, got epochs $got")
    }
    val snaps = AtomicTable.snapshotHistory(root)
    assert(snaps.contains(sn3) && snaps.size >= 2)
    // further member maintenance must not break the restored read
    members.foreach(rel => AtomicTable.vacuum(s"$root/$rel", keep = 1))
    assert(epochsVia(root) == Set(1))
    // an aged-out (dropped) snapshot id refuses to restore
    intercept[IllegalArgumentException] {
      AtomicTable.restoreSnapshot(root, 99999L)
    }
  }

  test("checked snapshot commit: one dirty member refuses the WHOLE transaction, discarding every staged dir") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap").toString
    def versionDirs(rel: String): Int = {
      val p = java.nio.file.Paths.get(s"$root/$rel")
      if (!Files.isDirectory(p)) return 0
      val l = Files.list(p)
      try l.iterator().asScala.count(
        _.getFileName.toString.matches("_v\\d+"))
      finally l.close()
    }
    val clean = Seq(1, 2, 3).toDF("x")
    val dirty = Seq(Some(1), None, Some(3)).toDF("x")
      .withColumn("x", col("x") - lit(2)) // -1, null, 1: one FALSE row
    // stage both members; a (clean) and b (violating x > 0)
    val sa = AtomicTable.stageChecked(s"$root/a", clean,
      Map("pos" -> (col("x") > 0)))
    val sb = AtomicTable.stageChecked(s"$root/b", dirty,
      Map("pos" -> (col("x") > 0)))
    assert(sa._2.isEmpty && sb._2 == Map("pos" -> 1L),
      "NULL passes; only the FALSE row counts")
    // refuse atomically: discard BOTH, commit nothing — including the
    // member that was clean
    AtomicTable.discardStaged(s"$root/a", sa._1)
    AtomicTable.discardStaged(s"$root/b", sb._1)
    assert(AtomicTable.resolveSnapshot(root).isEmpty, "nothing committed")
    assert(versionDirs("a") == 0 && versionDirs("b") == 0,
      "refusal must discard every staged member, clean ones included")
    // the clean retry commits normally
    val ra = AtomicTable.stageChecked(s"$root/a", clean, Map("pos" -> (col("x") > 0)))
    val rb = AtomicTable.stageChecked(s"$root/b", clean, Map("pos" -> (col("x") > 0)))
    assert(ra._2.isEmpty && rb._2.isEmpty)
    AtomicTable.commitSnapshot(root, Seq("a" -> ra._1, "b" -> rb._1))
    val t = AtomicTable.readSnapshotTables(spark, root, Seq("a", "b"))
    assert(t("a").count() == 3 && t("b").count() == 3)
  }
}
