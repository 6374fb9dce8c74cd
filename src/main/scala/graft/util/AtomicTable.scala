package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Poor-man's atomic table commit over plain parquet directories — the
  * crash-safe substitute for a transactional table format (no Delta/Iceberg
  * jars in this environment; if they appear, each `publish` becomes a
  * `MERGE`/`REPLACE TABLE` and this object retires).
  *
  * Every table-format mutation commits through one of two records: a
  * table's `_CURRENT`, or a snapshot root's newest `_snapshots/sn_<N>`.
  * Layout under a logical table path `base`:
  * {{{
  *   base/_v<N>/         immutable published versions (ordinary parquet dirs)
  *   base/_v<N>/_SCHEMA  the version's Spark schema (StructType JSON), present
  *                       only when every data file of the version carries
  *                       that same schema in its footer's Spark row metadata
  *   base/_v<N>._claim   heartbeat marker of a version still being staged
  *   base/_CURRENT       the commit record: live version name on line 1,
  *                       then `txn <appId> <version>` watermarks and
  *                       `col <physical> <logical>` column-mapping lines
  *   base/_LOG           published-version lineage, one line per version
  *   base/_LOCK          OS lock file serializing commits
  *   base/_APPEND_LOCK   OS lock file serializing appends
  * }}}
  * and under a snapshot root `root` (multi-table commits):
  * {{{
  *   root/_snapshots/sn_<N>   retained snapshot manifests; the highest N
  *                            is the live snapshot
  *   root/_LOCK               OS lock file serializing snapshot commits
  * }}}
  * Records are replaced by writing `<name>.tmp` and renaming it over the
  * record, so a `.tmp` file exists only while a commit is in flight.
  *
  * Every read of a version scans it with its `_SCHEMA` ([[scanVersion]]),
  * so Spark runs no schema-inference job; a version without one (written
  * before the record existed, or with footers that disagree) is read by
  * inference, as a plain parquet directory.
  *
  * `publish` writes the new version to a fresh `_v<N>` directory, then
  * replaces `_CURRENT` with an atomic rename (write a tmp file,
  * `Files.move(ATOMIC_MOVE | REPLACE_EXISTING)` = POSIX `rename(2)`; on an
  * object store the equivalent is the atomic PUT of the pointer object).
  * A crash at ANY point leaves `_CURRENT` referencing a fully-written
  * version: before the pointer move readers still see the previous
  * version; after it they see the new one. There is no delete-then-move
  * window — stale versions are pruned only AFTER the pointer is live, and
  * a crash during pruning strands garbage, never the table.
  *
  * Concurrent writers are safe (beyond the reference's single-writer
  * truncate-and-reload batch model, etl_lakehouse.py:21-35):
  *  - version ALLOCATION is an optimistic claim — `Files.createDirectory`
  *    on `_v<N>` is atomic create-or-fail, and the loser retries with the
  *    next number, so two racing publishes never write into one directory;
  *  - the COMMIT section (pointer swap + log append + prune) is serialized
  *    by a per-table JVM lock plus an OS file lock on `base/_LOCK`
  *    (cross-process), so log entries cannot be lost to interleaved
  *    read-modify-write — last committer's version wins the pointer, both
  *    versions enter the lineage;
  *  - pruning distinguishes PUBLISHED versions beyond the retention tail
  *    (in the log — immutable, deleted immediately) from UNPUBLISHED dirs,
  *    which are either crashed orphans or a concurrent writer's in-flight
  *    claim: those are reaped only after `OrphanTtlMs` of inactivity,
  *    exactly the VACUUM-retention-window reasoning of transactional table
  *    formats.
  *
  * Commit cost under version churn (measured flat, ConcurrentStressSpec
  * "publish latency" — v200 ≈ v6 at ~5 ms): the only per-version residue
  * a publish leaves is one ~25-byte line in the lineage `_LOG`, rewritten
  * whole under the commit lock — a named O(versions) term that reaches
  * ~5 KB at v200 and ~2.5 MB at v100k (a real deployment compacting the
  * log into checkpointed segments, as the transactional formats do, would
  * cap it). Version DIRECTORIES are pruned to the keep tail at every
  * commit, so directory listing, pointer parse and prune all stay O(keep). */
object AtomicTable {

  private val PointerFile = "_CURRENT"
  private val VersionRe = "_v(\\d+)".r

  /** Unpublished version dirs whose claim heartbeat is older than this are
    * presumed crashed orphans and reaped by pruning (var: specs shrink it
    * to exercise orphan reaping without waiting an hour). A LIVE writer is
    * protected regardless of write duration: its heartbeat thread
    * refreshes the claim marker every TTL/4, so only a writer whose JVM
    * died stops refreshing. */
  @volatile var OrphanTtlMs: Long = 60L * 60L * 1000L

  // per-table intra-JVM commit locks (file locks alone throw
  // OverlappingFileLockException for two threads of one JVM). The OS
  // FileChannel lock underneath is the POSIX stand-in for the object
  // stores' CONDITIONAL PUT: on S3/GCS the atomic-rename-of-_CURRENT
  // becomes "PUT the next commit object if absent" (If-None-Match: * /
  // if-generation-match: 0), the loser's 412 is the lost race, and the
  // optimistic retry loops above are unchanged — they already assume
  // the base version can move between stage and commit. Two JVMs
  // contending on one table serialize only through this OS lock
  // (CrossProcessLockSpec).
  private val jvmLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private[graft] def withCommitLock[T](root: Path)(body: => T): T = {
    // normalize(): two spellings of one table ('/lake/t' vs
    // '/lake/../lake/t') must map to ONE jvm lock, or both threads reach
    // FileChannel.lock on the same _LOCK and the second throws
    // OverlappingFileLockException instead of serializing
    val jvmLock = jvmLocks.getOrElseUpdate(
      root.toAbsolutePath.normalize.toString, new Object)
    jvmLock.synchronized {
      val ch = java.nio.channels.FileChannel.open(root.resolve("_LOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try body finally l.release() }
      finally ch.close()
    }
  }

  private def versions(root: Path): Seq[(Long, Path)] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val stream = Files.list(root)
      try stream.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case VersionRe(n) => Some((n.toLong, p))
          case _            => None
        }
      }.toSeq
      finally stream.close() // directory streams hold an fd until closed
    }

  /** One parse of the `_CURRENT` commit record. Keeping the txn
    * watermarks and the column mapping INSIDE the record that names the
    * live version makes {data visible, txn recorded, schema mapped} a
    * SINGLE atomic rename — the Delta-log analog, where SetTransaction and
    * metaData actions commit in the same log entry as the files they
    * cover; any two-file scheme has a crash window that loses a batch,
    * double-applies it, or shows a version under the wrong names. `cols`
    * is None when no mapping was ever created (identity). */
  private final case class PointerRecord(version: Option[String],
      txn: Map[String, Long], cols: Option[Seq[(String, String)]]) {
    def dir(base: String): Option[String] = version.map(base + "/" + _)
    def liveDir(base: String): String = dir(base).getOrElse(
      throw new IllegalStateException(s"no published version at $base"))
  }

  private def readPointer(base: String): PointerRecord = {
    val ptr = Paths.get(base, PointerFile)
    val lines =
      if (!Files.exists(ptr)) Seq.empty
      else Files.readString(ptr).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val txn = lines.drop(1).flatMap(_.split(' ') match {
      case Array("txn", app, v) => v.toLongOption.map(app -> _)
      case _                    => None
    }).toMap
    val cols = lines.drop(1).filter(_.startsWith("col ")).map { l =>
      val e = l.substring(4)
      val i = e.indexOf(' ')
      require(i > 0 && i < e.length - 1, s"torn column-mapping line in $ptr: '$l'")
      (e.substring(0, i), e.substring(i + 1))
    }
    PointerRecord(lines.headOption, txn, Some(cols).filter(_.nonEmpty))
  }

  /** Replace the commit record — caller must hold the commit lock. */
  private def writePointerLocked(base: String, rec: PointerRecord): Unit = {
    val lines = rec.version.toSeq ++
      rec.txn.toSeq.sortBy(_._1).map { case (app, v) => s"txn $app $v" } ++
      rec.cols.toSeq.flatten.map { case (p, l) => s"col $p $l" }
    val root = Paths.get(base)
    val tmp = root.resolve(PointerFile + ".tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, root.resolve(PointerFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Live version directory, or None if never published. */
  def resolve(base: String): Option[String] = readPointer(base).dir(base)

  /** The committed idempotent-writer watermarks: appId → highest
    * transaction version ever committed for that app. */
  def txnVersions(base: String): Map[String, Long] = readPointer(base).txn

  /** Highest committed transaction version for `appId`, if any. */
  def txnLatest(base: String, appId: String): Option[Long] =
    txnVersions(base).get(appId)

  def exists(base: String): Boolean = resolve(base).isDefined

  /** DataFrame over the version that is current NOW. The plan is pinned
    * to that version directory, so it stays consistent while later
    * publishes happen — but with `keep = 1` the NEXT publish prunes the
    * directory out from under a still-held DataFrame. A reader that must
    * survive concurrent reloads needs the writer to publish with
    * `keep >= 2` (retention is the crash-safe answer to read/prune races,
    * exactly as in transactional table formats). */
  def read(s: SparkSession, base: String): DataFrame =
    scanVersion(s, readPointer(base).liveDir(base))

  private val Log = "_LOG"

  /** Published-version lineage, oldest first: the `_LOG` records every
    * pointer swap, so published versions are distinguishable from
    * crashed-orphan directories. Only versions still on disk are
    * returned — i.e. the time-travel horizon. */
  def history(base: String): Seq[String] = {
    val log = Paths.get(base, Log)
    if (!Files.exists(log)) Seq.empty
    else {
      val onDisk = versions(Paths.get(base)).map(_._2.getFileName.toString).toSet
      Files.readString(log).linesIterator.map(_.trim).filter(onDisk).toSeq
    }
  }

  /** Read a retained historical version by name from [[history]]. */
  def readVersion(s: SparkSession, base: String, version: String): DataFrame = {
    require(history(base).contains(version),
      s"version $version is not in the published, still-retained history of $base")
    scanVersion(s, base + "/" + version)
  }

  /** Atomically publish one new version of the table at `base`. `write` is
    * handed the claimed version directory — which ALREADY EXISTS (empty;
    * the atomic createDirectory IS the concurrent-writer claim), so
    * writers must use overwrite mode (`df.write.mode("overwrite")
    * .parquet(_)`) — and must fully materialize it; the version becomes
    * visible only via the subsequent pointer swap. `keep` > 1 retains that
    * many published versions for time travel ([[readVersion]]); aged-out
    * published versions are pruned only AFTER the new pointer is live,
    * unpublished dirs only after [[OrphanTtlMs]] of inactivity. */
  def publish(base: String, keep: Int = 1)(write: String => Unit): Unit = {
    require(keep >= 1, "must keep at least the current version")
    val name = stageVersion(base)(write)
    commitVersion(base, name, keep)
  }

  /** Claim and FULLY WRITE a new version directory without making it
    * visible — the staging half of [[publish]], exposed so a multi-table
    * transaction can stage every member first and then swap all pointers
    * in one commit ([[commitSnapshot]]). Returns the staged version name
    * (`_v<N>`). The claim heartbeat protects the directory from orphan
    * pruning while the write runs; after return it ages out on
    * [[OrphanTtlMs]], so commit promptly. */
  def stageVersion(base: String)(write: String => Unit): String =
    stageLinked(base) { dir => write(dir); Some(Set.empty) }

  /** [[stageVersion]] for writers that first hard-link files of an earlier
    * version into the staged directory: `write` returns the top-level names
    * it linked, or None when staging failed and the directory is about to
    * be discarded. After `write`, the version's schema record is written
    * from the footers of the files it added ([[recordSchema]]). */
  private def stageLinked(base: String)(write: String => Option[Set[String]]): String = {
    val root = Paths.get(base)
    Files.createDirectories(root)
    // optimistic version claim: atomic create-or-fail on the next number;
    // a racing writer that claims it first just pushes us to number+1
    var name: String = null
    var n = versions(root).map(_._1).maxOption.getOrElse(0L) + 1L
    while (name == null) {
      try { Files.createDirectory(root.resolve(s"_v$n")); name = s"_v$n" }
      catch { case _: java.nio.file.FileAlreadyExistsException => n += 1L }
    }
    // claim heartbeat, as a SIBLING file (inside the dir it would die to
    // the parquet writer's overwrite): pruning judges in-flight-ness by
    // this marker's mtime, not the version dir's — a Spark job that
    // stages in _temporary for longer than OrphanTtlMs never refreshes
    // the top-level dir mtime, so dir-mtime reaping would kill a live
    // hour-long write. The daemon re-touches it every TTL/4, so the
    // marker goes stale only when the writing JVM actually died.
    val claim = root.resolve(name + "._claim")
    Files.writeString(claim, java.lang.Long.toString(System.currentTimeMillis()))
    val heartbeat = new Thread(() =>
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(250L, OrphanTtlMs / 4))
          try Files.setLastModifiedTime(claim,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          catch { case _: java.io.IOException => () } // marker gone: stop quietly
        }
      } catch { case _: InterruptedException => () },
      s"graft-claim-heartbeat-$name")
    heartbeat.setDaemon(true)
    heartbeat.start()
    // crash before the swap: pointer untouched
    try write(base + "/" + name).foreach(recordSchema(root.resolve(name), _))
    finally { heartbeat.interrupt(); heartbeat.join() }
    name
  }

  /** The commit half of [[publish]]: swap `_CURRENT` to an already-staged
    * version, append the lineage log, prune aged-out versions. */
  def commitVersion(base: String, name: String, keep: Int = 1): Unit = {
    require(keep >= 1, "must keep at least the current version")
    withCommitLock(Paths.get(base)) { commitVersionLocked(base, name, keep) }
  }

  private def versionNum(name: String): Long = name match {
    case VersionRe(n) => n.toLong
    case _            => Long.MaxValue
  }

  /** [[commitVersion]] that refuses to move `_CURRENT` BACKWARDS — the
    * compatibility-pointer refresh after a snapshot commit: two
    * overlapping reloads both commit their snapshots successfully, but
    * their per-table pointer refreshes race last-write-wins, and without
    * this guard the slower (older) reload could regress a member's
    * `_CURRENT` below the live snapshot indefinitely. Version numbers are
    * allocation-monotonic per table, so newer-reload ⇒ higher number; an
    * already-newer pointer makes this a prune-only no-op. (Deliberate
    * rollback to an older version goes through [[commitVersion]], which
    * keeps last-write-wins semantics.) */
  private[graft] def commitVersionIfNewer(base: String, name: String, keep: Int): Unit =
    withCommitLock(Paths.get(base)) {
      val cur = resolve(base)
        .map(p => versionNum(Paths.get(p).getFileName.toString)).getOrElse(-1L)
      if (versionNum(name) >= cur) commitVersionLocked(base, name, keep)
      else pruneLocked(base, keep)
    }

  /** Body of a version commit — caller must hold the commit lock. The
    * record swap CARRIES FORWARD the committed txn watermark map (merging
    * in `txn`, keeping the max per app) and the column mapping (replaced
    * by `cols` when given), so both survive ordinary publishes and commit
    * atomically with the data they cover. */
  private def commitVersionLocked(base: String, name: String, keep: Int,
      txn: Option[(String, Long)] = None,
      cols: Option[Seq[(String, String)]] = None): Unit = {
    val root = Paths.get(base)
    val prev = readPointer(base)
    val merged = txn.fold(prev.txn) { case (app, v) =>
      prev.txn.updated(app, math.max(v, prev.txn.getOrElse(app, Long.MinValue)))
    }
    writePointerLocked(base, PointerRecord(Some(name), merged, cols.orElse(prev.cols)))
    // lineage append — rewritten whole + atomic move under the commit
    // lock (metadata only; a crash here costs time-travel history,
    // never the live table). The log is the PUBLISHED SET: re-committing
    // an already-logged version (a snapshot-refresh retry, or
    // restoreSnapshot re-pointing members at historical versions) must
    // not append a duplicate line — a duplicate would shrink
    // pruneLocked's takeRight(keep) retention tail and prematurely
    // prune the previous version out from under the keep contract.
    val logPath = root.resolve(Log)
    val prevLog = if (Files.exists(logPath)) Files.readString(logPath) else ""
    if (!prevLog.linesIterator.map(_.trim).contains(name)) {
      val logTmp = root.resolve(Log + ".tmp")
      Files.writeString(logTmp, prevLog + name + "\n")
      Files.move(logTmp, logPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    // committed: the claim marker is cleanup, not correctness — a
    // transient IO failure here must not fail a publish whose pointer
    // swap is already live (the orphan pruner reaps it after the TTL)
    try Files.deleteIfExists(root.resolve(name + "._claim"))
    catch { case _: java.io.IOException => () }
    pruneLocked(base, keep)
  }

  /** The retention sweep shared by [[commitVersion]] and [[vacuum]] —
    * caller must hold the commit lock. Published versions beyond the
    * `keep` newest are removed immediately (immutable, never in-flight)
    * UNLESS an enclosing snapshot root's retained manifests still name
    * them ([[snapshotPinned]] — a `vacuum(member, keep=1)` must never
    * delete a version a committed snapshot resolves to, or
    * [[readSnapshotTables]] would throw on a "committed" snapshot);
    * unpublished dirs only once their claim heartbeat (falling back to
    * dir mtime for pre-claim-era or hand-made dirs) is older than
    * [[OrphanTtlMs]] — they may be a concurrent writer's claim mid-write
    * (the VACUUM retention window). Returns directories removed. */
  private def pruneLocked(base: String, keep: Int): Int = {
    val root = Paths.get(base)
    val published = history(base)
    // three retention sources, all mandatory: the keep-newest tail of the
    // LOG; snapshot-manifest pins; and the version _CURRENT itself names.
    // The last one covers the crash window between the pointer swap and
    // the log append in commitVersion — a live-but-unlogged version would
    // otherwise age into an "orphan" and a later vacuum would delete the
    // table out from under its own pointer.
    val livePointer =
      resolve(base).map(p => Paths.get(p).getFileName.toString).toSet
    val retained =
      published.takeRight(keep).toSet ++ snapshotPinned(root) ++ livePointer
    val publishedSet = published.toSet
    val now = System.currentTimeMillis()
    var removed = 0
    versions(root)
      .filterNot(v => retained(v._2.getFileName.toString))
      .filter { case (_, p) =>
        val vn = p.getFileName.toString
        val claimP = root.resolve(vn + "._claim")
        val lastAlive =
          if (Files.exists(claimP)) Files.getLastModifiedTime(claimP).toMillis
          else Files.getLastModifiedTime(p).toMillis
        publishedSet(vn) || (now - lastAlive) > OrphanTtlMs
      }
      .foreach { case (_, p) =>
        try {
          deleteRecursively(p)
          Files.deleteIfExists(root.resolve(p.getFileName.toString + "._claim"))
          removed += 1
        } catch { case _: java.io.IOException => () }
      }
    removed
  }

  // -------------------------------------- multi-table snapshot commits

  private val SnapshotsDir = "_snapshots"
  private val SnapRe = "sn_(\\d+)".r

  private def snapshotIds(rootP: Path): Seq[Long] = {
    val dir = rootP.resolve(SnapshotsDir)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.flatMap(_.getFileName.toString match {
        case SnapRe(n) => Some(n.toLong)
        case _         => None
      }).toSeq
      finally stream.close()
    }
  }

  /** Manifest lines are `<table-rel-path> <version>`; malformed lines
    * (no separator — a torn hand-edit, or a FOREIGN `_snapshots/` file
    * adopted by [[snapshotPinned]]'s ancestor walk) are SKIPPED, not
    * thrown on: a parse error propagating out of pruneLocked would fail
    * every publish under that subtree. */
  private def parseManifest(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).flatMap { l =>
      val i = l.lastIndexOf(' ')
      if (i <= 0 || i == l.length - 1) None
      else Some(l.substring(0, i) -> l.substring(i + 1))
    }.toMap

  /** Member-table versions pinned by an enclosing snapshot root: walk up
    * from the table directory to the nearest ancestor carrying a
    * `_snapshots/` directory, and collect every version that any RETAINED
    * manifest (the live one is the newest) names for this table's
    * relative path. These versions must survive any
    * retention sweep — per-table `vacuum`/`commitVersion` maintenance
    * must never break a committed snapshot read. Manifest files are
    * written with atomic moves, so the lock-free reads here see only
    * complete old or complete new content; a manifest deleted between
    * list and read (a concurrent snapshot commit's history prune) is
    * skipped — its pins were un-pinned by that very commit. */
  private def snapshotPinned(base: Path): Set[String] = {
    val abs = base.toAbsolutePath.normalize
    var anc: Path = abs.getParent
    var rel: String = abs.getFileName.toString
    var root: Path = null
    while (anc != null && root == null) {
      if (Files.isDirectory(anc.resolve(SnapshotsDir))) root = anc
      else {
        val fn = anc.getFileName
        if (fn == null) anc = null
        else { rel = fn.toString + "/" + rel; anc = anc.getParent }
      }
    }
    if (root == null) return Set.empty
    val snDir = root.resolve(SnapshotsDir)
    snapshotIds(root).flatMap { n =>
      val text = try Files.readString(snDir.resolve(s"sn_$n"))
        catch { case _: java.io.IOException => "" }
      parseManifest(text).get(rel)
    }.toSet
  }

  /** Member-table versions pinned by enclosing snapshot manifests — the
    * [[snapshotPinned]] set, exposed for sidecar retention that must honor
    * the same pins (e.g. [[graft.ops.MergeOnRead.vacuumChanges]]: a change
    * commit whose base version a retained snapshot still names must
    * survive the sweep, or a snapshot reader replaying the feed forward
    * from its pinned state would find a hole). */
  private[graft] def snapshotPinnedVersions(base: String): Set[String] =
    snapshotPinned(Paths.get(base))

  /** Parse `_v<N>` → N (MaxValue for non-version names) — exposed for
    * sidecar retention comparing commit base versions against pins. */
  private[graft] def versionNumOf(name: String): Long = versionNum(name)

  /** Commit a MULTI-TABLE transaction: one atomic rename of the next
    * snapshot manifest `root/_snapshots/sn_<N>` — a file naming every
    * member table's (already-staged, [[stageVersion]]) version — makes
    * the whole set visible at once, because the highest retained `sn_<N>`
    * IS the live snapshot: the cross-table analog of `_CURRENT` (the
    * Delta-log `txn` / Iceberg snapshot shape). A reader that resolves
    * the snapshot ([[resolveSnapshot]]/[[readSnapshot]]) therefore sees
    * only a complete OLD set or a complete NEW set, never a mix — the
    * isolation the reference's dual-system comparison implicitly assumes
    * of one consistent load.
    *
    * AFTER the snapshot is live, each member's per-table `_CURRENT` is
    * refreshed through the normal [[commitVersion]] (lineage log, prune
    * with `keep`), so per-table readers keep working; they get only
    * per-table atomicity, exactly as before — the snapshot manifest is
    * the cross-table source of truth. `keep` defaults to 2 so a reader
    * holding the PREVIOUS snapshot survives one concurrent reload (the
    * same retention answer transactional formats give the read/prune
    * race).
    *
    * The older manifests are the transaction-level lineage
    * ([[snapshotHistory]] / [[readSnapshotTablesAt]] are the `DESCRIBE
    * HISTORY` / `VERSION AS OF` analogs at snapshot grain). The `keep`
    * newest manifests are retained; each retained manifest PINS its
    * member versions against per-table retention sweeps
    * ([[snapshotPinned]]), so time travel to any retained snapshot is
    * guaranteed to resolve. Returns the committed snapshot id. */
  def commitSnapshot(root: String, entries: Seq[(String, String)],
      keep: Int = 2): Long = {
    require(keep >= 1, "must keep at least the committed snapshot")
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val content = entries.map { case (t, v) => s"$t $v" }.mkString("", "\n", "\n")
    val id = withCommitLock(rootP) {
      val snDir = rootP.resolve(SnapshotsDir)
      Files.createDirectories(snDir)
      val next = snapshotIds(rootP).maxOption.getOrElse(0L) + 1L
      // this move is the commit: readers list the directory and take the
      // highest id, and a manifest is never torn (tmp + rename)
      val tmp = snDir.resolve(s"h$next.tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, snDir.resolve(s"sn_$next"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // snapshot-level retention: dropping an aged-out manifest is what
      // UN-pins its member versions — the next per-table sweep reclaims
      // them. Best-effort: a stranded manifest pins disk, never wrongness.
      snapshotIds(rootP).sorted.dropRight(keep).foreach { old =>
        try Files.deleteIfExists(snDir.resolve(s"sn_$old"))
        catch { case _: java.io.IOException => () }
      }
      next
    }
    // compatibility pointers — refreshed CONCURRENTLY (each member is an
    // independent table with its own lock; the serial fsync+rename loop
    // was the dominant post-manifest cost on wide snapshots), and only
    // FORWARD (commitVersionIfNewer — a slower overlapping reload must
    // not regress a member's pointer below the live snapshot). A crash or
    // failure here leaves some _CURRENTs stale, but the snapshot (already
    // live) stays complete and correct.
    Par.blockingMap(entries) { case (t, v) =>
      commitVersionIfNewer(s"$root/$t", v, keep)
    }
    id
  }

  /** Committed-snapshot lineage still on disk, oldest first — the
    * transaction-level time-travel horizon. */
  def snapshotHistory(root: String): Seq[Long] =
    snapshotIds(Paths.get(root)).sorted

  /** `RESTORE` at TRANSACTION grain — the snapshot-level twin of
    * [[restore]]: re-commit a retained historical snapshot's exact
    * table→version map as a NEW snapshot. Roll-forward, O(manifest):
    * no version directory is touched at all — the old members are still
    * on disk precisely because their manifest pinned them
    * ([[snapshotPinned]]), and the new manifest re-pins them; the bad
    * snapshot stays in history under its own id. Returns the new
    * snapshot id. */
  def restoreSnapshot(root: String, id: Long, keep: Int = 2): Long = {
    val entries = resolveSnapshotAt(root, id).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $id is not in the retained history of $root"))
    val sorted = entries.toSeq.sortBy(_._1)
    val newId = commitSnapshot(root, sorted, keep)
    // commitSnapshot's compatibility refresh is deliberately
    // forward-only (commitVersionIfNewer — an overlapping ordinary
    // reload must never regress a pointer), so for a RESTORE the member
    // `_CURRENT`s must be rolled BACK explicitly through the
    // last-write-wins commit: without this, per-table readers would keep
    // serving the bad-deploy versions forever while snapshot readers see
    // the restored state — a permanent split-brain. Re-pointing at an
    // already-logged version appends no duplicate lineage line.
    Par.blockingMap(sorted) { case (t, v) => commitVersion(s"$root/$t", v, keep) }
    newId
  }

  /** The table → version map of a retained historical snapshot. */
  def resolveSnapshotAt(root: String, id: Long): Option[Map[String, String]] = {
    val p = Paths.get(root, SnapshotsDir, s"sn_$id")
    if (!Files.exists(p)) None else Some(parseManifest(Files.readString(p)))
  }

  /** Time travel at the TRANSACTION level: open every requested member at
    * the version pinned by retained snapshot `id` — the `VERSION AS OF`
    * analog for a multi-table commit. Retained manifests pin their member
    * versions against per-table sweeps ([[snapshotPinned]]), so this read
    * cannot race a vacuum into a missing directory. */
  def readSnapshotTablesAt(s: SparkSession, root: String, id: Long,
      tables: Seq[String]): Map[String, DataFrame] = {
    val m = resolveSnapshotAt(root, id).getOrElse(
      throw new IllegalStateException(
        s"snapshot $id is not in the retained history at $root " +
          s"(retained: ${snapshotHistory(root).mkString(",")})"))
    tables.map { t =>
      val v = m.getOrElse(t,
        throw new IllegalStateException(s"table $t is not in snapshot $id at $root"))
      t -> scanVersion(s, s"$root/$t/$v")
    }.toMap
  }

  /** The live snapshot's table → version map (the highest retained
    * manifest), or None if never committed. A manifest pruned between the
    * listing and the read was superseded by newer commits, so the lookup
    * lists again — it never falls back to an older id. */
  def resolveSnapshot(root: String): Option[Map[String, String]] = {
    val rootP = Paths.get(root)
    snapshotIds(rootP).maxOption.flatMap { n =>
      val read =
        try Some(parseManifest(Files.readString(
          rootP.resolve(SnapshotsDir).resolve(s"sn_$n"))))
        catch { case _: java.nio.file.NoSuchFileException => None }
      read.orElse(resolveSnapshot(root))
    }
  }

  /** Read `table` at the version pinned by ONE resolution of the live
    * snapshot — for cross-table consistency, resolve once and read every
    * member through the returned map ([[readSnapshotTables]]). */
  def readSnapshot(s: SparkSession, root: String, table: String): DataFrame =
    readSnapshotTables(s, root, Seq(table))(table)

  /** Resolve the snapshot ONCE and open every requested member at its
    * pinned version — the multi-table consistent read. */
  def readSnapshotTables(s: SparkSession, root: String,
      tables: Seq[String]): Map[String, DataFrame] = {
    val m = resolveSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    tables.map { t =>
      val v = m.getOrElse(t,
        throw new IllegalStateException(s"table $t is not in the snapshot at $root"))
      t -> scanVersion(s, s"$root/$t/$v")
    }.toMap
  }

  def overwrite(df: DataFrame, base: String, keep: Int = 1): Unit =
    publish(base, keep)(df.write.mode("overwrite").parquet(_))

  /** The `RESTORE TABLE ... TO VERSION AS OF` verb: re-publish a retained
    * historical version as the NEW current version. Roll-FORWARD, exactly
    * as in the transactional formats — the bad version stays in history
    * (auditable, still time-travelable under the retention window), and a
    * crash mid-restore leaves the table untouched because the restored
    * copy goes through the same stage-then-swap path as any publish.
    *
    * Cost is O(files), not O(data): the new version directory HARDLINKS
    * the source version's files (falling back to copy where the
    * filesystem refuses links) — the local-FS analog of Delta RESTORE,
    * which re-adds the old version's data FILES to the log rather than
    * rewriting them. No Spark job runs at all. Retention stays safe: a
    * pruned source version loses only its own directory entries; the
    * restored version's links keep the shared inodes alive. */
  def restore(base: String, version: String, keep: Int = 2): Unit = {
    require(keep >= 1, "must keep at least the current version")
    require(history(base).contains(version),
      s"version $version is not in the published, still-retained history of $base")
    val name = stageLinked(base)(dir => Some(linkFilesInto(Paths.get(base, version), dir)))
    commitVersion(base, name, keep)
  }

  /** Hardlink every regular file of `src` into `dstDir`, RECURSING into
    * subdirectories (copy where the filesystem refuses links) — the
    * zero-copy primitive behind [[restore]], [[cloneTable]] and
    * [[publishAppend]]. Recursion matters: a version directory may carry
    * `_dv`/`_mor` merge sidecars INSIDE it, and a restore/clone/append
    * that linked only the top level would silently serve the PRE-merge
    * state (deleted rows resurrected, merged batches lost). Version
    * directories are immutable once published, so shared inodes can
    * never see a write; pruning one side deletes only its own directory
    * entries. */
  private def linkFilesInto(src: Path, dstDir: String): Set[String] = {
    val files = Files.list(src)
    val entries = try files.iterator().asScala.toSeq finally files.close()
    entries.flatMap { p =>
      val to = Paths.get(dstDir, p.getFileName.toString)
      if (Files.isDirectory(p)) {
        Files.createDirectories(to)
        linkFilesInto(p, to.toString)
        Some(p.getFileName.toString)
      } else if (Files.isRegularFile(p)) { linkOrCopy(p, to); Some(p.getFileName.toString) }
      else None
    }.toSet
  }

  /** Hardlink `from` at `to`, copying where the filesystem refuses links. */
  private[graft] def linkOrCopy(from: Path, to: Path): Unit =
    try Files.createLink(to, from)
    catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
      Files.copy(from, to) }

  /** SHALLOW CLONE: publish the LIVE version of `src` as a brand-new
    * table at `dst` — zero data copied (hardlinks, the local-FS analog of
    * Delta `CREATE TABLE ... SHALLOW CLONE`, whose clone references the
    * source's data files by path). The clone is INDEPENDENT from birth:
    * its own `_CURRENT`/`_LOG`/lock, so publishes to either side never
    * touch the other, and source retention cannot break the clone — a
    * pruned source version loses only its own directory entries while the
    * clone's links keep the shared inodes alive (stronger than Delta's
    * shallow clone, which a source VACUUM can orphan). Snapshot of NOW:
    * later source versions are invisible to the clone by construction.
    * The LOGICAL schema is table metadata and clones with the data: the
    * clone's first version and the source's column mapping commit in one
    * record swap, so the clone is never visible under physical names. */
  def cloneTable(src: String, dst: String, keep: Int = 1): Unit = {
    val from = readPointer(src)
    val fromDir = from.dir(src).getOrElse(
      throw new IllegalStateException(s"no published version at $src to clone"))
    require(!exists(dst), s"clone target $dst already has a published version")
    val name = stageLinked(dst)(dir => Some(linkFilesInto(Paths.get(fromDir), dir)))
    withCommitLock(Paths.get(dst)) {
      commitVersionLocked(dst, name, keep, cols = from.cols)
    }
  }

  /** A constraint-refused publish: carries per-constraint violating-row
    * counts. The staged version was discarded; the table is untouched. */
  final class ConstraintViolationException(msg: String,
      val counts: Map[String, Long]) extends RuntimeException(msg)

  /** CHECK-constraint-enforced publish — the write-side enforcement the
    * transactional formats run during `INSERT`/`MERGE` (`ALTER TABLE ...
    * ADD CONSTRAINT ... CHECK`). Violation counting rides the SAME write
    * job via `Dataset.observe` accumulators, so enforcement costs ZERO
    * extra passes over the data (the alternative — re-scanning the staged
    * files — would double the write's read volume at 100 TB). Semantics
    * are SQL-standard CHECK: a row violates only when the predicate is
    * FALSE; NULL (unknown) passes. If any constraint is violated the
    * staged version directory is discarded and the pointer never moves —
    * the commit is refused atomically, with per-constraint counts in the
    * exception; readers keep the previous version. */
  def publishChecked(df: DataFrame, base: String,
      constraints: Map[String, org.apache.spark.sql.Column],
      keep: Int = 1): Unit = {
    val (name, bad) = stageChecked(base, df, constraints)
    if (bad.isEmpty) commitVersion(base, name, keep)
    else {
      // refuse: drop the staged dir eagerly (it would otherwise linger
      // until the orphan TTL); the pointer was never touched
      discardStaged(base, name)
      throw new ConstraintViolationException(
        bad.toSeq.sortBy(_._1).map { case (n, c) => s"$n: $c rows" }
          .mkString(s"CHECK constraint(s) violated publishing to $base: ", ", ", ""),
        bad)
    }
  }

  /** The staging half of [[publishChecked]], exposed for MULTI-TABLE
    * checked commits: stage the frame with per-constraint violation
    * counts riding the write job (`Dataset.observe` — zero extra
    * passes), and return the staged version name plus the counts of
    * VIOLATED constraints only (empty = clean). The caller picks the
    * commit grain: stage every snapshot member this way, and if ANY
    * member violates, [[discardStaged]] them ALL and commit nothing —
    * the whole transaction is refused atomically, so readers never see
    * a clean member paired with a missing dirty one. */
  def stageChecked(base: String, df: DataFrame,
      constraints: Map[String, org.apache.spark.sql.Column])
      : (String, Map[String, Long]) = {
    require(constraints.nonEmpty, "stageChecked needs at least one constraint")
    import org.apache.spark.sql.functions.{coalesce, lit, sum, when}
    val obs = new org.apache.spark.sql.Observation()
    val names = constraints.keys.toSeq
    val metrics = names.map { n =>
      // FALSE violates; NULL passes (SQL CHECK); empty frame sums to 0
      coalesce(sum(when(coalesce(constraints(n), lit(true)), 0L).otherwise(1L)),
        lit(0L)).as(n)
    }
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    val name = stageVersion(base)(dir =>
      observed.write.mode("overwrite").parquet(dir))
    val row = obs.get
    (name, names.map(n => n -> row(n).asInstanceOf[Long])
      .filter(_._2 > 0L).toMap)
  }

  /** Drop a staged-but-unwanted version (under the commit lock) — the
    * public face of the refusal path, for callers composing
    * [[stageChecked]]/[[stageVersion]] into multi-table transactions. */
  def discardStaged(base: String, name: String): Unit =
    withCommitLock(Paths.get(base)) { discardStagedLocked(base, name) }

  /** GENERATED columns — Delta generated-column write semantics: each
    * entry of `gens` maps a column name to its generation expression over
    * the other columns. A column ABSENT from `df` is COMPUTED at write
    * time; a column the writer SUPPLIES is VERIFIED instead — every row
    * must null-safely equal its generation expression (Delta refuses
    * writes whose explicit values disagree with the generator).
    * Verification rides the write job's observe metrics via
    * [[publishChecked]] (constraint names `generated_<col>`), so neither
    * path costs an extra pass over the data. */
  def publishGenerated(df: DataFrame, base: String,
      gens: Map[String, org.apache.spark.sql.Column], keep: Int = 1): Unit = {
    require(gens.nonEmpty, "publishGenerated needs at least one generated column")
    val present = df.columns.toSet
    val (verify, compute) = gens.partition { case (n, _) => present(n) }
    val widened = compute.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }
    if (verify.isEmpty)
      publish(base, keep)(widened.write.mode("overwrite").parquet(_))
    else publishChecked(widened, base,
      verify.map { case (n, e) =>
        s"generated_$n" -> (org.apache.spark.sql.functions.col(n) <=> e)
      }, keep)
  }

  /** O(batch) APPEND as a version publish: the staged directory first
    * HARDLINKS every file of the current version (metadata-only, like a
    * Delta append commit re-listing prior files in the log), then `write`
    * adds ONLY the batch's files alongside (Spark part-file names carry a
    * task UUID, so links and new files never collide). A 100 TB table
    * takes a micro-batch append at the cost of the batch plus one
    * directory listing — never a table rewrite — while keeping the full
    * versioned-commit semantics (atomic swap, retention, time travel).
    * On an empty table this is just a first publish. Writers must use
    * `mode("append")` so the pre-linked files survive the Spark write.
    * In a session with [[graft.functions.GraftExtensions]], driver-held
    * rows (a `LocalRelation`) land as one file per
    * `spark.sql.files.maxPartitionBytes` split, not one per core
    * ([[graft.plans.LocalWrites]]), so a small append adds one file for
    * every later commit to link and every read to open.
    *
    * Appends are OPTIMISTIC about concurrent writers: the base version is
    * resolved before staging, and the commit re-checks it under the lock —
    * if another commit landed in between, the staged candidate (which
    * linked the superseded version and would silently LOSE that commit's
    * rows) is discarded and the whole append retries against the new
    * current. Exactly the transactional formats' optimistic-concurrency
    * loop for append-vs-append conflicts. */
  def publishAppend(base: String, keep: Int = 1)(write: String => Unit): Unit = {
    require(keep >= 1, "must keep at least the current version")
    appendLoop(base, keep, txn = None)(write)
    ()
  }

  /** [[publishAppend]] under an idempotent-writer transaction
    * ([[publishIdempotent]]) — the exactly-once streaming APPEND sink.
    * Both checks re-run under the commit lock: a replayed transaction
    * skips, a lost append race retries. */
  def appendIdempotent(base: String, appId: String, txnVersion: Long,
      keep: Int = 1)(write: String => Unit): Boolean = {
    require(keep >= 1, "must keep at least the current version")
    require(appId.nonEmpty && !appId.exists(_.isWhitespace),
      "appId must be non-empty and whitespace-free (it lives in the pointer file)")
    appendLoop(base, keep, txn = Some(appId -> txnVersion))(write)
  }

  /** The optimistic append loop both verbs share: stage (link current +
    * write the batch), then commit under the lock only if the base
    * version is unchanged — and, when `txn` is set, only if the
    * transaction is not a replay. Returns true when the write committed,
    * false when it was skipped as a replay; a lost race discards the
    * stale candidate and retries. */
  private def appendLoop(base: String, keep: Int,
      txn: Option[(String, Long)])(write: String => Unit): Boolean = {
    def replayed: Boolean =
      txn.exists { case (app, v) => txnLatest(base, app).exists(_ >= v) }
    // Append-vs-APPEND is serialized by a dedicated per-table append
    // lock: two appends to one table ALWAYS conflict here (staging
    // hardlinks the base version), so letting N appenders race the
    // optimistic loop just burns N-1 full re-stages per commit — and
    // under sustained contention a writer can lose every round until
    // the attempt cap (a livelock ConcurrentStressSpec reproduced at 4
    // writers). Serializing the stage+commit of appends costs nothing
    // (their commits serialize anyway) and makes append throughput
    // additive. The optimistic RETRY below stays: it handles
    // append-vs-PUBLISH races, which remain genuinely concurrent.
    withAppendLock(Paths.get(base)) {
    var attempts = 0
    var result: Option[Boolean] = None
    while (result.isEmpty) {
      attempts += 1
      if (attempts > 10) throw new IllegalStateException(
        s"append lost the optimistic race 10 times at $base")
      if (replayed) result = Some(false)
      else {
        val cur = resolve(base)
        // The link+write stage runs OUTSIDE the commit lock (it may be a
        // long Spark job), so a concurrent commit/vacuum with keep=1 can
        // prune `cur` mid-hardlink. That IO failure is a LOST RACE, not a
        // hard error: the stale-base check below would have discarded the
        // candidate anyway had staging survived. Capture it, drop the
        // partial staged dir, and retry; a persistent IO fault (disk
        // full) still surfaces through the attempt cap.
        var stageFailed: java.io.IOException = null
        val name = stageLinked(base) { dir =>
          try {
            val linked = cur.fold(Set.empty[String])(c => linkFilesInto(Paths.get(c), dir))
            write(dir)
            Some(linked)
          } catch { case e: java.io.IOException => stageFailed = e; None }
        }
        withCommitLock(Paths.get(base)) {
          if (stageFailed != null) {
            discardStagedLocked(base, name) // partial stage: retry
            if (attempts > 9) throw new IllegalStateException(
              s"append staging kept failing at $base (last: ${stageFailed.getMessage})",
              stageFailed)
          } else if (replayed) {
            discardStagedLocked(base, name)
            result = Some(false)
          } else if (resolve(base) == cur) {
            commitVersionLocked(base, name, keep, txn)
            result = Some(true)
          } else discardStagedLocked(base, name) // lost the race: retry
        }
      }
    }
    result.get
    }
  }

  /** Serializes append-vs-append per table (see [[appendLoop]]). A
    * SEPARATE lock file from `_LOCK`: the commit lock is taken INSIDE
    * an append (stage → commit), so reusing it would self-deadlock, and
    * publishes/vacuums must stay free to interleave with an append's
    * staging phase. */
  private def withAppendLock[T](root: Path)(body: => T): T = {
    val key = root.toAbsolutePath.normalize.toString
    val held = appendLockHeld.get()
    if (held.contains(key)) body // reentrant: the outer append serializes
    else {
      val jvmLock = appendJvmLocks.getOrElseUpdate(key, new Object)
      jvmLock.synchronized {
        Files.createDirectories(root)
        val ch = java.nio.channels.FileChannel.open(root.resolve("_APPEND_LOCK"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val l = ch.lock(); held.add(key)
          try body finally { held.remove(key); l.release() }
        } finally ch.close()
      }
    }
  }
  private val appendJvmLocks =
    scala.collection.concurrent.TrieMap[String, Object]()
  private val appendLockHeld = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }

  /** Drop a staged-but-unwanted version directory eagerly (it would
    * otherwise linger until the orphan TTL). Best-effort cleanup. */
  private def discardStagedLocked(base: String, name: String): Unit = {
    val root = Paths.get(base)
    try {
      deleteRecursively(root.resolve(name))
      Files.deleteIfExists(root.resolve(name + "._claim"))
    } catch { case _: java.io.IOException => () }
  }

  /** IDEMPOTENT publish — the Delta `txnAppId`/`txnVersion` writer
    * contract that makes `foreachBatch` sinks EXACTLY-ONCE across
    * restarts: each writer app commits monotonically increasing
    * transaction versions (a streaming sink passes its micro-batch id),
    * and a publish whose `txnVersion` is ≤ the app's committed watermark
    * is SKIPPED — the replayed batch after a crash/restart can never
    * double-apply. The watermark commits atomically WITH the data (one
    * pointer rename carries both — see [[pointerLines]]), so there is no
    * ordering crash window: either the batch is visible and recorded, or
    * neither. Returns true if the write ran, false if it was skipped as
    * a replay. Skip detection is double-checked under the commit lock —
    * two racing replayers stage two candidate versions but only one
    * commits; the loser's staged directory is discarded eagerly. */
  def publishIdempotent(base: String, appId: String, txnVersion: Long,
      keep: Int = 1)(write: String => Unit): Boolean = {
    require(keep >= 1, "must keep at least the current version")
    require(appId.nonEmpty && !appId.exists(_.isWhitespace),
      "appId must be non-empty and whitespace-free (it lives in the pointer file)")
    if (txnLatest(base, appId).exists(_ >= txnVersion)) return false
    val name = stageVersion(base)(write)
    withCommitLock(Paths.get(base)) {
      if (txnLatest(base, appId).exists(_ >= txnVersion)) {
        discardStagedLocked(base, name)
        false
      } else {
        commitVersionLocked(base, name, keep, txn = Some(appId -> txnVersion))
        true
      }
    }
  }

  // ------------------------------------------------ column mapping

  /** The COLUMN-MAPPING layer — Delta's `columnMapping.mode = name`
    * feature: logical column names live in table METADATA, physical
    * names live in the immutable parquet files, and `RENAME COLUMN` /
    * `DROP COLUMN` are O(1) metadata swaps — never a table rewrite. At
    * 100 TB a rename that rewrites the corpus is an outage; this is the
    * difference. The map is the `col <physical> <logical>` lines of the
    * `_CURRENT` record, in column order; every version commit carries it
    * forward, and a mapping change rewrites the record under the commit
    * lock with the SAME version (no `_LOG` line, no prune). A DROPPED
    * column keeps its line with the reserved logical name `-` (a
    * TOMBSTONE — appends must still fill the physical slot, or old and
    * new files would stop sharing a footer schema and the un-merged
    * version read would silently lose columns). No lines = identity.
    * Mapped reads go through [[readMapped]]; appends translate logical →
    * physical via [[toPhysical]] so new files keep the PHYSICAL schema
    * and old and new files stay interchangeable. The mapping is NOT a
    * closed column universe: a schema-EVOLVING write passes its new
    * columns through [[toPhysical]] untouched (identity physical name),
    * and the next [[readMapped]] AUTO-EXTENDS the map with identity
    * entries for any physical column the live schema carries beyond the
    * map, so an evolved column can never be silently invisible. Name
    * collisions (a new column named like an existing physical slot or
    * logical name) reject loudly rather than aliasing two columns onto
    * one name. */
  def columnMapping(base: String): Option[Seq[(String, String)]] =
    readPointer(base).cols

  /** The commit record plus its mapping, materialized from the live
    * version's physical schema on first use (identity). Caller holds the
    * commit lock. */
  private def mappingLocked(s: SparkSession, base: String)
      : (PointerRecord, Seq[(String, String)]) = {
    val rec = readPointer(base)
    (rec, rec.cols.getOrElse(
      versionSchema(s, rec.liveDir(base)).fieldNames.toSeq.map(c => (c, c))))
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` — metadata-only: no
    * version publish, no Spark job, no file touched. `from` is the
    * current LOGICAL name. */
  def renameColumn(s: SparkSession, base: String, from: String, to: String): Unit =
    withCommitLock(Paths.get(base)) {
      require(to != "-" && !to.exists(_.isWhitespace),
        s"'$to' is not a legal logical column name")
      val (rec, m) = mappingLocked(s, base)
      require(m.exists(_._2 == from), s"no column '$from' at $base " +
        s"(logical columns: ${m.map(_._2).filter(_ != "-").mkString(",")})")
      require(!m.exists(_._2 == to), s"column '$to' already exists at $base")
      writePointerLocked(base, rec.copy(cols = Some(m.map { case (p, l) =>
        (p, if (l == from) to else l)
      })))
    }

  /** `ALTER TABLE ... DROP COLUMN` — metadata-only: the physical column
    * stays in every immutable file (and in history reads); mapped reads
    * stop projecting it. */
  def dropColumn(s: SparkSession, base: String, name: String): Unit =
    withCommitLock(Paths.get(base)) {
      val (rec, m) = mappingLocked(s, base)
      require(m.exists(_._2 == name), s"no column '$name' at $base")
      require(m.count(_._2 != "-") > 1, s"cannot drop the last column of $base")
      writePointerLocked(base, rec.copy(cols = Some(m.map { case (p, l) =>
        (p, if (l == name) "-" else l) // tombstone, not removal
      })))
    }

  /** The mapped read: live version, logical schema, both taken from ONE
    * read of the commit record. Identity when no mapping was ever
    * created. Maintained access: physical columns a schema-evolving
    * append added AFTER the mapping was created are auto-registered with
    * identity entries (persisted under the commit lock) before
    * projecting — without this, the closed map would make evolved columns
    * silently invisible, a wrong-answer class. If the record moved
    * between the read and the lock, the read starts over against the new
    * record. The scan reconciles footers (`mergeSchema`) because after an
    * evolving append old and new files legitimately disagree on schema,
    * and which footer a plain read samples is nondeterministic. */
  def readMapped(s: SparkSession, base: String): DataFrame = {
    val rec = readPointer(base)
    rec.cols match {
      case None => scanVersion(s, rec.liveDir(base))
      case Some(m0) =>
        val df = scanVersion(s, rec.liveDir(base), mergeSchema = true)
        val add = df.columns.filterNot(m0.map(_._1).toSet).toSeq
        val logical = m0.map(_._2).filter(_ != "-").toSet
        add.foreach(c => require(!logical(c), s"evolved physical column '$c' at " +
          s"$base collides with an existing logical column name — " +
          "rename the logical column first, then re-read"))
        val mapped = if (add.isEmpty) Some(m0) else withCommitLock(Paths.get(base)) {
          if (readPointer(base) != rec) None
          else {
            val extended = m0 ++ add.map(c => (c, c))
            writePointerLocked(base, rec.copy(cols = Some(extended)))
            Some(extended)
          }
        }
        mapped match {
          case None => readMapped(s, base)
          case Some(m) => df.select(m.filter(_._2 != "-").map { case (p, l) =>
            org.apache.spark.sql.functions.col(p).as(l)
          }: _*)
        }
    }
  }

  /** Translate a LOGICAL-schema frame to the table's PHYSICAL schema for
    * an append — new files then carry the same physical names as the old
    * ones, so the mapping keeps applying uniformly. Dropped columns are
    * absent from the logical schema and are written as NULLs (the
    * physical slot must exist for old readers of raw files). Columns of
    * `df` BEYOND the mapping are a schema-evolving append: they pass
    * through under their own (identity-physical) name — the next
    * [[readMapped]] registers them — unless the name collides with an
    * existing physical slot of a DIFFERENT logical column, which would
    * silently fuse two columns and is refused loudly. The mapping and
    * the version whose schema types the dropped slots come from one read
    * of the commit record. */
  def toPhysical(df: DataFrame, base: String): DataFrame = {
    val rec = readPointer(base)
    rec.cols match {
      case None => df
      case Some(m) =>
        val logical = df.columns.toSet
        // dropped slots need their PHYSICAL type (parquet refuses
        // NullType); take it from the live version's schema
        val phys = versionSchema(df.sparkSession, rec.liveDir(base))
          .map(f => f.name -> f.dataType).toMap
        val mappedLogical = m.map(_._2).toSet
        val extras = df.columns.filterNot(mappedLogical).toSeq
        extras.foreach { c =>
          require(!m.exists(_._1 == c),
            s"evolving append column '$c' collides with an existing " +
              s"physical slot at $base — pick a fresh name")
        }
        df.select(m.map { case (p, l) =>
          if (l != "-" && logical(l)) org.apache.spark.sql.functions.col(l).as(p)
          else org.apache.spark.sql.functions.lit(null).cast(phys(p)).as(p)
        } ++ extras.map(org.apache.spark.sql.functions.col): _*)
    }
  }

  // ------------------------------------------------ schema record

  private val SchemaFile = "_SCHEMA"
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** Scan of one version directory with its recorded schema: Spark lists
    * the directory but runs no schema-inference job. Without a record (or
    * with one that does not parse) the directory is read as plain parquet,
    * by inference (footer-merged when `mergeSchema`), so missing
    * directories and stores written before the record existed behave as
    * they always did. With a record every data file carries that schema,
    * so a merged read would infer it too. */
  private[graft] def scanVersion(s: SparkSession, dir: String,
      mergeSchema: Boolean = false): DataFrame =
    recordedSchema(Paths.get(dir)) match {
      case Some(st) => s.read.schema(st).parquet(dir)
      case None if mergeSchema => s.read.option("mergeSchema", "true").parquet(dir)
      case None => s.read.parquet(dir)
    }

  /** The version's columns and types: its record, else Spark's inference. */
  private def versionSchema(s: SparkSession, dir: String): StructType =
    recordedSchema(Paths.get(dir)).getOrElse(s.read.parquet(dir).schema)

  private def recordedSchema(dir: Path): Option[StructType] =
    try parseStruct(Files.readString(dir.resolve(SchemaFile)))
    catch { case NonFatal(_) => None }

  private def parseStruct(json: String): Option[StructType] =
    try DataType.fromJson(json) match {
      case st: StructType => Some(st)
      case _              => None
    } catch { case NonFatal(_) => None }

  /** Spark's own rule for the names a directory scan reads
    * (`InMemoryFileIndex.shouldFilterOutPathName`): a name starting with
    * `_` or `.` is hidden, except a partition directory (`_k=v`) and the
    * parquet summary files. */
  private def scannedName(n: String): Boolean =
    !(((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")) &&
      !(n.startsWith("_common_metadata") || n.startsWith("_metadata")))

  /** Write the staged version's `_SCHEMA` before its commit. Only the files
    * the stage ADDED (not among `linked`) are opened, one footer each. The
    * record is written when every added file carries Spark row metadata,
    * all of it agrees up to nullability (which every scan drops), and it
    * equals the record linked from the base version, or the base linked no
    * scanned file. An unchanged linked record stays as the link (no bytes
    * written); a record that no longer holds is removed. A new record replaces the directory ENTRY (tmp +
    * rename), never the linked inode, which the base version shares. */
  private def recordSchema(dir: Path, linked: Set[String]): Unit = {
    val stream = Files.list(dir)
    val names = try stream.iterator().asScala.map(_.getFileName.toString).toSeq
      finally stream.close()
    val added = names.filter(n => !linked(n) && scannedName(n))
    if (added.nonEmpty) {
      val inherited =
        if (linked(SchemaFile)) recordedSchema(dir) else None
      val baseScanned = names.exists(n => linked(n) && scannedName(n))
      val own = footersSchema(dir, added).filter(st =>
        if (inherited.isDefined) inherited.contains(st) else !baseScanned)
      val record = dir.resolve(SchemaFile)
      if (own.isEmpty || inherited.isEmpty) Files.deleteIfExists(record)
      if (inherited.isEmpty) own.foreach { st =>
        val tmp = dir.resolve(SchemaFile + ".tmp")
        Files.writeString(tmp, st.json)
        Files.move(tmp, record, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** The one schema a scan of `files` (in `dir`) reads: the Spark row
    * metadata of their footers, made nullable as Spark makes every file
    * source's schema. None if any file lacks it, is no parquet file, or
    * disagrees. */
  private def footersSchema(dir: Path, files: Seq[String]): Option[StructType] = {
    val jsons = files.map(n => footerRowMetadata(dir.resolve(n)))
    if (jsons.exists(_.isEmpty)) None
    else jsons.flatten.distinct.map(parseStruct(_).map(nullable)).distinct match {
      case Seq(Some(st: StructType)) => Some(st)
      case _                         => None
    }
  }

  private def nullable(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Hadoop's checksummed local file system, so footer bytes are verified
    * against the `.crc` files the parquet writer leaves. */
  private lazy val footerFs: org.apache.hadoop.fs.FileSystem = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[LocalFs.Checksummed].getName)
    org.apache.hadoop.fs.FileSystem.newInstance(java.net.URI.create("file:///"), conf)
  }

  /** The Spark row metadata of one parquet file's footer: one read of the
    * file's last 16 KB (a second one for a larger footer) and a Thrift
    * decode that skips the row groups. Seek-and-read on one stream, not
    * positioned reads: the checksummed stream reopens the file and its
    * `.crc` for every positioned read. None for a directory, a file that
    * is not plain parquet, or one that carries none. */
  private def footerRowMetadata(file: Path): Option[String] =
    try {
      val len = Files.size(file)
      val in = footerFs.open(new org.apache.hadoop.fs.Path(file.toUri))
      try {
        val tail = new Array[Byte](math.min(len, 16384L).toInt)
        in.seek(len - tail.length)
        in.readFully(tail)
        val n = tail.length
        val footerLen = if (n < 12) 0 else java.nio.ByteBuffer.wrap(tail, n - 8, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        if (footerLen <= 0 || footerLen > len - 12 ||
            new String(tail, n - 4, 4, java.nio.charset.StandardCharsets.US_ASCII) != "PAR1") None
        else {
          val footer =
            if (footerLen <= n - 8) new java.io.ByteArrayInputStream(tail, n - 8 - footerLen, footerLen)
            else {
              val b = new Array[Byte](footerLen)
              in.seek(len - 8 - footerLen)
              in.readFully(b)
              new java.io.ByteArrayInputStream(b)
            }
          Option(org.apache.parquet.format.Util.readFileMetaData(footer, true).getKey_value_metadata)
            .flatMap(_.asScala.find(_.getKey == SparkRowMetadata)).map(_.getValue)
        }
      } finally in.close()
    } catch { case NonFatal(_) => None }

  /** Standalone retention maintenance — the `VACUUM` verb: prune
    * published versions beyond the `keep` newest plus crashed-orphan
    * claims older than [[OrphanTtlMs]], WITHOUT publishing anything.
    * Runs under the same commit lock as a publish, so it cannot race a
    * concurrent pointer swap; the live version is always retained (keep
    * ≥ 1). Returns the number of version directories removed. */
  def vacuum(base: String, keep: Int = 1): Int = {
    require(keep >= 1, "must keep at least the current version")
    val root = Paths.get(base)
    if (!Files.isDirectory(root)) return 0
    withCommitLock(root) { pruneLocked(base, keep) }
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      val paths = try stream.iterator().asScala.toSeq.reverse finally stream.close()
      paths.foreach(Files.delete)
    }
}
