package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk-persisted derived tables ("silver artifacts") shared across
  * sessions — the on-disk half of the [[SessionCaches]] contract.
  *
  * A 100 TB pipeline computes its expensive derived structures — the
  * shingle table, the banded MinHash index, the k-NN edge set — ONCE per
  * corpus version in the ingestion job and stores them next to the data;
  * every later session (an analyst's notebook, an incremental-ingest
  * batch, the next day's dedup run) READS the stored artifact instead of
  * recomputing the dominant pass. This object gives each such artifact:
  *
  *  - an [[AtomicTable]] home (crash-safe publish, never a torn read);
  *  - a SOURCE FINGERPRINT covering the actual part files of the source
  *    table — file count + total bytes + newest mtime — so regeneration
  *    of the source invalidates the artifact even when the parent
  *    directory entry is untouched (`Files.size` of a directory is the
  *    fs-entry size, a constant; an in-place part-file rewrite would have
  *    slipped past the old directory-level fingerprint);
  *  - a LOGIC VERSION folded into the fingerprint, so changing the
  *    derivation code orphans stored artifacts instead of silently
  *    serving stale semantics;
  *  - a visible hit/miss line on stderr, so a bench/verify log shows
  *    whether a "cold" pass actually read the store or had to rebuild.
  */
object SilverArtifact {

  /** Root of every piece of staged on-disk state: stored artifacts, staged
    * tables, bucketed copies, stream sources, checkpoints and sink state,
    * each at [[pathFor]]. On a cluster this would be a lake path next to
    * the source tables; a var so specs and benchmarks can sandbox it. */
  @volatile var root: String = "/tmp/graft_silver"

  def pathFor(sourceDir: String, name: String): String =
    s"$root/${PathKeys.safe(sourceDir)}/$name"

  /** Fingerprint of a parquet source — a single file, or the regular
    * files directly inside a table directory — plus the caller's
    * logic-version tag. Stored artifacts and staged tables key on it.
    * Throws `IOException` when the path does not exist. */
  def sourceFingerprint(srcDir: String, logicVersion: String): String =
    s"logic=$logicVersion;${tableStamp(Paths.get(srcDir))}"

  /** Fingerprint of a whole data directory: [[sourceFingerprint]]'s file
    * count, bytes and newest mtime for every table in `d`, named. A
    * rewrite of any table's files changes it. [[SessionCaches]] keys
    * every memo entry on it. Throws `IOException` when `d` does not
    * exist. */
  def dataFingerprint(d: String): String = {
    val st = Files.list(Paths.get(d))
    val tables =
      try st.iterator().asScala.toVector.sortBy(_.getFileName.toString)
      finally st.close()
    tables.map(t => s"${t.getFileName}:${tableStamp(t)}").mkString("|")
  }

  /** File count, total bytes and newest mtime of one table: the file
    * itself, or the regular files directly inside its directory. */
  private def tableStamp(p: Path): String = {
    val files =
      if (Files.isRegularFile(p)) Vector(p)
      else {
        val stream = Files.list(p)
        try stream.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        finally stream.close()
      }
    val bytes = files.map(Files.size).sum
    val maxMtime = files.map(f => Files.getLastModifiedTime(f).toMillis)
      .maxOption.getOrElse(0L)
    s"files=${files.size};bytes=$bytes;mtime=$maxMtime"
  }

  /** Fingerprint component derived from the DERIVATION ITSELF: a SHA-256
    * digest of the builder DataFrame's canonicalized analyzed plan PLUS
    * its input file list. Folding this into an artifact's fingerprint
    * makes code changes auto-invalidate stored copies — any edit that
    * changes the logical plan (new column, changed join, different
    * filter) orphans the artifact instead of silently serving stale
    * semantics, with no hand-bumped logic-version constant to forget.
    *
    * Two deliberate choices:
    *  - the plan is serialized with `toJSON`, NOT `toString` — node
    *    toString goes through truncatedString and elides columns past
    *    `spark.sql.debug.maxToStringFields` (default 25; the silver
    *    sales projection is 32 wide), so a derivation change confined
    *    to elided expressions would digest identically, and a session
    *    with a different conf would digest everything differently;
    *  - `df.inputFiles` (sorted) is digested alongside, because the
    *    plan text renders a file relation as just "parquet" with NO
    *    paths — the file list is what makes an upstream artifact
    *    republished to a new version directory (a rebuilt dim under the
    *    fact) invalidate downstream. Over-invalidation (a rebuild),
    *    never staleness.
    * Canonicalization normalizes expression ids, so the digest is
    * stable across sessions for an unchanged derivation over unchanged
    * stored inputs. */
  def planFingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed.canonicalized
    // toJSON is non-truncating; fall back to the (truncating) toString
    // only if some exotic node refuses JSON serialization — a weaker
    // digest beats a failed query
    val canon = scrubJvmIds(
      try plan.toJSON catch { case _: Throwable => plan.toString })
    val inputs = df.inputFiles.sorted.mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(canon.getBytes("UTF-8"))
    md.update(inputs.getBytes("UTF-8"))
    "plan-" + md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Canonicalization normalizes exprId NUMBERS but toJSON still embeds
    * each ExprId's `jvmId` — a per-JVM random UUID — so the raw JSON
    * differs on every session and would miss every stored artifact
    * (measured: two sessions' plan dumps were identical except jvmId,
    * and every gold artifact rebuilt per session until this scrub). */
  private[graft] def scrubJvmIds(planJson: String): String =
    planJson.replaceAll("\"jvmId\"\\s*:\\s*\"[0-9a-fA-F-]+\"", "\"jvmId\":\"0\"")

  private val FpFile = "_SOURCE_FP"

  // racing in-JVM misses must produce ONE build: N concurrent publishes
  // would be individually atomic but the later commits PRUNE the earlier
  // versions, and a reader that resolved a pruned version fails mid-job
  // (the read/prune race AtomicTable documents). A per-base lock with a
  // double-checked fingerprint makes the second-through-Nth callers pure
  // hits. Cross-PROCESS builders still race benignly rarely (separate
  // batch jobs rebuilding the same corpus artifact); keep=2 retention
  // below bounds that window.
  private val buildLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Read the artifact at `base` if its stored fingerprint matches `fp`;
    * otherwise evaluate `build`, publish it atomically, and read the
    * published copy back. The fingerprint stamp lives INSIDE the version
    * directory (written after the parquet, before the pointer swap —
    * underscore-prefixed, so Spark's file listing ignores it like
    * _SUCCESS): data and stamp become visible in the SAME atomic pointer
    * move. A base-level stamp written after the publish (the first cut)
    * had a crash window where the NEW data was live under the OLD
    * fingerprint — a session still running the old code would "hit" and
    * silently read the new artifact under the old logic's contract. The
    * returned frame is always a plain parquet scan of the published
    * version — callers add their own repartition/persist/order on top. */
  def getOrBuild(s: SparkSession, base: String, fp: String,
      coalesceTo: Int = 4)(build: => DataFrame): DataFrame = {
    def hit(): Boolean = AtomicTable.resolve(base).exists { v =>
      val p = Paths.get(v, FpFile)
      Files.exists(p) && Files.readString(p).trim == fp
    }
    val first = hit()
    // a cold pass that logs "hit" read the store; "miss" means the store
    // was absent or stale and this session paid the build
    System.err.println(s"[graft] silver artifact ${if (first) "hit " else "miss"} $base")
    if (!first) {
      val lock = buildLocks.getOrElseUpdate(base, new Object)
      lock.synchronized {
        if (!hit()) {
          val df = build
          AtomicTable.publish(base, keep = 2) { dir =>
            df.coalesce(coalesceTo).write.mode("overwrite").parquet(dir)
            Files.writeString(Paths.get(dir, FpFile), fp)
          }
        }
      }
    }
    AtomicTable.read(s, base)
  }

  private val StageFp = "_STAGE_FP"

  /** Run a multi-step STAGING action (publish + deletes/merges/sidecars —
    * anything that leaves durable committed state under `base`) once per
    * source version: when the stamp matches `fp` and the table exists, the
    * whole action is skipped. The getOrBuild discipline for stagers whose
    * committed state is more than one parquet table. The stamp lands only
    * after `stage` completes, so a crash mid-stage re-stages next time
    * (each inner publish is individually atomic, and the demo stagers are
    * idempotent). Callers run it on every read and need no memo of their
    * own: a hit costs a stamp read and logs nothing, a miss logs one
    * stderr line. */
  def stagedOnce(base: String, fp: String)(stage: => Unit): Unit = {
    val fpPath = Paths.get(base, StageFp)
    def hit(): Boolean = AtomicTable.exists(base) &&
      Files.exists(fpPath) && Files.readString(fpPath).trim == fp
    if (hit()) return
    val lock = buildLocks.getOrElseUpdate(base, new Object)
    lock.synchronized {
      if (!hit()) {
        System.err.println(s"[graft] staged table   miss $base")
        stage
        Files.createDirectories(Paths.get(base))
        val tmp = Paths.get(base, StageFp + ".tmp")
        Files.writeString(tmp, fp)
        Files.move(tmp, fpPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
