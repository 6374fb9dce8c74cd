package graft.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one place the session-lifetime memo contract is stated, and the one
  * place memo freshness is decided.
  *
  * Contract: a memo lookup names the owning [[SparkSession]] INSTANCE
  * (reference identity — a hash would let a new session collide into a
  * DataFrame bound to a stopped one), the data directory `d` the value is
  * derived from, and the site's own parameters. Each (session, `d`,
  * params) holds at most one live entry, stamped with
  * [[SilverArtifact.dataFingerprint]] of `d` at build time:
  *  - a lookup whose fingerprint matches returns the stored value;
  *  - the first lookup over `d` that sees a new fingerprint (a table in
  *    `d` was rewritten) evicts every entry over `d` built under another
  *    one, in every memo and every session, unpersisting DataFrames: the
  *    CacheManager is shared by all sessions and substitutes cached data
  *    for any plan that matches, so one session's superseded copy would
  *    otherwise serve stale rows to another session's identical plan;
  *  - the lookup then rebuilds — so no memo outlives its source and no
  *    superseded copy stays pinned;
  *  - a `d` that cannot be fingerprinted builds without memoizing, so a
  *    missing source fails on every call and leaves no entry.
  * Call sites never build a freshness key of their own.
  *
  * An entry otherwise lives until the JVM exits (the batch-job case: the
  * memo is the in-session analog of the stored artifact a 100 TB pipeline
  * writes once per corpus version) or until [[SessionCaches.clear]] for
  * its session (the long-lived-notebook case: a server iterating many
  * datasets or parameter values would otherwise accumulate pinned
  * MEMORY_AND_DISK DataFrames). Correctness never depends on a memo hit —
  * specs re-run ops after clearing to prove it.
  */
object SessionCaches {

  private val registry = TrieMap[String, (Memo[_], Class[_])]()

  /** A named memo over (session, data directory, params `P`); values that
    * are DataFrames are unpersisted when evicted or superseded. */
  final class Memo[P] private[SessionCaches] () {
    private type Key = (SparkSession, String, P)
    private val m = TrieMap[Key, (String, Any)]()
    private val buildLocks = TrieMap[Key, Object]()

    /** The value for (`s`, `d`, `p`), built by `build` on a miss or when
      * `d`'s fingerprint has changed since the stored entry was built.
      *
      * Builds are guarded by a PER-KEY lock: TrieMap's own
      * getOrElseUpdate may evaluate a builder on both of two racing
      * threads and drop one result, and a dropped MEMORY_AND_DISK-persisted
      * DataFrame would stay pinned for the JVM lifetime. Per key, not per
      * memo, because some builders publish stored artifacts (real write
      * jobs), and distinct keys must build in parallel. Hits stay
      * lock-free. The superseded entry is unpersisted BEFORE the rebuild:
      * `persistOnce` skips a plan the CacheManager already holds, and a
      * rebuilt plan over the same source paths would otherwise adopt the
      * stale cached data. */
    def apply[V](s: SparkSession, d: String, p: P)(build: => V): V = {
      val fp =
        try SilverArtifact.dataFingerprint(d)
        catch { case _: java.io.IOException => return build }
      observe(d, fp)
      val k: Key = (s, d, p)
      def current: Option[V] = m.get(k).collect { case (`fp`, v) => v.asInstanceOf[V] }
      current.getOrElse {
        // locks are never removed: a racer already inside synchronized
        // would be invisible to a caller minting a fresh lock, and the two
        // would double-build. They are bare Objects, one per key ever built.
        buildLocks.getOrElseUpdate(k, new Object).synchronized {
          current.getOrElse {
            // an entry built under an older fingerprint by a builder that
            // raced the sweep in `observe`
            m.remove(k).foreach { case (_, old) => release(old) }
            val built = build
            m.put(k, (fp, built))
            built
          }
        }
      }
    }

    /** [[apply]] for a memo whose only parameter is the data directory. */
    def apply[V](s: SparkSession, d: String)(build: => V)(implicit unit: Unit =:= P): V =
      apply(s, d, unit(()))(build)

    private[SessionCaches] def evict(s: SparkSession): Int =
      m.keys.count { k =>
        (k._1 eq s) && m.remove(k).map { case (_, v) => release(v) }.isDefined
      }

    private[SessionCaches] def evictStale(d: String, fp: String): Unit =
      m.foreach { case (k, e @ (f, v)) =>
        if (k._2 == d && f != fp && m.remove(k, e)) release(v)
      }
  }

  /** The newest fingerprint looked up per data directory. */
  private val seen = TrieMap[String, String]()

  private def observe(d: String, fp: String): Unit =
    if (!seen.get(d).contains(fp) && seen.put(d, fp).exists(_ != fp))
      registry.values.foreach(_._1.evictStale(d, fp))

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist()
    case _ => ()
  }

  /** Obtain (or create) the memo registered under `name`. Call once per
    * cache site into a `private val`; the name keys the global registry
    * so `clear` can reach every site. The params CLASS is recorded at
    * first registration and later callers must request the same one —
    * two sites sharing a name with different params would otherwise
    * fail with a ClassCastException deep inside a lookup. */
  def memo[P](name: String)(implicit pt: scala.reflect.ClassTag[P]): Memo[P] = {
    val (m, cls) = registry.getOrElseUpdate(name, (new Memo[P](), pt.runtimeClass))
    require(cls == pt.runtimeClass,
      s"memo '$name' already registered with params ${cls.getName}, requested ${pt.runtimeClass.getName}")
    m.asInstanceOf[Memo[P]]
  }

  /** Evict every registered memo entry owned by `s` (unpersisting cached
    * DataFrames); returns the number of entries dropped. */
  def clear(s: SparkSession): Int =
    registry.values.foldLeft(0)(_ + _._1.evict(s))

  /** `persist(MEMORY_AND_DISK)` only when this plan is not ALREADY in the
    * CacheManager. The CacheManager is SHARED across `newSession()` clones
    * while the memos here key by session instance — so a memo on a clone
    * rebuilding a plan the parent session already cached would re-persist
    * it, pinning nothing new and logging a "Asked to cache already cached
    * data" WARN per occurrence. `Dataset.storageLevel` consults the shared
    * CacheManager by canonicalized plan, so the guard is exact. Use at
    * memo-lifetime persist sites; transient persist/unpersist pairs must
    * NOT use it (skipping their persist would make the paired unpersist
    * drop someone else's cache entry). */
  implicit final class PersistOnce[T](private val ds: org.apache.spark.sql.Dataset[T]) extends AnyVal {
    def persistOnce(): org.apache.spark.sql.Dataset[T] =
      if (ds.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else ds
  }
}
