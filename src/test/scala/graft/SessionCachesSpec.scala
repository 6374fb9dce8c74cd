package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.SessionCaches

/** The session-memo contract (util/SessionCaches): hits don't rebuild,
  * clear() evicts + unpersists, and correctness never depends on a memo
  * hit — ops recompute identically after eviction. Lookups name a real
  * data directory, whose fingerprint every entry carries (FreshnessSpec
  * rewrites one). */
class SessionCachesSpec extends AnyFunSuite {
  import TestSpark._

  test("memo hits, clear evicts this session's entries, rebuild works") {
    val m = SessionCaches.memo[String]("spec.synthetic")
    var builds = 0
    def get() = m(spark, sf, "x") {
      builds += 1
      spark.range(3).toDF().persist()
    }
    val df = get(); get()
    assert(builds == 1, "second lookup must hit the memo")
    assert(SessionCaches.clear(spark) >= 1, "clear must report the eviction")
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "clear must unpersist the cached DataFrame")
    get()
    assert(builds == 2, "post-clear lookup must rebuild")
  }

  test("memo name reuse with a different key class fails fast at registration") {
    SessionCaches.memo[String]("spec.collide")
    intercept[IllegalArgumentException] {
      SessionCaches.memo[Int]("spec.collide")
    }
  }

  test("concurrent first touch evaluates the builder exactly once") {
    val m = SessionCaches.memo[Unit]("spec.race")
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 16).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = m(spark, sf) {
          Thread.sleep(20) // widen the race window
          builds.incrementAndGet()
        }
      }))
      assert(futs.map(_.get()).toSet == Set(1), "all callers must see the one built value")
      assert(builds.get == 1, "builder must run exactly once under contention")
    } finally pool.shutdown()
  }

  test("a memoized op recomputes correctly after clear (no hidden state)") {
    val before = graft.ops.GraphOps.undirectedEdges(spark, sf)
      .orderBy("u", "v").collect().toSeq
    SessionCaches.clear(spark)
    val after = graft.ops.GraphOps.undirectedEdges(spark, sf)
      .orderBy("u", "v").collect().toSeq
    assert(before == after)
  }
}
