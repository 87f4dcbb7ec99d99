package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.BoundedMemo

/** Contract of the LRU-capped per-JVM memo that backs the
  * fixture/validation caches (chunkCache, payloadCache,
  * exactPairGuardCache). Pure JVM — no SparkSession needed. */
class BoundedMemoSpec extends AnyFunSuite {

  test("memoizes: build runs once per key, cached value returned after") {
    val memo = new BoundedMemo[String, Int]()
    var builds = 0
    def get(k: String): Int = memo.getOrElseUpdate(k) { builds += 1; 42 }
    assert(get("a") == 42 && get("a") == 42 && builds == 1)
    assert(get("b") == 42 && builds == 2)
  }

  test("size never exceeds the cap; eldest entries are evicted") {
    val memo = new BoundedMemo[Int, Int](maxEntries = 8)
    (1 to 50).foreach(k => memo.getOrElseUpdate(k)(k))
    assert(memo.size == 8)
    // The 8 most recent keys survive; key 1 was evicted long ago.
    assert(memo.containsKey(50) && memo.containsKey(43))
    assert(!memo.containsKey(1))
  }

  test("access order counts: a re-read key survives eviction pressure") {
    val memo = new BoundedMemo[Int, Int](maxEntries = 4)
    (1 to 4).foreach(k => memo.getOrElseUpdate(k)(k))
    memo.getOrElseUpdate(1)(-1) // touch key 1 -> most recently used
    (5 to 7).foreach(k => memo.getOrElseUpdate(k)(k)) // evicts 2, 3, 4
    assert(memo.containsKey(1), "recently accessed key must survive")
    assert(!memo.containsKey(2) && !memo.containsKey(3) && !memo.containsKey(4))
  }

  test("getOrRebuild revalidates: a rejected cached value is rebuilt") {
    val memo = new BoundedMemo[String, String]()
    var builds = 0
    var alive = Set("v1")
    def get(): String =
      memo.getOrRebuild("k")(alive.contains) { builds += 1; s"v$builds" }
    assert(get() == "v1" && get() == "v1" && builds == 1)
    alive = Set("v2") // simulate a TempDirs sweep deleting the cached dir
    assert(get() == "v2" && builds == 2)
    assert(get() == "v2" && builds == 2)
  }

  test("a build that throws caches nothing (guard-cache contract)") {
    val memo = new BoundedMemo[String, Boolean]()
    var attempts = 0
    def guard(ok: Boolean): Boolean = memo.getOrElseUpdate("k") {
      attempts += 1
      if (!ok) throw new IllegalStateException("block over ceiling")
      true
    }
    intercept[IllegalStateException](guard(ok = false))
    intercept[IllegalStateException](guard(ok = false))
    assert(attempts == 2, "failed validation must re-run, not cache")
    assert(guard(ok = true) && attempts == 3)
    assert(guard(ok = false) && attempts == 3, "passed validation is memoized")
  }

  test("concurrent readers of one key see one build") {
    val memo = new BoundedMemo[String, Int]()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 32).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = memo.getOrElseUpdate("k") {
            Thread.sleep(5)
            builds.incrementAndGet()
          }
        })
      }
      assert(futures.map(_.get()).toSet == Set(1))
      assert(builds.get() == 1)
    } finally pool.shutdown()
  }
}
