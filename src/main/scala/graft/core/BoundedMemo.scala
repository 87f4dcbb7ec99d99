package graft.core

/** Bounded per-JVM memo for driver-side fixture/validation caches: the
  * engine memoizes three once-per-fixture artifacts — the streaming
  * replay (chunk dir and outer-join cutoff, `StreamingOps.chunkCache`),
  * the multimodal payload dir (`MediaPipeline.payloadCache`) and the
  * exact-pair guard validation (`TextOps.exactPairGuardCache`) — keyed on
  * the fixture they were built from. Entries are ~100 bytes, but the
  * keys track every fixture directory the session ever touches, so a
  * long-lived session sweeping many dirs (exactly what ScaleData and the
  * gate loops do) grows an unbounded map monotonically. This is that map
  * with an LRU cap: access-ordered [[java.util.LinkedHashMap]], eldest
  * entry evicted past `maxEntries`.
  *
  * Eviction is always SAFE here by construction: every cached value is
  * either re-derivable (a recompute costs one bounded Spark job) or a
  * path revalidated with `Files.exists` by the caller — so an evicted
  * entry degrades to a rebuild, never to wrong results. Values that own
  * disk state (temp dirs) are swept by [[TempDirs]], not by eviction.
  *
  * All operations hold the memo's monitor for the duration of `build`,
  * which is intentional: callers are per-query-construction driver paths
  * (never per-row), and running `build` inside the lock means one
  * concurrent constructor pays the fixture build while the rest wait for
  * the cached value instead of racing duplicate builds of the same
  * multi-second fixture.
  */
final class BoundedMemo[K, V](maxEntries: Int = BoundedMemo.DefaultMax) {
  require(maxEntries > 0, s"BoundedMemo cap must be positive: $maxEntries")

  private val m = {
    val cap = maxEntries // local binding: the anonymous subclass must not
    // resolve an outer member through Java inheritance (legacy-binding warn)
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > cap
    }
  }

  /** Cached value for `key`, recomputed (and re-cached) when absent OR
    * when `valid` rejects the cached one — the revalidation hook carries
    * the existing `Files.exists` pattern: a TempDirs sweep in the same
    * JVM deletes cached fixture dirs out from under the memo, and the
    * stale path must trigger a rebuild, not get handed out dangling. A
    * `build` that throws caches nothing (the guard-cache contract: a
    * failed validation re-runs on the next call). */
  def getOrRebuild(key: K)(valid: V => Boolean)(build: => V): V =
    synchronized {
      Option(m.get(key)).filter(valid).getOrElse {
        val v = build
        m.put(key, v)
        v
      }
    }

  /** Plain memoization — `getOrRebuild` with every cached value valid. */
  def getOrElseUpdate(key: K)(build: => V): V =
    getOrRebuild(key)(_ => true)(build)

  def size: Int = synchronized(m.size())

  private[graft] def containsKey(key: K): Boolean = synchronized(m.containsKey(key))
}

object BoundedMemo {
  /** Default cap. Sized from use, not memory: the gate's widest sweep
    * (ScaleData + Verify + Bench in one JVM) touches ≤ 6 fixture dirs ×
    * ≤ 3 variants per memo, so 64 live entries means no eviction on any
    * real path while a pathological many-dir loop stays bounded at
    * ~10 KB per memo. */
  val DefaultMax: Int = 64
}
