package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one in-memory memo for values built once per corpus
  * snapshot: shared cached frames (the LSH pair set, the IVF inverted
  * index, the curation-funnel stages, ...), trained centroids and
  * codebooks, and staged stream fixtures.
  *
  *  1. '''Single-build''': a key's builder runs exactly once, even under
  *     racing callers — a second build would orphan a cached frame
  *     (pinned executor memory nothing will ever unpersist). Builds run
  *     under a per-cache lock — `computeIfAbsent` semantics. Builds are
  *     rare (a handful of keys per process) and consumers hold the lock
  *     only on a miss, so the coarse lock is not a throughput concern.
  *  2. '''Eviction''': every cache self-registers, so a long-lived
  *     session can drop what it no longer needs —
  *     [[FrameCache.evictSession]] releases (unpersists, or deletes
  *     what the entry staged) and forgets one session's entries,
  *     [[FrameCache.evictStopped]] sweeps entries whose session is
  *     already stopped (stale (session, dir) keys no longer pin the
  *     process), and [[FrameCache.clearAll]] resets everything.
  *     Both properties are asserted in FrameCacheSpec.
  *
  * At cluster scale these memos are the "materialize once per corpus
  * snapshot" pattern; this registry is the snapshot-lifecycle seam for
  * the in-memory tier.
  */
final class FrameCache[K, V](
    val name: String,
    sessionOf: K => Option[SparkSession],
    unpersistValue: V => Unit) {

  private val map = new java.util.concurrent.ConcurrentHashMap[K, V]()

  /** Memoized lookup; on a miss, runs `build` exactly once per key. */
  def get(k: K)(build: => V): V = {
    val hit = map.get(k)
    if (hit != null) hit
    else map.synchronized {
      val again = map.get(k)
      if (again != null) again
      else {
        // housekeeping on the rare build path: entries whose session is
        // already stopped can never be served again — sweep them so
        // stale (session, dir) keys don't pin the process lifetime
        evictStopped()
        val v = build; map.put(k, v); v
      }
    }
  }

  /** Current entry for `k`, if any — no build, no lock. */
  def peek(k: K): Option[V] = Option(map.get(k))

  /** Unpersist + drop every entry matching `p`; returns entries dropped. */
  def evict(p: K => Boolean): Int = map.synchronized {
    val it = map.entrySet().iterator()
    var n = 0
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) {
        try unpersistValue(e.getValue) catch { case _: Throwable => () }
        it.remove(); n += 1
      }
    }
    n
  }

  def evictSession(s: SparkSession): Int = evict(k => sessionOf(k).contains(s))
  def evictStopped(): Int =
    evict(k => sessionOf(k).exists(_.sparkContext.isStopped))
  def size: Int = map.size()

  FrameCache.register(this)
}

object FrameCache {
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[FrameCache[_, _]]()
  private def register(c: FrameCache[_, _]): Unit = registry.add(c)

  /** Cache keyed (session, dir) holding one cached DataFrame. */
  def frames(name: String): FrameCache[(SparkSession, String), DataFrame] =
    new FrameCache(name, (k: (SparkSession, String)) => Some(k._1),
      (v: DataFrame) => { v.unpersist(); () })

  /** Generic constructor for other key/value shapes. */
  def of[K, V](name: String, sessionOf: K => Option[SparkSession])(
      unpersistValue: V => Unit): FrameCache[K, V] =
    new FrameCache(name, sessionOf, unpersistValue)

  def evictSession(s: SparkSession): Int = {
    var n = 0
    registry.forEach(c => n += c.evictSession(s))
    n
  }
  def evictStopped(): Int = {
    var n = 0
    registry.forEach(c => n += c.evictStopped())
    n
  }
  def clearAll(): Int = {
    var n = 0
    registry.forEach(c => n += c.evict(_ => true))
    n
  }
}
