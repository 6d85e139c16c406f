package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{SimilarityQueries, StreamingQueries}
import graft.runtime.FrameCache

/** FrameCache's contract: a racing build runs ONCE (no orphaned cached
  * frames pinning executor memory), eviction actually releases what it
  * drops, and `GraftSession.close` reaches every memo a session owns. */
class FrameCacheSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)

  test("racing gets build the value exactly once") {
    val built = new AtomicInteger(0)
    val cache = FrameCache.of[String, String]("spec-race", _ => None)(_ => ())
    val threads = 8
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      (0 until threads).foreach { _ =>
        pool.execute { () =>
          start.await()
          cache.get("k") {
            built.incrementAndGet()
            Thread.sleep(50) // widen the race window
            "v"
          }
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(10, TimeUnit.SECONDS), "racing gets deadlocked")
    } finally pool.shutdown()
    assert(built.get() == 1, s"builder ran ${built.get()} times")
    assert(cache.size == 1)
  }

  test("evictSession unpersists and drops only that session's entries") {
    val cache = FrameCache.frames("spec-evict")
    val other = spark.newSession()
    val mine = cache.get((spark, "dirA"))(
      spark.range(10).toDF("v").cache())
    // different plan than `mine`: sessions of one SparkContext share a
    // CacheManager, and identical plans dedupe to ONE cache entry —
    // unpersisting one handle would (correctly) release both
    val theirs = cache.get((other, "dirA"))(
      other.range(20).toDF("v").cache())
    mine.count(); theirs.count() // materialize both caches
    assert(mine.storageLevel != StorageLevel.NONE)

    assert(cache.evictSession(spark) == 1)
    assert(mine.storageLevel == StorageLevel.NONE, "evicted frame still cached")
    assert(theirs.storageLevel != StorageLevel.NONE,
      "eviction bled into another session's entry")
    assert(cache.size == 1)

    // rebuilding after eviction works (fresh entry, not the stale handle)
    val again = cache.get((spark, "dirA"))(
      spark.range(5).toDF("v").cache())
    assert(again.count() == 5)
    cache.evict(_ => true)
    assert(cache.size == 0)
  }

  test("GraftSession.close releases a retired session's standing frames (r6 #2)") {
    // two registered caches (the multi-cache registry sweep), two
    // sessions sharing one context — closing one session must unpersist
    // exactly its frames, across ALL caches, and leave the other's alone
    val cacheA = FrameCache.frames("spec-close-a")
    val cacheB = FrameCache.frames("spec-close-b")
    val retiring = spark.newSession()
    val surviving = spark.newSession()
    val r1 = cacheA.get((retiring, "d"))(retiring.range(11).toDF("v").cache())
    val r2 = cacheB.get((retiring, "d"))(retiring.range(12).toDF("v").cache())
    val s1 = cacheA.get((surviving, "d"))(surviving.range(13).toDF("v").cache())
    Seq(r1, r2, s1).foreach(_.count())
    assert(Seq(r1, r2, s1).forall(_.storageLevel != StorageLevel.NONE))

    assert(GraftSession.close(retiring) >= 2,
      "teardown missed registry entries owned by the retiring session")
    assert(r1.storageLevel == StorageLevel.NONE &&
      r2.storageLevel == StorageLevel.NONE,
      "retired session's standing frames still pinned after close")
    assert(s1.storageLevel != StorageLevel.NONE,
      "close bled into another session's entries")
    assert(cacheA.size == 1 && cacheB.size == 0)
    cacheA.evict(_ => true)
  }

  test("GraftSession.close releases query memos and deletes staged fixtures") {
    val sf = "/root/testdata/sf0.001"
    def run(s: SparkSession, q: String) =
      SparkEntry.queries(q)(s, sf).collect().map(_.toSeq).toSeq
    val s1 = spark.newSession()
    val q42 = run(s1, "q42_stream_tumbling")
    val q50 = run(s1, "q50_ann_ivf")
    val staged = StreamingQueries.Fixtures.cache.peek((s1, "stream", sf))
    assert(staged.exists(new java.io.File(_).isDirectory),
      "q42 did not stage its input through the fixture memo")
    assert(SimilarityQueries.centCache.peek((s1, sf)).isDefined)
    assert(SimilarityQueries.modCache.peek((s1, sf)).isDefined)

    GraftSession.close(s1)
    assert(StreamingQueries.Fixtures.cache.peek((s1, "stream", sf)).isEmpty)
    assert(SimilarityQueries.centCache.peek((s1, sf)).isEmpty)
    assert(SimilarityQueries.modCache.peek((s1, sf)).isEmpty)
    assert(!new java.io.File(staged.get).exists(),
      "closing the session left its staged fixture dir on disk")

    // a second session over the same dir rebuilds and answers identically
    val s2 = spark.newSession()
    try {
      assert(run(s2, "q42_stream_tumbling") == q42)
      assert(run(s2, "q50_ann_ivf") == q50)
    } finally GraftSession.close(s2)
  }
}
