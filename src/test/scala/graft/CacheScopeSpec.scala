package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle checks for the session-resource registry: memoized
  * Datasets, tracked caches and registered localCheckpoints are freed
  * by releaseAll of their own session only, releaseCheckpoint frees
  * (and unregisters) a superseded generation immediately but never the
  * source of a derived frame, and the iterative operators that release
  * generations in-loop still compute correct results (a wrongly-early
  * release would fail them with missing-checkpoint-block errors, not
  * wrong numbers — localCheckpoint has no recompute path).
  *
  * Assertions are keyed on the EXACT checkpoint RDD id (not global
  * block counts): suites share one test JVM and may run concurrently,
  * so context-wide storage tallies are not stable. Operators run on a
  * dedicated newSession() so releaseAll here cannot drain another
  * suite's session-scoped entries. */
class CacheScopeSpec extends AnyFunSuite {
  import TestSpark._

  private def cpRddId(ds: Dataset[_]): Int =
    ds.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.getOrElse(fail("expected a localCheckpoint-backed plan"))

  private def pinned(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def awaitUnpinned(id: Int): Boolean = {
    // unpersist is non-blocking; poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (pinned(id) && System.nanoTime() < deadline) Thread.sleep(50)
    !pinned(id)
  }

  test("trackLocalCheckpoint: blocks freed by releaseAll") {
    val s = spark.newSession()
    val cp = CacheScope.trackLocalCheckpoint(s.range(1000).toDF("id"))
    val id = cpRddId(cp)
    assert(cp.count() == 1000)
    assert(pinned(id), "checkpoint must pin storage while registered")
    CacheScope.releaseAll(s)
    assert(awaitUnpinned(id),
      "releaseAll must free registered checkpoint blocks")
  }

  test("releaseCheckpoint frees a superseded generation immediately") {
    val s = spark.newSession()
    val gen1 = s.range(100).toDF("id").localCheckpoint()
    val id = cpRddId(gen1)
    assert(gen1.count() == 100)
    assert(pinned(id))
    CacheScope.releaseCheckpoint(gen1)
    assert(awaitUnpinned(id),
      "releaseCheckpoint must free the generation's blocks")
  }

  test("checkpoint release logs no unpersist WARN; errors still surface") {
    import org.apache.logging.log4j.{Level, LogManager}
    val s = spark.newSession()
    val cp = CacheScope.trackLocalCheckpoint(s.range(10).toDF("id"))
    assert(cp.count() == 10)
    CacheScope.releaseAll(s)
    val rddLog = LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
    assert(!rddLog.isEnabled(Level.WARN),
      "the per-checkpoint unpersist WARN must be off")
    assert(rddLog.isEnabled(Level.ERROR), "errors must still surface")
    // scoped to that one logger: Spark's other WARNs keep flowing
    assert(LogManager.getLogger("org.apache.spark.rdd.RDD")
      .isEnabled(Level.WARN))
  }

  test("releaseCheckpoint is a no-op on non-checkpoint plans") {
    CacheScope.releaseCheckpoint(spark.range(10).toDF("id"))
  }

  test("releaseAll drops a memoized Dataset's cache; memo rebuilds") {
    val s = spark.newSession()
    var builds = 0
    def memoized = CacheScope.memo(s, "dir", "cache_scope_a") {
      builds += 1
      s.range(0, 1001, 1, 3).toDF("memo_a").cache()
    }
    val first = memoized
    assert(first.count() == 1001)
    assert((memoized eq first) && builds == 1, "memo builds a key once")
    assert(first.storageLevel != StorageLevel.NONE)
    CacheScope.releaseAll(s)
    assert(first.storageLevel == StorageLevel.NONE,
      "releaseAll must unpersist the built memo value")
    val second = memoized
    assert(builds == 2 && !(second eq first), "released memo rebuilds")
    assert(second.count() == 1001)
    CacheScope.releaseAll(s)
  }

  test("releaseAll(s1) leaves s2's memos, caches and checkpoints") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    // distinct plans per session: the cache manager is shared across
    // sessions, so equal plans would share one cache entry
    def fill(s: SparkSession, start: Long) = {
      val m = CacheScope.memo(s, "dir", "cache_scope_b") {
        s.range(start, start + 1002, 1, 3).toDF("m").cache()
      }
      val c = CacheScope.track(s.range(start, start + 1003, 1, 3).toDF("c"))
      val cp = CacheScope.trackLocalCheckpoint(s.range(1004).toDF("id"))
      assert(m.count() == 1002 && c.count() == 1003 && cp.count() == 1004)
      (m, c, cp)
    }
    val (_, c1, cp1) = fill(s1, 0L)
    val (m2, c2, cp2) = fill(s2, 1L << 20)
    CacheScope.releaseAll(s1)
    // (s1's memo release is the case above)
    assert(c1.storageLevel == StorageLevel.NONE)
    assert(awaitUnpinned(cpRddId(cp1)))
    assert(m2.storageLevel != StorageLevel.NONE, "s2's memo was released")
    assert(c2.storageLevel != StorageLevel.NONE, "s2's cache was released")
    assert(pinned(cpRddId(cp2)), "s2's checkpoint was released")
    assert(CacheScope.checkpointIds(s2).contains(cpRddId(cp2)))
    assert(CacheScope.memo[DataFrame](s2, "dir", "cache_scope_b")(
      fail("s2's memo was rebuilt")) eq m2)
    assert(cp2.count() == 1004)
    CacheScope.releaseAll(s2)
  }

  test("releaseCheckpoint on a derived frame leaves the checkpoint") {
    val s = spark.newSession()
    val cp = CacheScope.trackLocalCheckpoint(s.range(1005).toDF("id"))
    val id = cpRddId(cp)
    assert(cp.count() == 1005)
    CacheScope.releaseCheckpoint(cp.filter(col("id") % 2 === 0))
    assert(pinned(id), "a derived plan must not free its source")
    assert(cp.count() == 1005)
    CacheScope.releaseAll(s)
  }

  test("releaseCheckpoint unregisters the checkpoint") {
    val s = spark.newSession()
    val keep = CacheScope.trackLocalCheckpoint(s.range(1006).toDF("id"))
    val gen = CacheScope.trackLocalCheckpoint(s.range(1007).toDF("id"))
    assert(CacheScope.checkpointIds(s).size == 2)
    CacheScope.releaseCheckpoint(gen)
    assert(CacheScope.checkpointIds(s) == Seq(cpRddId(keep)),
      "the registry must drop a released checkpoint")
    assert(awaitUnpinned(cpRddId(gen)))
    CacheScope.releaseAll(s)
    assert(CacheScope.checkpointIds(s).isEmpty)
  }

  test("iterative operators stay correct with in-loop releases") {
    // an early release would surface as a missing-checkpoint-block
    // failure (no recompute path) — correct results prove every freed
    // generation was genuinely dead
    val s = spark.newSession()
    import s.implicits._
    val v = Seq(0L, 1L, 2L, 3L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val hits = graft.graph.LinkGraph.hits(v, e, iters = 3)
      .as[(Long, Long, Long)].collect()
    assert(hits.length == 4)
    val pr = graft.graph.LinkGraph.pageRank(v, e, iters = 3).collect()
    assert(pr.length == 4)
    // distributed star-loop regime (driverThreshold = 0) — exercises
    // the generation-release path; result re-read AFTER the loop
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = graft.dedup.Dedup
      .connectedComponents(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    CacheScope.releaseAll(s)
  }
}
