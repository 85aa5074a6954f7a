package graft

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle checks for the r22 checkpoint registry (r21 verdict ask
  * #4): registered localCheckpoints free their storage blocks at
  * releaseAll, releaseCheckpoint frees a superseded generation
  * immediately, and the iterative operators that release generations
  * in-loop still compute correct results (a wrongly-early release
  * would fail them with missing-checkpoint-block errors, not wrong
  * numbers — localCheckpoint has no recompute path).
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
