package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

/** Session-scoped registry of caches the library creates INSIDE
  * operators (e.g. the df-capped shingle index in
  * [[graft.dedup.Dedup.jaccardPairsFromShingles]]), so a long-lived
  * consumer session has an explicit release point instead of pinning
  * blocks until LRU eviction. One-shot mains (Verify/Bench) call
  * [[graft.queries.SessionMemo.release]], which drains this too.
  *
  * Lifecycle note: a Dataset strongly references its SparkSession, so
  * a WeakHashMap keyed on the session would never collect (the
  * value→key indirect-reference trap in the WeakHashMap javadoc), and
  * weak Dataset values would lose the unpersist handle the moment the
  * caller drops its reference — re-pinning blocks, the exact problem
  * this class exists to solve. So: strong references, plus a sweep
  * that forgets STOPPED sessions on every call (a stopped context's
  * blocks are already freed by Spark). A service that cycles sessions
  * through `session.stop()` therefore does not accumulate; dropping a
  * live session without stop() leaks the session itself regardless of
  * this registry.
  */
object CacheScope {
  private val tracked = new java.util.HashMap[
    SparkSession, java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]]()

  /** localCheckpoint storage registered for [[releaseAll]] — kept
    * apart from `tracked` because the release semantics differ: a
    * released CACHE recomputes, a released CHECKPOINT's blocks are the
    * only copy of its data (lineage truncated), so these are freed
    * only at the session-level release point, after every consumer of
    * the round's results has been evaluated. */
  private val trackedCp = new java.util.HashMap[
    SparkSession, java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]]()

  /** Spark logs one WARN per unpersisted local checkpoint ("was locally
    * checkpointed, its lineage has been truncated") from the
    * checkpointed RDD's logger. Freeing checkpoints is what this
    * registry is for, so every release would flood the log with the
    * expected warning — raise that one logger to ERROR, once per JVM.
    * Errors still surface; other loggers keep their levels. Applied at
    * the first release, after Spark has installed its log4j2
    * configuration (which would otherwise replace the level). */
  private lazy val quietCheckpointRelease: Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

  private def pruneStopped(): Unit = {
    tracked.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
    trackedCp.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
  }

  /** Persist `df` (MEMORY_AND_DISK, `.cache()` semantics) and remember
    * it for [[releaseAll]]. */
  def track[T](df: Dataset[T]): Dataset[T] = {
    val q = tracked.synchronized {
      pruneStopped()
      var v = tracked.get(df.sparkSession)
      if (v == null) {
        v = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
        tracked.put(df.sparkSession, v)
      }
      v
    }
    q.add(df.cache())
    df
  }

  /** The materialized RDD behind a `localCheckpoint()`ed Dataset — the
    * handle its storage blocks are freed through. Empty for any other
    * plan shape (then there is nothing to free). */
  private def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Eager `localCheckpoint` whose storage blocks are REGISTERED for
    * [[releaseAll]] (r21 verdict: per-call checkpoints lingered until
    * the RDD was GC'd and the ContextCleaner noticed — orphaned blocks
    * for the rest of the session). Consumers must be evaluated before
    * the session-level release: unlike a cache, a released checkpoint
    * does not recompute. */
  def trackLocalCheckpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint()
    registerCheckpoint(cp)
    cp
  }

  /** Register an ALREADY-checkpointed Dataset for [[releaseAll]] —
    * for iteration loops whose final generation is only known after
    * the loop (re-checkpointing there would copy the blocks). */
  def registerCheckpoint(cp: Dataset[_]): Unit =
    checkpointRdd(cp).foreach { r =>
      val q = tracked.synchronized {
        pruneStopped()
        var v = trackedCp.get(cp.sparkSession)
        if (v == null) {
          v = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
          trackedCp.put(cp.sparkSession, v)
        }
        v
      }
      q.add(r)
    }

  /** Free the storage behind a `localCheckpoint()`ed Dataset NOW — for
    * iteration loops whose superseded generations are provably dead
    * (e.g. rank vector i−1 once vector i is materialized). The Dataset
    * must not be referenced again: its lineage is truncated, so there
    * is no recompute path. No-op on non-checkpoint plans. */
  def releaseCheckpoint(ds: Dataset[_]): Unit =
    checkpointRdd(ds).foreach { r =>
      quietCheckpointRelease
      r.unpersist(false)
    }

  /** Unpersist every cache and registered checkpoint tracked for `s`
    * (non-blocking) and forget them. Results derived from a released
    * CACHE recompute; results derived from a released CHECKPOINT must
    * already have been evaluated (see [[trackLocalCheckpoint]]). */
  def releaseAll(s: SparkSession): Unit = {
    val (q, qc) = tracked.synchronized {
      pruneStopped(); (tracked.remove(s), trackedCp.remove(s))
    }
    if (q != null) q.forEach(_.unpersist(false))
    if (qc != null) {
      quietCheckpointRelease
      qc.forEach(_.unpersist(false))
    }
  }
}
