package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable

/** The single per-session registry of what graft pins: the lifecycle
  * contract for everything the library keeps alive between calls.
  *
  *   - '''memo''' ([[memo]]): a value built once per (session, dir,
  *     tag) and shared by several registry queries — loaded tables,
  *     written fixtures, streaming state, built indexes. Registry
  *     queries are read-only over immutable testdata dirs, so within
  *     one live session the memo is by design.
  *   - '''cache''' ([[track]]): a Dataset an operator persists for its
  *     own several consumers (e.g. the df-capped shingle index in
  *     [[graft.dedup.Dedup.jaccardPairsFromShingles]]).
  *   - '''checkpoint''' ([[trackLocalCheckpoint]],
  *     [[registerCheckpoint]]): `localCheckpoint` storage. Its blocks
  *     are the only copy of the data (lineage truncated).
  *
  * [[releaseAll]] is the one release point: it drains memos (only the
  * Dataset values that were actually built hold storage), then caches,
  * then checkpoints, and forgets the session. What happens next:
  *   - a released memo is rebuilt by the next [[memo]] call;
  *   - results derived from a released cache recompute;
  *   - results derived from a released checkpoint do NOT recompute, so
  *     every consumer must have been evaluated before the release.
  * [[releaseCheckpoint]] frees one superseded generation early (and
  * unregisters it); the same no-recompute rule applies to it.
  *
  * Retention: one entry per session behind one lock, with strong keys.
  * A Dataset (and every memo thunk) references its SparkSession, so a
  * WeakHashMap keyed on the session would never collect (the
  * value→key indirect-reference trap in the WeakHashMap javadoc), and
  * weak values would lose the unpersist handle. Instead every call
  * prunes the entries of STOPPED contexts (Spark has already freed
  * their blocks). A service that cycles sessions through
  * `session.stop()` therefore does not accumulate; a live session
  * dropped without stop() or [[releaseAll]] keeps its entry.
  */
object CacheScope {
  /** Lazy holder: registered under the lock cheaply, built OUTSIDE it
    * — nested memo calls from inside a build thunk (e.g. a memoized
    * corpus loading a memoized table) are legal. `lazy val` gives
    * once-only per-key construction under concurrency. */
  private final class Holder(thunk: () => AnyRef) {
    @volatile private var done = false
    lazy val value: AnyRef = { val v = thunk(); done = true; v }
    /** The value if the thunk already ran; never triggers a build. */
    def builtValue: Option[AnyRef] = if (done) Some(value) else None
  }

  /** Everything registered for one session; guarded by `sessions`. */
  private final class Entry {
    val memos = mutable.HashMap.empty[String, Holder]
    val caches = mutable.ArrayBuffer.empty[Dataset[_]]
    val checkpoints = mutable.LinkedHashSet.empty[RDD[_]]
    def isEmpty: Boolean =
      memos.isEmpty && caches.isEmpty && checkpoints.isEmpty
  }

  private val sessions = mutable.HashMap.empty[SparkSession, Entry]

  /** Run `f` on `s`'s entry (created on demand) under the one lock. */
  private def withEntry[T](s: SparkSession)(f: Entry => T): T =
    sessions.synchronized {
      sessions.filterInPlace((k, _) => !k.sparkContext.isStopped)
      f(sessions.getOrElseUpdate(s, new Entry))
    }

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

  /** The value memoized under (`s`, `dir`, `tag`), built by `build` on
    * first use. */
  def memo[T <: AnyRef](s: SparkSession, dir: String, tag: String)(
      build: => T): T =
    withEntry(s)(_.memos.getOrElseUpdate(s"$tag|$dir",
      new Holder(() => build))).value.asInstanceOf[T]

  /** Persist `df` (MEMORY_AND_DISK, `.cache()` semantics) and remember
    * it for [[releaseAll]]. */
  def track[T](df: Dataset[T]): Dataset[T] = {
    withEntry(df.sparkSession)(_.caches += df.cache())
    df
  }

  /** The materialized RDD behind a `localCheckpoint()`ed Dataset — the
    * handle its storage blocks are freed through. Only a plan whose
    * ROOT is the checkpoint matches: a frame derived from a checkpoint
    * must not free the checkpoint it reads. */
  private def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** Eager `localCheckpoint` whose storage blocks are registered for
    * [[releaseAll]]. Consumers must be evaluated before the release:
    * unlike a cache, a released checkpoint does not recompute. */
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
      withEntry(cp.sparkSession)(_.checkpoints += r)
    }

  /** Free the storage behind a `localCheckpoint()`ed Dataset NOW and
    * unregister it — for superseded generations that are provably dead
    * (e.g. rank vector i−1 once vector i is materialized). The Dataset
    * must not be referenced again: there is no recompute path. No-op
    * unless the plan root is a checkpoint. */
  def releaseCheckpoint(ds: Dataset[_]): Unit =
    checkpointRdd(ds).foreach { r =>
      // an emptied entry goes too: a stream's foreachBatch runs on a
      // cloned session that nothing releases or stops
      sessions.synchronized(sessions.get(ds.sparkSession).foreach { e =>
        e.checkpoints -= r
        if (e.isEmpty) sessions.remove(ds.sparkSession)
      })
      quietCheckpointRelease
      r.unpersist(false)
    }

  /** Ids of the checkpoint RDDs registered for `s`. */
  private[graft] def checkpointIds(s: SparkSession): Seq[Int] =
    sessions.synchronized(sessions.get(s).toSeq
      .flatMap(_.checkpoints.map(_.id)))

  /** Release everything registered for `s` (non-blocking unpersists)
    * and forget the session: built memo Datasets, then caches, then
    * checkpoints. Unbuilt memos are dropped without being forced. */
  def releaseAll(s: SparkSession): Unit =
    sessions.synchronized(sessions.remove(s)).foreach { e =>
      e.memos.values.flatMap(_.builtValue).foreach {
        case df: Dataset[_] => df.unpersist(false)
        case _ => ()   // non-Dataset memo values hold no storage
      }
      e.caches.foreach(_.unpersist(false))
      if (e.checkpoints.nonEmpty) {
        quietCheckpointRelease
        e.checkpoints.foreach(_.unpersist(false))
      }
    }
}
