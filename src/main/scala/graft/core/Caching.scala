package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache registry: the cache-lifetime contract for every
  * multi-consumer intermediate the operators pin.
  *
  * Operators like [[graft.operators.Dedup.lshCandidates]] persist an
  * intermediate relation that feeds two or more downstream scans. The
  * operator cannot `unpersist` it before returning — the returned plan is
  * lazy and still reads the pinned relation — so the LIFETIME is
  * caller-owned: whoever runs the consuming action calls [[release]] (or
  * wraps the whole consume in [[scoped]]) once the results are
  * materialized. `Verify` releases after each query's parquet write and
  * `Bench` between timed iterations; a long-lived shared session would do
  * the same at its own job boundaries. Without this, cached relations
  * accumulate in the block manager for the life of the session
  * (MEMORY_AND_DISK spills rather than OOMs, but a 100 TB shared session
  * would bloat storage memory and evict useful blocks). A [[Scope]] is
  * per thread: pins made inside it are released when it closes, whatever
  * other threads on the same session have pinned meanwhile.
  *
  * Release is surgical — only graft-registered handles are unpersisted,
  * never caches the embedding application created itself — and idempotent:
  * unpersisting an already-released or never-materialized relation is a
  * no-op in Spark.
  */
object Caching {

  private val registry =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[Dataset[_]]]()

  /** Registration scopes open on the calling thread, innermost first. */
  private val scopes = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** The pins registered while this scope was the calling thread's
    * innermost one; [[close]] releases exactly those. Concurrent jobs on
    * one session (SubmitJob's executor) each own their scope, so one job's
    * release never unpersists a relation another job is still reading. */
  final class Scope private[Caching] () extends AutoCloseable {
    private[Caching] val handles = new ConcurrentLinkedQueue[Dataset[_]]()
    override def close(): Unit = {
      scopes.set(scopes.get.filterNot(_ eq this))
      handles.forEach(_.unpersist(false))
      handles.clear()
    }
  }

  /** Open a registration scope on the calling thread; close it (or use
    * [[scoped]]) once the results are materialized. */
  def open(): Scope = {
    val s = new Scope
    scopes.set(s :: scopes.get)
    s
  }

  /** Persist `ds` (MEMORY_AND_DISK unless overridden) and register the
    * handle with the calling thread's innermost [[Scope]], or with the
    * session for a later [[release]] when no scope is open. Drop-in for
    * the bare `ds.persist(...)` an operator would otherwise call on a
    * multi-consumer intermediate. */
  def shared[T](ds: Dataset[T],
                level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    val pinned = ds.persist(level)
    scopes.get.headOption.map(_.handles).getOrElse(registry
      .computeIfAbsent(ds.sparkSession, _ => new ConcurrentLinkedQueue[Dataset[_]]()))
      .add(pinned)
    pinned
  }

  /** Unpersist every intermediate registered against `spark` outside any
    * scope since the last release. Non-blocking: block eviction proceeds
    * asynchronously. */
  def release(spark: SparkSession): Unit = {
    val handles = registry.remove(spark)
    if (handles != null) handles.forEach(_.unpersist(false))
  }

  /** Run `body` in a fresh [[Scope]], then release all intermediates it
    * registered. `body` must MATERIALIZE its results (write/collect/count)
    * before returning — returning a lazy plan from `scoped` would
    * recompute the released intermediates on first use. */
  def scoped[T](body: => T): T = {
    val s = open()
    try body finally s.close()
  }
}
