package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Session-end cleanup for the handful of DELIBERATE session-lifetime
  * persists (minhash shingle sets, packed-simhash signatures, bloom-probe
  * shingles): each backing operator returns a LAZY plan over its cache, so
  * it cannot unpersist before the caller materializes — but across a
  * 391-query Verify sweep those cached RDDs would otherwise accumulate in
  * executor storage for the whole session. Operators register here instead
  * of calling persist directly; the harness mains (Verify, Bench) call
  * [[sweep]] once their work is materialized. Entry points that never
  * sweep lose nothing: the registry holds no data, only references, and
  * the session's lifetime bound is unchanged from the old behavior. */
object CacheRegistry {
  private val live =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Dataset[_], java.lang.Boolean]())

  /** Persist `ds` (MEMORY_AND_DISK) and register it for the next sweep.
    * A plan that is already cached (CacheManager matches by canonicalized
    * plan, so a shared builder called once per consumer card hits this) is
    * returned as is: the entry registered first releases it on sweep. */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      live.add(ds)
    }
    ds
  }

  /** Invalidation hooks for DERIVED memos of tracked frames (round-14
    * ADVICE: QueriesAnalytics' erLabelsMemo hands out a tracked frame by
    * reference — after sweep() unpersists it, the memo would keep serving
    * the now-unpersisted plan, silently re-running the whole CC job per
    * consumer, and would pin the SparkSession for JVM lifetime). Memo
    * holders register a clear-function once; sweep() runs every hook. */
  private val sweepHooks =
    new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

  /** Register a callback to run on every [[sweep]] (idempotent clears only). */
  def onSweep(f: () => Unit): Unit = sweepHooks.add(f): Unit

  /** Unpersist every registered dataset (non-blocking) and forget them.
    * Safe to call at any point — a subsequent re-use of an operator simply
    * recomputes or re-registers. */
  def sweep(): Unit = {
    val it = live.iterator()
    while (it.hasNext) { it.next().unpersist(false); it.remove() }
    sweepHooks.forEach(f => f())
  }

  /** Number of currently-registered live caches (spec hook). */
  def liveCount: Int = live.size()
}
