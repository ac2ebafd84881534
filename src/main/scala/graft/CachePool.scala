package graft

import org.apache.spark.sql.Dataset

/** One-generation registry for operator-internal lazy `persist`s whose
  * handles must outlive the builder call (the returned DataFrame's plan
  * references the cached table, so the builder cannot `unpersist` before
  * the caller's action has run).
  *
  * Why it exists: `Dataset.persist` registers a `CacheManager` entry
  * that the `ContextCleaner` does NOT free when the Dataset becomes
  * unreachable — without explicit release, every `bm25TopK` /
  * `charNgramDetect` / `lmScore` call would pin one cached table for
  * the session lifetime. Registering the handle here bounds that to
  * ONE live generation per tag: the next call under the same tag
  * releases the previous call's cache.
  *
  * Unpersisting a table a still-lazy result plan references is safe —
  * Spark falls back to recomputing from lineage — so the swap can
  * never corrupt a result, only (at worst) cost a stale caller a
  * recompute. Long-lived sessions that want a hard floor can call
  * [[releaseAll]] at a quiesce point (e.g. between batch waves).
  */
object CachePool {

  private val live =
    new java.util.concurrent.ConcurrentHashMap[String, Dataset[_]]()

  /** Register this call's persisted handle under `tag`, releasing the
    * previous generation registered under the same tag. Returns `ds`.
    *
    * Same-plan guard: Spark's `CacheManager` dedupes cache entries by
    * canonicalized logical plan, so when the new generation's plan is
    * semantically equal to the previous one (repeated `bm25TopK` /
    * `lmScore` over the same input — e.g. q92 then q93 in a bench
    * pass), the new `persist` reuses the previous entry and the two
    * handles share ONE cached table. Unpersisting `prev` then would
    * silently evict the live generation (recompute on every downstream
    * use — the r11 q93 floor drift). When plans match we skip the
    * unpersist: there is only one entry, so the leak bound (one live
    * generation per tag) is preserved without it. */
  def swap[T](tag: String, ds: Dataset[T]): Dataset[T] = {
    val prev = live.put(tag, ds)
    if (prev != null && (prev ne ds) &&
        !prev.queryExecution.analyzed.sameResult(ds.queryExecution.analyzed))
      prev.unpersist(blocking = false)
    ds
  }

  /** Release the generation registered under `tag`, if any. */
  def release(tag: String): Unit = {
    val prev = live.remove(tag)
    if (prev != null) prev.unpersist(blocking = false)
  }

  /** Release every tracked cache (session quiesce point). */
  def releaseAll(): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      it.next().getValue.unpersist(blocking = false)
      it.remove()
    }
  }

  /** Number of live tracked generations (spec hook). */
  def liveCount: Int = live.size()
}
