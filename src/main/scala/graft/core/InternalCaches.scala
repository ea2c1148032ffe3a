package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry of operator-INTERNAL persisted frames, giving long-lived
  * sessions a release path for caches the operators cannot unpersist
  * themselves.
  *
  * Several operators persist a frame that is consumed more than once
  * *inside the plan they return* (self-join sides, re-verify joins,
  * prefix-sum offsets): Catalyst never deduplicates self-join subtrees, so
  * without the persist one invocation re-derives the expensive upstream
  * per consumer. But the consuming action belongs to the CALLER — the
  * operator returns lazily and is never told when the caller's job is
  * done, so it cannot `unpersist()` at the right moment. Plan-keyed
  * persist dedupes repeat invocations, yet each distinct input used to
  * accumulate a MEMORY_AND_DISK entry forever (disk-backed blocks are not
  * LRU-reclaimed), growing storage unboundedly across queries and dirs in
  * a long-lived session.
  *
  * The contract here: operators route internal persists through
  * [[persist]], and whoever owns the batch boundary — Bench and TimeProbe
  * between gate queries, Verify after each dump, a library user after a
  * batch — calls [[release]](session). Release unpersists ONLY the
  * registered operator-internal entries, never source-table or caller
  * caches (a blanket `spark.catalog.clearCache()` would evict those too).
  *
  * Sessions are keyed by object identity and stopped sessions are purged
  * on every registration, so the registry retains nothing beyond the live
  * sessions of the JVM.
  */
object InternalCaches {

  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[SparkSession, java.util.HashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame]]())

  /** Persist `df` (MEMORY_AND_DISK — lazy, fuses into the first consuming
    * job) and register it for a later [[release]]. Returns `df`.
    *
    * Registrations are deduped by canonicalized logical plan — the same
    * key Spark's CacheManager matches persisted plans on — so a caller
    * that loops the same query without ever releasing holds ONE handle
    * per distinct plan, not one per invocation (the executor-storage side
    * was always deduped by the CacheManager; this bounds the driver-side
    * handle list the same way). */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    val key = df.queryExecution.analyzed.canonicalized
    bySession.synchronized {
      val it = bySession.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      bySession.computeIfAbsent(df.sparkSession,
        _ => new java.util.HashMap()).putIfAbsent(key, df)
    }
    df
  }

  /** Unpersist every operator-internal frame registered under `spark`.
    * Non-blocking; safe to call with in-flight queries only if the caller
    * owns the session's action boundary (re-running a released query just
    * re-persists). Idempotent — repeat handles of the same plan-keyed
    * cache entry unpersist as no-ops after the first. */
  def release(spark: SparkSession): Unit = {
    val map = bySession.synchronized(bySession.remove(spark))
    if (map != null) {
      val it = map.values().iterator()
      while (it.hasNext) {
        try it.next().unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Number of registered handles for `spark` — 0 after a [[release]].
    * Test/diagnostic surface. */
  def registeredCount(spark: SparkSession): Int = bySession.synchronized {
    val m = bySession.get(spark); if (m == null) 0 else m.size()
  }
}
