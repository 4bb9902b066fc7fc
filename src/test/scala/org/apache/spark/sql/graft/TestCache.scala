package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CacheManager, CachedData}
import org.apache.spark.sql.execution.columnar.CachedRDDBuilder

/** Test-only accessor for the session's CacheManager (the [[TestBus]]
  * pattern for `private[sql]` state): lets the memo-lifecycle sweep
  * assert ZERO DataFrame-level caches survive `Dedup.clearCaches()` —
  * the runtime face of the "no bare .persist() in src/main" rule.
  * Lives under `org.apache.spark.sql` for package-private visibility —
  * test classpath only, never shipped with the library.
  */
object TestCache {
  private def cm(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  /** Every registered DataFrame/Dataset cache: its builder (shared by
    * each InMemoryTableScanExec that reads the cache) and its logical
    * plan. localCheckpoint RDD persists are NOT CacheManager entries
    * and don't appear. CacheManager keeps its entry list private, so
    * this reads it reflectively. */
  def entries(s: SparkSession): Seq[(CachedRDDBuilder, LogicalPlan)] = {
    val list = classOf[CacheManager].getDeclaredMethod("cachedData")
    list.setAccessible(true)
    list.invoke(cm(s)).asInstanceOf[IndexedSeq[CachedData]]
      .map(e => e.cachedRepresentation.cacheBuilder -> e.plan)
  }

  /** Drop every registered cache — the sweep's clean-slate baseline
    * (suite order must not leave another spec's caches behind). */
  def clearAll(s: SparkSession): Unit = cm(s).clearCache()
}
