package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/**
 * Access shim for `SparkSession.cloneSession()`, which is `private[sql]`.
 *
 * The per-query config surface (EngineContext.sql(query, configOptions),
 * mirroring the reference's `bc.sql(q, config_options)` —
 * reference: pyblazing/pyblazing/apiv2/context.py:3071-3146) needs a session
 * whose conf carries the overrides for the whole lifetime of the returned
 * DataFrame, because AQE re-reads several knobs at RUNTIME (partition
 * coalescing, skew-join sizes), long after planning. `cloneSession()` is
 * exactly that mechanism: it copies SessionState — conf, temp-view catalog,
 * registered UDFs/extensions — while sharing the SparkContext and cached
 * data, so the clone resolves the same tables and its conf edits never leak
 * back to the parent session. `newSession()` is public but starts an EMPTY
 * temp-view catalog, which would break table resolution.
 */
object SessionClone {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}

/** Access shim for `SparkSession.sessionState` (`private[sql]`): the
  * RESOLVED shuffle-partition count. `conf.get("spark.sql.shuffle.
  * partitions").toInt` throws on the non-numeric values managed
  * platforms set ("auto" under AQE-managed partitioning); SQLConf
  * resolves those to the effective integer. */
object ConfAccess {
  def numShufflePartitions(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions
}

/** Access shim for `SparkContext.listenerBus` (`private[spark]`): blocks
  * until every event posted so far has reached every listener. */
object ListenerDrain {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
