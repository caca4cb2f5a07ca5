package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** LogicalPlan → DataFrame bridge (`Dataset.ofRows` is private[sql]) —
  * the standard pattern for extension libraries that construct custom
  * logical nodes directly (same rationale as [[ColumnBridge]]).
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session planner's full strategy list (extensions-injected +
    * experimental + built-in) — lets callers test whether a strategy is
    * already registered by EITHER route before adding it again. */
  def plannerStrategies(spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies

  /** A child session of `spark` (`cloneSession` is private[sql]): it
    * starts from a copy of the parent's SQL conf, temp views, functions
    * and listeners and shares its SparkContext and CacheManager, so a
    * conf set on the child never reaches the parent. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Detach the streaming listener buses of a session that starts no more
    * queries, and of the sessions Spark cloned from it for `queries`,
    * from the SparkContext's listener bus. A session registers one there
    * when it first starts a stream and never unregisters it (the field is
    * private, hence the reflection), so each replay's child session and
    * every stream's own clone would stay reachable, temp views and
    * memory-sink rows included, for the life of the JVM. */
  def detachStreams(spark: SparkSession, queries: Seq[StreamingQuery]): Unit = {
    val bus = classOf[org.apache.spark.sql.classic.StreamingQueryManager].getDeclaredField("listenerBus")
    bus.setAccessible(true)
    val sessions = spark +: queries.collect { case q: StreamingQueryWrapper => q.streamingQuery.sparkSessionForStream }
    sessions.foreach(s => spark.sparkContext.removeSparkListener(
      bus.get(s.streams).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface]))
  }
}
