package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Bridge for plan-level operators (graft.plans): wraps a custom
  * [[LogicalPlan]] node into a DataFrame so it flows through the normal
  * analyzer/optimizer/planner, where a `spark.experimental.extraStrategies`
  * entry plans it to its physical operator.
  *
  * These accessors are the ONLY non-public Spark API surface the library
  * touches: `classic.Dataset.ofRows` sits behind `private[sql]`, and the
  * sanctioned alternative (`SparkSessionExtensions`) requires owning
  * session construction, which an embedding host that hands the library an
  * already-built session (the round driver here) does not offer. One file
  * inside `org.apache.spark.sql` is the established pattern for libraries
  * adding whole-plan operators to sessions they don't build.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Stable per-session unique id (`classic.SparkSession.sessionUUID`,
    * `private[sql]`) — the collision-free cache key the session-keyed
    * staging caches use instead of `identityHashCode` (ADVICE r17).
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[ClassicSession].sessionUUID

  /** Blocks until the listener bus has delivered every queued event
    * (`SparkContext.listenerBus`, `private[spark]`), so a listener's tally
    * of the jobs an action just ran is complete when it is read.
    */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
