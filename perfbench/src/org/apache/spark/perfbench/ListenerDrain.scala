package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so
  * a traced run reads complete job, Catalyst and micro-batch records and a
  * heap reading does not count events still waiting in the queue.
  * The wait lives in `org.apache.spark` because `listenerBus` is
  * `private[spark]`; it observes nothing, it only waits.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
