/*
 * In-package accessor for Spark's `private[spark]` listener bus — the
 * same technique as StateStoreHygiene. ONE delegating method.
 */
package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Block until every event already posted to the listener bus has been
  * delivered (bounded by the bus's own 10 s timeout). A job's end and its
  * task-end events are posted before the action that ran it returns, so
  * after a drain a listener has seen all of them — no sleep, no poll. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
