package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test bridge to Spark's `private[spark]` listener bus: block until every
  * event posted so far has reached the listeners, so a counting listener
  * reads complete totals right after an action returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
