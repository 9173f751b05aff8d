package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers job, stage and task events on its own
  * threads, after the action that caused them has returned. Counters fed
  * by a listener are read only after this returns, so a late end event
  * can neither be missed nor land in the next operation's window. Lives
  * in an `org.apache.spark` package because the bus is `private[spark]`.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
