package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus, so the traced run can wait
 *  until every event of its own calls has been delivered before it
 *  aggregates them. Only the traced run calls it. */
object BusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
