package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/**
 * Bridge to the `private[spark]` listener bus, for `graft.tools.Instrument`.
 * Operators post their op records through it inside timed passes; posting
 * only enqueues. Events are delivered asynchronously, so the instrument
 * drains the bus between passes, never inside one.
 */
object ListenerBusAccess {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  /** Block until every queued listener event is delivered, or the
   *  timeout elapses — whichever first. Never throws. */
  def drain(sc: SparkContext, timeoutMs: Long = 2000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
