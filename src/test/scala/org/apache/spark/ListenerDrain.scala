package org.apache.spark

/** Bridge to the `private[spark]` listener bus: returns once every event
  * posted before the call has been delivered, or throws
  * `TimeoutException` after `timeoutMs`.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
