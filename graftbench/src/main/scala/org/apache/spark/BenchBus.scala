package org.apache.spark

/** Bridge to the `private[spark]` listener bus: span counters are read
  * only after every event posted so far has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
