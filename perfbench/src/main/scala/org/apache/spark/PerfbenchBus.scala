package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after the bus has drained, which needs the package-private
  * `listenerBus`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
