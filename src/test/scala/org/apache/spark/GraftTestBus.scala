package org.apache.spark

/** Listener events are delivered asynchronously; a test that counts them
  * reads its counter only after the bus has drained, which needs the
  * package-private `listenerBus`.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
