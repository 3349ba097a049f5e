package org.apache.spark

/** Drains the listener bus so that every event of the actions run so
  * far has reached the registered listeners. Lives in this package
  * because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
