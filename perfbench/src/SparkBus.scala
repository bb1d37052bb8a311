package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a
  * traced run reads its counters only after every posted event has
  * reached the listeners. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
