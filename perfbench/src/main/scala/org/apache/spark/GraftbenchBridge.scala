package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * ledger must see every queued event before it reports. */
object GraftbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
