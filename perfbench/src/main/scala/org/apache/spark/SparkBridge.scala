package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark's listener must have seen every event before the ledger is
  * computed.
  */
object SparkBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
