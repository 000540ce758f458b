package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the trace reads its counters only after every event of the traced
  * work has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
