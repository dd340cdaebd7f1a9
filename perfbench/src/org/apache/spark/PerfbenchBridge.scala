package org.apache.spark

/** Access to the driver's listener bus (private[spark]): a traced op is
  * closed only after every listener event its jobs posted was delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
