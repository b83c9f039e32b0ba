package org.apache.spark

/** The benchmark reads listener state only after every event posted so far
  * has been delivered; the bus's drain call is package-private. */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
