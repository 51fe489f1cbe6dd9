package org.apache.spark

/** The listener bus drain is `private[spark]`; the trace needs it so that a
  * window's counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
