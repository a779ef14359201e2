package org.apache.spark

/** The listener bus's drain is package-private; the bench needs it so a
  * span's counters are complete before it reads them.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
