package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark's
  * listeners read their counts only after every queued event has been
  * delivered, so it drains the bus through this one accessor. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
