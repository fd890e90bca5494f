package org.apache.spark

/** The listener bus is delivered asynchronously; span counters are read
  * only after it has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
