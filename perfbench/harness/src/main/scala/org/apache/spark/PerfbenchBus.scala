package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced benchmark run
  * needs it to close a query span only after every event the query posted
  * has reached the benchmark's listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
