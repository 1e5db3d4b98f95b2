package org.apache.spark

/** Listener events arrive asynchronously; a measurement that reads them
  * must first wait until the bus has delivered everything posted so far.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
