package org.apache.spark

/** Lets the traced run close an op only after every listener event it
  * caused has been delivered (the bus is asynchronous, and its drain hook
  * is package-private). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
