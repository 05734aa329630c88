package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads listener totals, so every event of a finished call is counted.
  */
object CodebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
