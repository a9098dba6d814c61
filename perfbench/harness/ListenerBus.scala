package org.apache.spark

/** The listener bus is private to Spark; the traced run waits on it so an
  * operation's last events are recorded before its spans are assembled.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
