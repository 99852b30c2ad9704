package org.apache.spark

/** The listener bus is package-private; a traced run must wait for it to
  * deliver every job and task event before reading its collector.
  */
object SparkContextAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
