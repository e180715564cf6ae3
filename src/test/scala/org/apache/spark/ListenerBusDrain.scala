package org.apache.spark

/** The listener bus is private[spark]; tests that count jobs drain it
  * so every event of the measured action is delivered before counting.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
