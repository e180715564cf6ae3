package org.apache.spark

/** The listener bus is private[spark]; the traced run drains it between
  * ops so every event of one op is delivered before the next op starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
