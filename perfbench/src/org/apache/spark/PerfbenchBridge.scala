package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run drains it
  * after each op so every task and query event of that op has been seen
  * before the op's layer figures are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
