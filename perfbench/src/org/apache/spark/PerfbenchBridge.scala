package org.apache.spark

/** The listener bus is package-private; the traced run waits on it so
  * every task-end event of an operation is counted before it is read.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
