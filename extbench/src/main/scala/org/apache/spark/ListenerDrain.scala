package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * counters only after every event of a finished pass has been delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
