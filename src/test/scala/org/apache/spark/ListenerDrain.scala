package org.apache.spark

/** The listener bus delivers events asynchronously; specs that count
  * events wait for every event of a finished action to be delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
