package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete when read. The bus is `private[spark]`. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
