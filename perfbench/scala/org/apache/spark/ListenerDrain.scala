package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * counter snapshot taken after an action includes all of its tasks.
  * Lives in this package because the bus is `private[spark]`.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
