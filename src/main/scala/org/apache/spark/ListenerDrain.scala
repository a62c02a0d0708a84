package org.apache.spark

/** Access to the listener bus, which is `private[spark]`. Listener
  * events arrive asynchronously, so a job count read right after an
  * action can miss the action's last jobs; draining the bus first
  * makes it exact. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
