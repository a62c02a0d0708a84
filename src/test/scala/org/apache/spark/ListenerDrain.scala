package org.apache.spark

/** Test-scope access to the listener bus. Listener events arrive
  * asynchronously, so a job count read right after an action can miss
  * the action's last jobs; draining the bus first makes it exact. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
