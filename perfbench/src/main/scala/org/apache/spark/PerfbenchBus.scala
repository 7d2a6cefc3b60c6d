package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a unit's job and stage records are complete when it is closed.
  * Lives in this package because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
