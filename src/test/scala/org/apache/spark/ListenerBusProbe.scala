package org.apache.spark

/** Test-side access to the driver's listener bus: events reach listeners
  * asynchronously, so a spec that counts jobs drains the bus first.
  */
object ListenerBusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
