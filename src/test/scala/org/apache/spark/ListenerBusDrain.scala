package org.apache.spark

/** Test-only access to the driver's listener bus. The status tracker
  * (`statusTracker.getActiveJobIds`) learns of a job's end only once the
  * asynchronous bus has delivered the event, so a spec asserting "no job
  * is running" drains the bus first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
