package org.apache.spark

/** Access to the `private[spark]` listener bus, so counters read after a
  * job include every event the job posted. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
