package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark's layer boundaries. Listener
  * events are delivered asynchronously; draining the bus at a boundary
  * makes every event posted before it visible to the listeners, so a
  * job or a query execution is attributed to the layer it ran in.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
