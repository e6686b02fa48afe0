package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; draining the bus before a
  * snapshot makes the benchmark's counters cover every finished job.
  * `listenerBus` is package-private to `org.apache.spark`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
