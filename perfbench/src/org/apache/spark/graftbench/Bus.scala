package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: counters read from
  * a SparkListener are complete only once every posted event is delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
