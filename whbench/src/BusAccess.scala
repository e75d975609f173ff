package org.apache.spark.whbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so a
  * traced op's job records are complete. Called only between ops, never
  * inside a timed region. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
