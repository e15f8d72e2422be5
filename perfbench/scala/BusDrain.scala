package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so the
  * traced run's job and stage records are complete before they are
  * written (the bus is private to Spark's own package). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
