package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener has seen every job the code under test ran. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
