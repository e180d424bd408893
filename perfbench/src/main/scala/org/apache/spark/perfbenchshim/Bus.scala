package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run adds and removes its listener per unit of work and must
  * see every event of the unit before it reads the counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
