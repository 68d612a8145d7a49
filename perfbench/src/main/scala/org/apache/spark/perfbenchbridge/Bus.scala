package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its counters only after every posted event has reached
  * its listeners.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
