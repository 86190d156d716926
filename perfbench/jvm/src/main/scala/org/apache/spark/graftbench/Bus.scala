package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread; the traced run reads
  * its counters only after every event posted so far has been handled. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
