package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for queued scheduler events before it reads its
  * listener's counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
