package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches Spark's `private[spark]` listener bus so the benchmark can read
  * its listener's counts only after every posted event was delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
