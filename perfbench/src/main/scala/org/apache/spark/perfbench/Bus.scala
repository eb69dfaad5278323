package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private: the traced
  * run drains it before reading its counters so that every event of the
  * measured work has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
