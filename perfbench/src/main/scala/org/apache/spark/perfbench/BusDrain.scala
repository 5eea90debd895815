package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain call is package-private to Spark; the
  * benchmark needs it so traced totals are complete before reporting. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
