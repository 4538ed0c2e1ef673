package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package for one reason: the live listener bus's
  * drain is package-private, and the benchmark must see every listener
  * event of a timed region before it snapshots its counters. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
