package org.apache.spark.linkbench

import org.apache.spark.SparkContext

/** Forwards to two `private[spark]` members: the live listener bus, so the
  * benchmark drains it before reading counters instead of sleeping, and the
  * RDD id counter, so it can tell which cached RDDs a call created. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def nextRddId(sc: SparkContext): Int = sc.newRddId()
}
