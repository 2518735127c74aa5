package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Two Spark internals the benchmark's listener needs, both package-
  * private to Spark: draining the listener bus, so the listener has seen
  * every event of a window, and whether a stage writes shuffle output.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(i: org.apache.spark.scheduler.StageInfo): Boolean = i.shuffleDepId.isDefined
}
