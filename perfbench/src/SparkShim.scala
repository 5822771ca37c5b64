package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two scheduler facts the trace needs that Spark keeps package-private. */
object SparkShim {
  /** Listener events arrive asynchronously; the trace is read only after
    * the bus has delivered everything posted so far.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
