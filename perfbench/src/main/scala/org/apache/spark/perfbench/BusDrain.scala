package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's job, stage, task, SQL and streaming events are all seen
  * before the next op starts. `listenerBus` is Spark-private, hence the
  * package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
