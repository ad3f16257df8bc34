package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the Spark context's listener bus, which is package-private to Spark:
  * listener events are delivered asynchronously, so a traced op's counters
  * are only complete once the bus has drained. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
