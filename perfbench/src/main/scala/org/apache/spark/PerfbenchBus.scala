package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters read at a span boundary must include every queued event. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
