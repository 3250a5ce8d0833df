package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs it drained
  * at the edges of its timed window so that every event of the window,
  * and none from outside it, reaches its listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
