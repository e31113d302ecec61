package org.apache.spark

/** Listener events are delivered asynchronously; a traced run drains the
  * bus after each timed call so the counters it reads belong to that call.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
