package org.apache.spark

/** Access to the listener bus barrier Spark keeps package-private: the
  * traced run waits for every event of an op to reach its listeners
  * before the next op starts, so events are attributed to the right op. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
