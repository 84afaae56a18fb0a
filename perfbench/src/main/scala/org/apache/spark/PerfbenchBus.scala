package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the harness must see every event of a call before it reads the
  * counters the call produced. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
