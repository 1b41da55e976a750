package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * listener's counts are complete only after the bus has delivered every
  * event of the jobs that ran. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
