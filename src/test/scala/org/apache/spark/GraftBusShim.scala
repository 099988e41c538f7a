package org.apache.spark

/** Test-only bridge to Spark's listener bus, which is `private[spark]`:
  * a job-counting test reads its listener only after every posted event
  * has been delivered. */
object GraftBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
