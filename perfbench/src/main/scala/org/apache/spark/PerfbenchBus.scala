package org.apache.spark

/** Access to Spark's listener bus, which is private to the `spark` package:
  * the benchmark waits for it to deliver every event before it reads its
  * trace.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
