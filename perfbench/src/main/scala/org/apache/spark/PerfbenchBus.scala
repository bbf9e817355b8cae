package org.apache.spark

/** Drains Spark's listener bus, so that every listener event posted
  * by the op that just ended has been delivered before the next op
  * starts. Lives in this package because the drain is Spark-internal.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
