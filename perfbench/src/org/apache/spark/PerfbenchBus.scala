package org.apache.spark

/** The listener bus drain is Spark-private; the benchmark needs it so an
  * op's job, task and query-execution events are all delivered before
  * the op's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
