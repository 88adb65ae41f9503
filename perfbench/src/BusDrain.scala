package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's listeners have seen a drained pass before it reads them.
  * Lives in this package because the wait is Spark-private.
  */
object PerfbenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
