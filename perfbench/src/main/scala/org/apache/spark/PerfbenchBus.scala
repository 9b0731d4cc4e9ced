package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the
  * benchmark needs it to read every progress and task event of a query
  * that has just ended.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
