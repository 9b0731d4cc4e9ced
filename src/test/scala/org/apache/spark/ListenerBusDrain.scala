package org.apache.spark

/** The listener bus's drain call is package-private to Spark; specs that
  * count jobs, stages or tasks with a `SparkListener` drain it before
  * reading what the listener saw.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
