package org.apache.spark

/** Lets the benchmark's listener read complete counts: Spark delivers
  * listener events asynchronously, and its bus-drain call is
  * package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
