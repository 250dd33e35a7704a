package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it so that a traced window's counts are complete before they are read.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
