package org.apache.spark

/** Blocks until Spark's asynchronous listener bus has delivered every
  * event posted so far, so listener-derived figures are complete when
  * they are read. The bus is private to Spark; this is the only hook
  * the benchmark needs inside Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
