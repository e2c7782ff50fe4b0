package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so job and query listeners are complete before their figures are
  * read. The bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
