package org.apache.spark

/** Flushes Spark's listener bus so a traced pass reads complete listener
  * data. The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
