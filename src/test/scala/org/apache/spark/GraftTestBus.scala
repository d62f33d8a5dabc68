package org.apache.spark

/** Flushes Spark's listener bus so a spec reads complete listener data.
  * The bus is `private[spark]`, hence this package. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
