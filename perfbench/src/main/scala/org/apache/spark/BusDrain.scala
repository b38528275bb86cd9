package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * pass's listener counts are complete before they are read. The bus is
  * package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
