package org.apache.spark

/** Waits until every posted listener event has been delivered, so progress
  * and task metrics are complete before they are read. The bus is
  * package-private to Spark, hence this object's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
