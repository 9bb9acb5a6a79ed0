package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * a span's task metrics are complete before the benchmark reads them.
  * The bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
