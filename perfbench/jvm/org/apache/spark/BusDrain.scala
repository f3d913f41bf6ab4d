package org.apache.spark

/** The listener bus is private to Spark; a span record read before the
  * bus has delivered its last task events would undercount executor
  * time, so the benchmark drains it before it writes the record. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
