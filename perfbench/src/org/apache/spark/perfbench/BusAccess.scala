package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the listener bus, so that every event of a finished action has
  * reached the tracer before it reads its buffers. The bus is
  * package-private in Spark, hence this file's package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
