package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the tracer reads its totals only
  * after the bus has delivered everything posted so far. The drain call is
  * package-private to Spark, hence this one-line shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
