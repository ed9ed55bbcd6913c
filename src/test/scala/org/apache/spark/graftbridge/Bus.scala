package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; specs that count
  * events wait for the bus to drain first. The bus is package-private to
  * Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
