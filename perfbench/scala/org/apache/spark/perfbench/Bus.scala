package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the benchmark waits for
  * the bus to drain before it reads its counters, so every event of an
  * operation is counted with that operation. The bus is package-private
  * to Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
