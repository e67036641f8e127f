package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so that every event of a finished
  * operation has reached the benchmark's listeners before the next
  * operation starts. The bus is package-private to Spark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
