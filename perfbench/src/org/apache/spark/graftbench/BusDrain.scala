package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously, and its drain is
  * `private[spark]`; this shim lives in Spark's package so the benchmark
  * can read its listener counters only after every event of a pass has
  * been delivered.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
