package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously, and its drain is
  * `private[spark]`; this test shim lives in Spark's package so a spec
  * can read its listener's counters only after every event of the code
  * under test has been delivered.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
