package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener has seen every event posted so far, so the
  * harness can attribute listener counts to the op that just ended.
  * Lives in Spark's package because the listener bus is spark-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
