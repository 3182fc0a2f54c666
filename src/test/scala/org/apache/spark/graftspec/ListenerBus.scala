package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Reaches Spark's package-private listener bus; lives in Spark's
  * package for that reason only. */
object ListenerBus {
  /** Waits until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
