package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two package-private Spark facts the probe needs; this object
  * lives in Spark's package to reach them. */
object Internals {
  /** Waits until every listener event posted so far has been delivered.
    * The bus is asynchronous; a unit's task metrics are complete only
    * after this returns. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a shuffle map stage, i.e. one that writes an exchange. */
  def isExchange(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
