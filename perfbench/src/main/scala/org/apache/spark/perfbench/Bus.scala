package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one private[spark] call the benchmark needs: wait until every
  * event already posted to the listener bus has been delivered, so a
  * traced query's jobs, stages and tasks are all counted before the
  * next query starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
