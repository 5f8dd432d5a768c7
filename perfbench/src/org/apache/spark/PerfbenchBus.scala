package org.apache.spark

/** Lets the harness wait until every queued listener event (job, task,
  * query-execution) has been delivered before it reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
