package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after an operation include all of its
  * tasks and queries. `listenerBus` is private to the spark package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
