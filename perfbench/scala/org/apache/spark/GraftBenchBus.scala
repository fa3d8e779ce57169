package org.apache.spark

/** `SparkContext.listenerBus` is package-private; the benchmark needs it only
  * to wait until every queued listener event has been delivered, so metrics
  * read after an action include that action's tasks.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
