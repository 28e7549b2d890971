package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every event
  * posted so far has reached the listeners, so counters read after a drain
  * or a query are complete rather than racing the asynchronous listener bus.
  */
object BenchAccess {
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
