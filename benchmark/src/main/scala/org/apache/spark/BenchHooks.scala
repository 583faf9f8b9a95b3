package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * posted listener event has been delivered, so a traced pass's records
  * are complete before they are read.
  */
object BenchHooks {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
