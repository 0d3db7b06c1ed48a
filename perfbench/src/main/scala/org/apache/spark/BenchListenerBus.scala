package org.apache.spark

/** Lets the traced benchmark wait until every posted listener event has
  * been delivered, so engine counters read at a span boundary include all
  * jobs and tasks the span ran. The listener bus is private to Spark,
  * hence this one-line bridge in Spark's package.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
