package org.apache.spark

/** The listener bus is Spark-internal; the benchmark only needs to wait
  * until every event posted so far has reached its listeners before it
  * reads their totals. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
