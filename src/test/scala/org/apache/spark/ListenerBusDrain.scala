package org.apache.spark

/** The listener bus is Spark-internal; tests that count jobs or stages with
  * a SparkListener wait until every event posted so far has reached it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
