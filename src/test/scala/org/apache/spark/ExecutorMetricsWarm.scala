package org.apache.spark

import org.apache.spark.executor.ExecutorMetrics

/** Spark's executor-metrics poll probes the page size once per JVM, by
  * forking `getconf PAGESIZE`, on the first heartbeat (10-20 s after the
  * context starts). A test that counts the processes a batch starts takes
  * that probe first, so the count is the batch's own. */
object ExecutorMetricsWarm {
  def apply(): Unit = ExecutorMetrics.getCurrentMetrics(SparkEnv.get.memoryManager)
}
