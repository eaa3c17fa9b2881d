package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** The one internal hook the V1 streaming Source contract needs: a batch
  * DataFrame handed back from `Source.getBatch` must carry
  * `isStreaming = true` (MicroBatchExecution asserts it), and the only way
  * to stamp that onto an existing plan is `internalCreateDataFrame`, which
  * is `private[sql]`. This bridge lives in the `org.apache.spark.sql`
  * package solely to re-export it; no other internals are touched. The
  * wrapped plan is the original query's physical RDD, still lazy. */
object GraftStreamingBridge {
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse, for the V1 Sink contract: the DataFrame handed to
    * `Sink.addBatch` is streaming-tagged, so ordinary batch operations on
    * it (the engine's MERGE) would be rejected by the analyzer. Re-wrap
    * its physical RDD as a batch frame — the exact trick Spark's own
    * ForeachBatchSink uses. Still lazy; actions on the result re-run the
    * micro-batch's (deterministically replayable) incremental plan. */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The same wrap over `df`'s rows persisted as the first job over them
    * computes them: a batch frame whose later actions read the kept rows,
    * plus the persisted RDD, for the caller to unpersist. Unlike
    * `Dataset.persist` it builds no columnar cache, which adaptive
    * execution materializes in a job of its own. */
  def pinRows(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rows = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    (spark.internalCreateDataFrame(rows, df.schema, isStreaming = false), rows)
  }
}
