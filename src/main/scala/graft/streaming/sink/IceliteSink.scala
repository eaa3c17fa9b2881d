package graft.streaming.sink

import org.apache.spark.sql.{DataFrame, Dataset, GraftStreamingBridge, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable

/** `icelite`: the table as a first-class Structured Streaming SINK — the
  * stock-`writeStream` front door to the engine's MERGE, completing the
  * symmetry with the `icelite-feed` SOURCE (a table is both ends of a
  * pipeline; Delta's `format("delta")` draws the same line):
  *
  * {{{
  *   changeStream.writeStream.format("icelite")
  *     .option("path", tableRoot)
  *     .option("checkpointLocation", ckpt)
  *     .option("keyCols", "repo,path")      // create-if-missing (else optional)
  *     .option("buckets", 64)               // create-time layout
  *     .option("mergeOnRead", true)         // create-time write mode
  *     .option("morCompactThreshold", 8)    // ingest maintenance knobs
  *     .option("morMinorRatio", 0.5)        // size-tiered minor/full folds
  *     .option("zorderCols", "lang,ver")    // declared Z-order at maintenance
  *     .option("tombstonePurgeLagLsn", 100000) // tombstone GC lag
  *     .option("retainSnapshots", 40)
  *     .option("vacuumAfterExpire", true)
  *     .option("statsCols", "lang")         // column-stats file skipping
  *     .option("dlqDir", dlq)               // quarantine for rejected rows
  *     .option("branch", "lane")            // commit to a branch, not main
  *     .start()
  * }}}
  *
  * This is the one streaming ingest path: file tails, the `cdc-binlog`
  * source (through [[graft.streaming.CdcStream.binlogEvents]]) and the
  * `icelite-feed` source all end here.
  *
  * Exactly-once needs NO sink-side bookkeeping beyond the engine's own:
  * the checkpointed micro-batch id IS the commit epoch, and `applyBatch`
  * is idempotent per epoch (a replayed batch after a crash between sink
  * write and checkpoint advance is skipped by the epoch ledger). With
  * `branch` set every batch commits to that existing branch through
  * `applyBatchToBranch` (a streaming quarantine lane: main and its feeds
  * see nothing until `publishBranch`), exactly-once per ref. The engine
  * pins each batch while it applies it, so the source is read once, and
  * quarantines rejected rows under `dlqDir`. The sink keeps one engine
  * across batches, so the engine's maintenance state (the chain-length
  * count that paces retention) carries over; each batch checks the
  * table's current bucket layout and rebuilds the engine only when a
  * `rebucket` changed it. Maintenance (`rebucket`, compaction, expiry —
  * e.g. via `CALL ice.system.*`) can run concurrently with the stream; a CAS
  * conflict on a genuinely racing commit fails the batch and Spark's retry
  * replays it onto the new head.
  *
  * Scale: per-batch work is the engine MERGE's — O(batch + affected
  * buckets), shuffle on the bucketed key, salt-aware — so sustained-ingest
  * behavior (COW vs MOR curves, retention, metadata growth) is exactly
  * BENCH.md's measured engine profile; the sink adds one read of the head
  * snapshot per batch (the layout check).
  */
class IceliteSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "icelite"

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "icelite sink: physical layout is the table's bucket spec (keyCols/buckets " +
        "at create time, CALL ice.system.rebucket to evolve) — partitionBy is not supported")
    require(outputMode != OutputMode.Complete(),
      "icelite sink: Complete mode would replace the table with each batch's " +
        "aggregate; the sink is a CDC MERGE — use Append or Update")
    new IceliteSink(sqlContext, parameters)
  }
}

class IceliteSink(sqlContext: SQLContext, params: Map[String, String]) extends Sink {
  private val root = params.getOrElse("path",
    throw new IllegalArgumentException("icelite sink requires .option(\"path\", <table root>)"))

  // create-if-missing, but only when the caller declared the key layout —
  // silently inventing keys would bake a wrong MERGE identity into the table
  locally {
    if (!IceliteTable.exists(root)) {
      val keys = params.get("keyCols").map(EngineConf.columnList).filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          s"icelite sink: no table at $root — pass .option(\"keyCols\", \"repo,path\") " +
            "(plus optional buckets/mergeOnRead) to create it, or create it up front " +
            "with IceliteTable.create"))
      IceliteTable.create(root, keys,
        buckets = params.get("buckets").map(_.toInt).getOrElse(64),
        mergeOnRead = params.get("mergeOnRead").exists(_.toBoolean))
    }
  }

  private val table = IceliteTable.load(root)
  private val branch = params.get("branch")
  private var engine: Option[CdcEngine] = None

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // the frame Spark hands a V1 sink is streaming-tagged; re-wrap it as a
    // batch frame (ForeachBatchSink's trick) so the MERGE can run on it
    val batch: DataFrame = GraftStreamingBridge.asBatchFrame(data.toDF())
    val e = engine.filter(_.conf.buckets == table.currentBuckets).getOrElse(
      new CdcEngine(sqlContext.sparkSession, table, EngineConf.fromOptions(table, params)))
    engine = Some(e)
    branch match {
      case Some(n) => e.applyBatchToBranch(batchId, batch, n)
      case None => e.applyBatch(batchId, batch)
    }
  }

  override def toString: String = s"IceliteSink[$root]"
}

object IceliteSink {
  /** Stream `stream` into the table at `root` through this sink,
    * checkpointed at `ckpt`, until the source has nothing more
    * (Trigger.AvailableNow, which keeps the source's admission control);
    * `options` are the sink's. Returns once the query has stopped. */
  def drain(stream: DataFrame, root: String, ckpt: String,
      options: Map[String, String] = Map.empty): Unit =
    stream.writeStream.format("icelite").option("path", root)
      .option("checkpointLocation", ckpt).options(options)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
}
