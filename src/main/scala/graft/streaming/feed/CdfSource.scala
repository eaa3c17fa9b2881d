package graft.streaming.feed

import org.apache.spark.sql.{DataFrame, GraftStreamingBridge, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.{ChainStepper, IceliteTable}

/** `icelite-feed`: the table itself as a Structured Streaming SOURCE — the
  * Delta `readChangeFeed` / Iceberg incremental-streaming-read analog, and
  * the push-based twin of the pull-based [[graft.engine.FeedConsumer]].
  * Offsets ARE snapshot ids, so every micro-batch is a pinned, replayable
  * `changesSince(start, to = end]` window: deterministic under retry,
  * race-free against concurrent commits (the end is pinned at offset time),
  * and exactly-once composes the standard way with checkpointing plus an
  * idempotent sink.
  *
  * {{{
  *   spark.readStream.format("icelite-feed")
  *     .option("path", tableRoot)
  *     .option("mode", "changes")        // or "changelog" (CDF pre/post images)
  *     .option("sinceSnapshot", 3)       // first-batch window start; default -1
  *     .option("maxSnapshotsPerTrigger", 10) // admission control: a deep
  *     .load()                           //   backlog drains in bounded windows
  * }}}
  *
  * Semantics inherited from the feed (spec'd there, re-proven here):
  * `changes` emits one merged-state row per changed key (tombstones
  * included); `changelog` classifies into insert / update_preimage+
  * postimage / delete rows. A `sinceSnapshot` older than the retention
  * horizon degrades to conservative full redelivery — a consumer further
  * behind than retention rebuilds its mirror, the same contract Iceberg's
  * incremental read makes. Retention must therefore cover the longest
  * expected consumer lag, exactly like Kafka.
  *
  * Scale notes: getOffset is one pointer read (plus, under
  * maxSnapshotsPerTrigger, a walk of only the snapshots committed since
  * the previous trigger); each batch's work is the
  * feed's — lineage bucket pruning + (merge-on-read) added-file key
  * refinement keep it change-proportional. The engine wrapper is rebuilt
  * per call (metadata-only) so a mid-stream `rebucket` of the source table
  * is adopted, not crashed on. Schema is pinned at stream start (the
  * Structured Streaming contract); widen the schema -> restart the stream.
  *
  * `.option("stampWindowEnd", true)` appends a `_window_end` column — the
  * window-end snapshot id, constant within a batch and strictly increasing
  * across windows (snapshot ids are monotone along the chain). That is
  * exactly the LWW stamp a downstream MERGE needs, so table->table
  * replication becomes fully declarative — no foreachBatch:
  *
  * {{{
  *   spark.readStream.format("icelite-feed")
  *     .option("path", src).option("stampWindowEnd", true).load()
  *     .select($"repo", $"path", <payload...>, $"_op".as("op"),
  *       $"_window_end".as("commit_lsn"), lit(0).as("seq"), $"_ts".as("ts"))
  *     .writeStream.format("icelite").option("path", mirror)
  *     .option("checkpointLocation", ckpt).start()
  * }}}
  */
class CdfSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "icelite-feed"

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), CdfSource.feedSchema(sqlContext, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new CdfSource(sqlContext, parameters)
}

private[feed] case class CdfOffset(snapshotId: Long) extends OffsetV1 {
  override def json: String = snapshotId.toString
}

object CdfSource {
  private[feed] def engineFor(sqlContext: SQLContext, params: Map[String, String]): CdcEngine = {
    val root = params.getOrElse("path",
      throw new IllegalArgumentException("icelite-feed requires .option(\"path\", <table root>)"))
    val t = IceliteTable.load(root)
    new CdcEngine(sqlContext.sparkSession, t, EngineConf(buckets = t.currentBuckets))
  }

  private[feed] def feedOf(e: CdcEngine, mode: String, since: Long, to: Long): DataFrame =
    mode match {
      case "changes" => e.changesSince(since, toSnapshotId = to)
      case "changelog" => e.changelogSince(since, toSnapshotId = to)
      case m => throw new IllegalArgumentException(
        s"icelite-feed mode must be 'changes' or 'changelog', got '$m'")
    }

  private[feed] val StampCol = "_window_end"

  private[feed] def stampEnabled(params: Map[String, String]): Boolean =
    params.get("stampWindowEnd").exists(_.toBoolean)

  /** Feed schema = the schema of an empty (head, head] window at stream
    * start: keys + window-end payload + feed envelope (+ the optional
    * `_window_end` stamp, always last). Requires the table to have at
    * least one snapshot (a feed over a never-written table has no schema
    * to pin). */
  private[feed] def feedSchema(sqlContext: SQLContext, params: Map[String, String]): StructType = {
    val e = engineFor(sqlContext, params)
    val head = e.table.currentSnapshotId
    require(head >= 0, "icelite-feed: the table has no snapshot yet — " +
      "commit at least one batch before starting a stream over its feed")
    val base = feedOf(e, params.getOrElse("mode", "changes"), head, head).schema
    if (!stampEnabled(params)) base
    else {
      require(!base.fieldNames.contains(StampCol),
        s"icelite-feed: stampWindowEnd would shadow an existing $StampCol column")
      base.add(StampCol, org.apache.spark.sql.types.LongType, nullable = false)
    }
  }
}

class CdfSource(sqlContext: SQLContext, params: Map[String, String]) extends Source {
  private val mode = params.getOrElse("mode", "changes")
  private val stamp = CdfSource.stampEnabled(params)
  private val startSnapshot = params.get("sinceSnapshot").map(_.toLong).getOrElse(-1L)
  // admission control (the maxFilesPerTrigger pattern): each micro-batch
  // advances at most this many snapshots along the chain, so a consumer
  // deep behind a long-retention table drains its backlog in bounded
  // windows (bounded diff work + sink size per batch) instead of one giant
  // catch-up batch — the streaming twin of FeedConsumer.syncBacklog
  private val maxSnapshotsPerTrigger = params.get("maxSnapshotsPerTrigger").map(_.toInt)
  maxSnapshotsPerTrigger.foreach(k =>
    require(k >= 1, s"maxSnapshotsPerTrigger must be >= 1, got $k"))

  override val schema: StructType = CdfSource.feedSchema(sqlContext, params)

  // walks the backlog once across triggers, then only each new suffix
  private val stepper = new ChainStepper

  /** Manifests read walking the backlog for admission control. */
  private[graft] def backlogWalkReads: Long = stepper.walkReads

  // the newest snapshot already handed out as an offset (volatile across
  // the streaming thread and recovery); after a restart it is re-learned
  // from the checkpoint via the recovery getBatch call
  @volatile private var lastSeen: Option[Long] = None

  private def toId(o: OffsetV1): Long = o match {
    case CdfOffset(id) => id
    case other => other.json.trim.toLong // SerializedOffset from the checkpoint
  }

  override def getOffset: Option[OffsetV1] = {
    val table = CdfSource.engineFor(sqlContext, params).table
    val head = table.currentSnapshotId
    if (head < 0) return None
    val target = maxSnapshotsPerTrigger match {
      case None => head
      case Some(k) =>
        // if the floor expired the backlog is the whole retained chain —
        // the first window is then the conservative redelivery
        // changesSince makes anyway
        stepper.next(table, lastSeen.getOrElse(startSnapshot), head, k)
    }
    lastSeen = Some(target)
    Some(CdfOffset(target))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val since = start.map(toId).getOrElse(startSnapshot)
    val endId = toId(end)
    // restart path: Spark replays the last committed batch's getBatch to
    // restore V1 source state — adopt its end as the admission floor
    if (lastSeen.forall(_ < endId)) lastSeen = Some(endId)
    val df = CdfSource.feedOf(CdfSource.engineFor(sqlContext, params), mode, since, endId)
    // Structured Streaming pins the schema at stream start. Two mismatch
    // directions, handled differently:
    //   - NARROWER window (fewer/narrower columns than pinned): a window
    //     ending at an older snapshot — happens on restart, when Spark
    //     replays getBatch for the last COMMITTED batch to restore V1
    //     source state. Legitimate: align with the same null-fill/upcast
    //     projection the engine uses for old data files.
    //   - WIDER window (columns or types the pinned schema lacks): the
    //     table evolved mid-stream; shipping wider frames would corrupt or
    //     silently truncate the sink. Fail loudly — the Delta contract:
    //     restart the stream to adopt the evolved schema.
    def evolved(what: String): Nothing = throw new IllegalStateException(
      s"icelite-feed: the table schema evolved mid-stream ($what, pinned " +
        s"[${schema.fieldNames.mkString(", ")}]); restart the stream to adopt " +
        "the new schema")
    import org.apache.spark.sql.functions.{col, lit}
    val gotTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.schema.fieldNames.filterNot(schema.fieldNames.contains) match {
      case Array() => ()
      case extra => evolved(s"new column(s) ${extra.mkString(", ")}")
    }
    val aligned = df.select(schema.fields.map { f =>
      gotTypes.get(f.name) match {
        case Some(t) if t == f.dataType => col(f.name)
        case Some(t) if graft.engine.SchemaEvolve.widen(t, f.dataType).contains(f.dataType) =>
          col(f.name).cast(f.dataType).as(f.name)
        case Some(t) => evolved(s"column ${f.name} widened ${f.dataType.sql} -> ${t.sql}")
        // the stamp is synthesized, never read from the feed frame
        case None if f.name == CdfSource.StampCol && stamp => lit(endId).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
    GraftStreamingBridge.asStreamingFrame(aligned)
  }

  override def stop(): Unit = ()
}
