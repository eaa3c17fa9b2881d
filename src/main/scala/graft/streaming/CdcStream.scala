package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, when}
import org.apache.spark.sql.types.StringType

import graft.model.ChangeEvent

/** The binlog decode: a `cdc-binlog` stream (Kafka-shaped
  * partition/offset/value rows) as flat change events, ready for
  * `writeStream.format("icelite")` — the one streaming ingest path:
  *
  * {{{
  *   CdcStream.binlogEvents(spark, host, port, maxRecordsPerTrigger = 100000)
  *     .writeStream.format("icelite")
  *     .option("path", tableRoot).option("checkpointLocation", ckpt)
  *     .trigger(Trigger.AvailableNow())
  *     .start()
  * }}}
  *
  * Exactly-once is the sink's: checkpointed source offsets plus
  * epoch-keyed, idempotent engine commits. The engine pins each batch, so
  * every record crosses the wire once, and quarantines the records that
  * did not parse (see [[binlogEvents]]).
  */
object CdcStream {

  /** Tail a [[graft.streaming.binlog.BinlogServer]] (or anything speaking
    * its protocol) as a parsed change-event stream. The payload is decoded
    * here with `from_json` against the engine envelope, the split Kafka
    * deployments use (opaque broker, typed query).
    *
    * Besides the event columns each row carries its source coordinates,
    * `__src_partition` and `__src_offset`, and `__src_raw`: the record
    * text where it failed to parse, else null. Parsing runs PERMISSIVE
    * with a corrupt-record column (a malformed record parses to a struct
    * of nulls, not a null struct, so that column is the only reliable
    * detector). The engine treats `__src_*` columns as source metadata,
    * never payload, and quarantines rows with `__src_raw` set as
    * `unparseable` under its `dlqDir`, bytes and coordinates included. */
  def binlogEvents(
      spark: SparkSession,
      host: String,
      port: Int,
      maxRecordsPerTrigger: Long = 0L): DataFrame =
    shardedBinlogEvents(spark, s"$host:$port", maxRecordsPerTrigger)

  /** [[binlogEvents]] against a SHARDED broker fleet: `brokers` =
    * "host:port,host:port,..."; partition p is fetched from broker p % n
    * (see BinlogTable's owner routing). */
  def shardedBinlogEvents(
      spark: SparkSession,
      brokers: String,
      maxRecordsPerTrigger: Long = 0L): DataFrame = {
    var reader = spark.readStream.format("cdc-binlog").option("brokers", brokers)
    if (maxRecordsPerTrigger > 0)
      reader = reader.option("maxRecordsPerTrigger", maxRecordsPerTrigger)
    val corrupt = "_corrupt"
    val evt = from_json(col("value"), ChangeEvent.schema.add(corrupt, StringType),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt))
    reader.load()
      .select(col("partition"), col("offset"), col("value"), evt.as("evt"))
      .select(
        (col("partition").as("__src_partition") +:
          col("offset").as("__src_offset") +:
          ChangeEvent.schema.fieldNames.toSeq.map(f => col(s"evt.$f"))) :+
          when(col("evt").isNull || col(s"evt.$corrupt").isNotNull, col("value"))
            .as(ChangeEvent.RawCol): _*)
  }
}
