package graft.streaming.binlog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `cdc-binlog`: a DataSource V2 streaming connector that tails a
  * [[BinlogServer]] (any host:port speaking the protocol) as a replayable,
  * offset-addressed micro-batch source — the Kafka-shaped network source the
  * engine was missing. Spark-first by construction: this is the same
  * MicroBatchStream/SupportsAdmissionControl surface the real Kafka
  * connector implements, so everything downstream (checkpointing, AvailableNow
  * drains, maxRecordsPerTrigger admission control, sink epochs) is stock
  * Structured Streaming machinery.
  *
  * Emitted schema is Kafka's shape — (partition int, offset long, value
  * string) — the payload stays opaque at the source and is decoded once,
  * in the query, by [[graft.streaming.CdcStream.binlogEvents]], whose
  * output goes to `writeStream.format("icelite")`. Exactly-once composes
  * the standard way: Spark checkpoints the (partition -> offset) vector
  * per micro-batch, FETCH of a committed range is replay-stable, and the
  * sink (`CdcEngine.applyBatch`) is idempotent per epoch, so a crash
  * anywhere between sink-commit and offset-commit replays as a no-op. The
  * engine pins each batch, so a range crosses the wire once per delivery.
  *
  * Scale notes: one InputPartition per log partition — on a 1000-executor
  * cluster a 4000-partition binlog fans out 4000 concurrent socket readers,
  * and admission control (maxRecordsPerTrigger) bounds per-batch memory.
  * Readers stream rows off the socket lazily; nothing is materialized.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("cdc-binlog")
  *     .option("host", h).option("port", p)
  *     .option("maxRecordsPerTrigger", 100000)   // optional
  *     .load()
  * }}}
  * `spark.read.format("cdc-binlog")` (batch) snapshots the current log.
  */
class BinlogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc-binlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BinlogSource.SCHEMA
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BinlogTable(new CaseInsensitiveStringMap(properties))
}

object BinlogSource {
  /** Kafka-shaped record envelope; `value` is the opaque payload. */
  val SCHEMA: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** A driver-side control-plane poll, merged across the broker set: each
    * broker reports the full partition-count vector but only its OWNED
    * partitions carry real values (the rest sit at their initial 0), so
    * the cluster-wide vector is the elementwise max. Brokers that disagree
    * on the partition count fail loudly. One broker is the degenerate case
    * with zero merge cost. */
  private[binlog] def poll(brokers: Seq[(String, Int)])(
      f: BinlogClient => Array[Long]): Array[Long] =
    brokers.map { case (h, p) =>
      val c = new BinlogClient(h, p)
      try f(c) finally c.close()
    }.reduce { (a, b) =>
      require(a.length == b.length,
        s"binlog brokers disagree on partition count: ${a.length} vs ${b.length}")
      a.zip(b).map { case (x, y) => math.max(x, y) }
    }

  /** One input partition per log partition with records in [start, end),
    * fetched from its owner broker p % n (the loader's rule). */
  private[binlog] def partitions(brokers: Seq[(String, Int)], start: Array[Long],
      end: Array[Long]): Array[InputPartition] =
    start.indices.collect {
      case p if end(p) > start(p) =>
        val (h, pt) = brokers(p % brokers.size)
        BinlogInputPartition(h, pt, p, start(p), end(p)): InputPartition
    }.toArray
}

private[binlog] final class BinlogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  /** Broker endpoints. Either a single `host`/`port` pair, or `brokers` =
    * "host:port,host:port,..." for a SHARDED log: broker i owns every
    * partition p with p % nBrokers == i (whoever loads the brokers applies
    * the same rule). Sharding is the
    * production topology — a Kafka cluster IS many brokers each owning a
    * partition subset — and it removes the single-accept-loop/handler-JVM
    * bottleneck that capped ingest scaling when one broker served all 16
    * partitions. */
  private val brokers: Seq[(String, Int)] = {
    val list = options.get("brokers")
    if (list != null && list.nonEmpty)
      list.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { hp =>
        val i = hp.lastIndexOf(':')
        require(i > 0, s"cdc-binlog brokers entry '$hp' is not host:port")
        (hp.substring(0, i), hp.substring(i + 1).toInt)
      }
    else {
      val p = options.get("port")
      require(p != null, "cdc-binlog requires option 'port' (or 'brokers')")
      Seq((options.getOrDefault("host", "127.0.0.1"), p.toInt))
    }
  }
  private val maxPerTrigger = options.getLong("maxRecordsPerTrigger", 0L)

  override def name(): String =
    s"cdc-binlog://${brokers.map { case (h, p) => s"$h:$p" }.mkString(",")}"
  override def schema(): StructType = BinlogSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = BinlogSource.SCHEMA
      override def description(): String = name()
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new BinlogMicroBatchStream(brokers, maxPerTrigger)
      override def toBatch: Batch = new BinlogBatch(brokers)
    }
}

/** Offset = the vector of per-partition next-to-read positions, serialized
  * as a JSON array (`[3,0,7]`). The base class compares offsets by their
  * json, so equality is positional equality. */
private[binlog] final case class BinlogOffset(offs: Array[Long]) extends Offset {
  override def json(): String = offs.mkString("[", ",", "]")
}

private[binlog] object BinlogOffset {
  def parse(json: String): BinlogOffset = {
    val body = json.trim.stripPrefix("[").stripSuffix("]")
    BinlogOffset(if (body.isEmpty) Array.empty else body.split(",").map(_.trim.toLong))
  }
}

private[binlog] final case class BinlogInputPartition(
    host: String, port: Int, partition: Int, from: Long, until: Long)
    extends InputPartition

private[binlog] final class BinlogMicroBatchStream(
    brokers: Seq[(String, Int)], maxPerTrigger: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** AvailableNow target: high-water marks captured once at query start, so
    * the drain is bounded even while producers keep publishing. */
  @volatile private var availableNowTarget: Array[Long] = null

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = BinlogSource.poll(brokers)(_.latest())

  /** New streams start at the EARLIEST retained offsets (Kafka's
    * startingOffsets=earliest): a log whose prefix retention already
    * truncated must not be addressed from 0. */
  override def initialOffset(): Offset =
    BinlogOffset(BinlogSource.poll(brokers)(_.earliest()))

  override def deserializeOffset(json: String): Offset = BinlogOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger > 0) ReadLimit.maxRows(maxPerTrigger) else ReadLimit.allAvailable()

  // Unused once SupportsAdmissionControl is implemented; Spark calls the
  // two-argument form below.
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-controlled source")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[BinlogOffset].offs
    val headRaw =
      if (availableNowTarget != null) availableNowTarget else BinlogSource.poll(brokers)(_.latest())
    // A restart may bring a start vector shorter than the server's current
    // partition count only if the server changed shape — refuse loudly.
    require(headRaw.length == from.length,
      s"binlog partition count changed: offset has ${from.length}, server has ${headRaw.length}")
    // Fail-fast data-loss check (Kafka's failOnDataLoss=true): a checkpoint
    // below the log-start means retention ran past the consumer — silently
    // skipping ahead would drop committed-but-unapplied changes.
    val earliestNow = BinlogSource.poll(brokers)(_.earliest())
    from.indices.foreach { p =>
      if (from(p) < earliestNow(p))
        throw new IllegalStateException(
          s"binlog data loss: checkpoint has partition $p at ${from(p)} but the " +
            s"log now starts at ${earliestNow(p)} — retention truncated past the " +
            "checkpoint; reset the checkpoint or slow retention")
    }
    val head = headRaw.clone()
    limit match {
      case rows: ReadMaxRows =>
        // Proportional admission: cap total new records at maxRows,
        // allocating each partition its share of the backlog (Kafka's
        // maxOffsetsPerTrigger policy). Guarantees progress: any nonempty
        // backlog admits at least one record. Like Kafka's, the budget is
        // in OFFSETS — on a compacted log the admitted row count can be
        // smaller than the offset span (gaps fetch nothing).
        val backlog = from.indices.map(i => head(i) - from(i))
        val total = backlog.sum
        val max = rows.maxRows()
        if (total > max) {
          var budget = max
          val capped = from.indices.map { i =>
            val share = math.min(backlog(i), math.max(1L, max * backlog(i) / total))
            val take = math.min(share, budget)
            budget -= take
            from(i) + take
          }
          return BinlogOffset(capped.toArray)
        }
      case _ => // allAvailable
    }
    BinlogOffset(head)
  }

  override def reportLatestOffset(): Offset =
    BinlogOffset(if (availableNowTarget != null) availableNowTarget
      else BinlogSource.poll(brokers)(_.latest()))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    BinlogSource.partitions(brokers, start.asInstanceOf[BinlogOffset].offs,
      end.asInstanceOf[BinlogOffset].offs)

  override def createReaderFactory(): PartitionReaderFactory = BinlogReaderFactory

  override def commit(end: Offset): Unit = () // retention is server policy
  override def stop(): Unit = ()
}

/** Bounded (batch) read: snapshot of [earliest, latest) at scan time. */
private[binlog] final class BinlogBatch(brokers: Seq[(String, Int)]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    BinlogSource.partitions(brokers, BinlogSource.poll(brokers)(_.earliest()),
      BinlogSource.poll(brokers)(_.latest()))
  override def createReaderFactory(): PartitionReaderFactory = BinlogReaderFactory
}

private[binlog] object BinlogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BinlogInputPartition]
    new PartitionReader[InternalRow] {
      private val client = new BinlogClient(p.host, p.port)
      private val records = client.fetch(p.partition, p.from, p.until)
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (!records.hasNext) return false
        // offsets come from the server: compaction leaves gaps, so the
        // position in the range is NOT the offset
        val (offset, rec) = records.next()
        current = new GenericInternalRow(
          Array[Any](p.partition, offset, UTF8String.fromString(rec)))
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = client.close()
    }
  }
}
