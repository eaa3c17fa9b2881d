package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, GraftStreamingBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.icelite.{Icelite, IceliteTable}
import graft.model.ChangeEvent

/** Engine configuration.
  *
  * @param buckets        hash buckets of the table (pmod(xxhash64(repo,path), buckets)).
  *                       At 100 TB this would be 2^14..2^16; tests use small values.
  * @param writeSaltPerBucket  salt slices per affected bucket: a bucket is
  *                       spread over up to this many write tasks (and files),
  *                       within the session's shuffle width
  *                       (`spark.sql.shuffle.partitions`), so a hot bucket
  *                       writes several data files instead of one big one.
  */
case class EngineConf(
    buckets: Int = 64,
    writeSaltPerBucket: Int = 1,
    // merge-on-read tables only: auto-compact a bucket back to one file
    // once its delta-file count reaches this (0 = manual compaction only).
    // Write-mode guidance for sustained ingest: on a GROWING table (new
    // keys keep arriving) copy-on-write rewrites O(state) per batch —
    // quadratic over a long replay — while merge-on-read writes O(batch)
    // plus amortized compaction; measured 64M-event curves are in
    // BENCH.md's sustained-ingest section. COW fits update-heavy tables
    // with a bounded key set and read-hot workloads.
    morCompactThreshold: Int = 0,
    // opt-in SIZE-TIERED auto-maintenance (LSM leveling): when a bucket
    // crosses morCompactThreshold, fold ONLY its delta pile
    // (compactDeltas — write work O(pile)) while the pile is small next
    // to the merged base, and run the full rewrite only when combined
    // delta rows reach this fraction of base rows — or when the bucket
    // has no base yet to fold against. Bounds maintenance write work per
    // crossing at ~ratio × base instead of (1 + ratio) × base, at the
    // cost that tombstone GC (tombstonePurgeLagLsn) only runs on the
    // full-rewrite rounds. 0.0 = off: every crossing is a full rewrite
    // (the previous behavior).
    morMinorRatio: Double = 0.0,
    // tombstone GC (the Kafka log-compaction / Iceberg delete-file-expiry
    // analog): >= 0 makes every AUTO-compaction also drop tombstone rows
    // whose delete LSN is below highWatermark - lag. Deletes are retained
    // as revocable tombstones by default, which under sustained churn
    // accumulates rows that are invisible yet rewritten by every
    // compaction forever — unbounded at 10^10 events. The lag is the
    // source's replay lower bound: the caller contracts that no event
    // with an LSN below (highWatermark - lag) will EVER arrive; a
    // sub-line event delivered after a purge would meet no tombstone to
    // lose against and resurrect the key. -1 = keep tombstones forever
    // (explicit compact(purgeTombstonesBelowLsn=...) still available).
    tombstonePurgeLagLsn: Long = -1L,
    // snapshot retention: once the chain exceeds 2x this, expire down to
    // this many (0 = keep all history). Bounds manifest accumulation over
    // long replays (10^5 micro-batches must not mean 10^5 manifest files);
    // exactly-once bookkeeping and the high watermark survive expiration
    // via carriedEpochs/carriedWatermark. The 2x hysteresis keeps the
    // re-rooting write amortized O(1) per batch.
    retainSnapshots: Int = 0,
    // pair every auto-expiry with a vacuum (Iceberg's expire_snapshots +
    // remove_orphan_files): without it a long replay's superseded data
    // files — every compaction and copy-on-write rewrite leaves a full
    // older copy on disk — accumulate without bound (measured: a
    // 1000-micro-batch merge-on-read replay with periodic compaction
    // filled 73 GB of superseded files; see BENCH.md). Grace excludes
    // recently-written uncommitted files (in-flight writers).
    vacuumAfterExpire: Boolean = false,
    vacuumGraceMillis: Long = 3600000L,
    // key-fingerprint bitmap width (bits) stored per merge-on-read delta
    // file in the manifest (Iceberg Puffin-bloom analog; 0 = disabled).
    // Computed INSIDE the existing per-bucket lineage aggregation — zero
    // extra Spark jobs, and the per-bucket transfer is bounded at
    // `keyFpBits` ints no matter the batch size (fingerprints, not keys,
    // are collected). Point lookups use it to open only the delta files
    // that may contain the key: O(1) file opens per lookup instead of
    // O(delta files in the bucket). Bitmaps are dropped when a bucket's
    // batch-key load would push the false-positive rate past 25%. 0 or a
    // positive multiple of 8; a lookup tests each bitmap at the width it
    // was written with, so engines of different widths share a table.
    keyFpBits: Int = 4096,
    // payload columns whose per-file [min, max] bounds are harvested into
    // the manifest whenever MERGED (final-state) files are written — the
    // copy-on-write rewrite, compact(), rebucket() — from the same parquet
    // footer pass that yields the LSN stats (no extra Spark job), and used
    // by scanRange for manifest-level file skipping. Key columns gain
    // nothing here (buckets hash-partition the key domain, so key ranges
    // never prune — that job belongs to keyFp); this is for PAYLOAD
    // predicates, and it bites once compact(sortBy = <col>) clusters the
    // column so per-file ranges are tight and disjoint. Merge-on-read
    // DELTA files are never harvested or pruned: a payload predicate
    // cannot soundly skip a file whose rows other files' carry-forward
    // merges depend on. Empty = no column stats.
    statsCols: Seq[String] = Nil,
    // Opt-in WRITE-TIME clustering (Iceberg's write sort order): sort each
    // copy-on-write bucket rewrite by these payload columns (then key) and
    // split it into files of at most writeMaxFileRows rows, so statsCols
    // bounds are tight and range-disjoint on FRESH files — selective scans
    // prune without waiting for a sort-rewrite compaction. Costs a
    // per-partition sort on the ingest hot path (no extra shuffle: the
    // sort rides the existing per-bucket repartition); leave empty for
    // pure-throughput ingest and cluster at compaction instead.
    // Merge-on-read deltas ignore both knobs at WRITE time (deltas are
    // never stats-pruned — see statsCols), but threshold auto-compaction
    // applies them as the table's DECLARED sort order (the Iceberg
    // table-sort-order contract), so a MOR table gets clustered,
    // stats-prunable files from its normal maintenance with zero hot-path
    // cost. A column absent from a batch's
    // payload (pre-evolution writers) is skipped for that write. With
    // writeSaltPerBucket > 1 the salt files sort independently, so their
    // ranges overlap — pruning stays sound, just less selective.
    writeSortCols: Seq[String] = Nil,
    writeMaxFileRows: Long = 0L,
    // Declared Z-ORDER clustering (Delta's OPTIMIZE ZORDER BY / Iceberg's
    // z-order rewrite strategy), applied ONLY at maintenance time —
    // threshold auto-compaction and explicit compact() — never on the
    // ingest hot path (matching Delta/Iceberg, where z-order is an
    // OPTIMIZE-time rewrite: the interleave needs global column bounds a
    // hot batch write should not pay to learn). 2-4 payload columns;
    // files come out clustered on the Z-curve of ALL of them, so a
    // predicate on ANY named column prunes files via its statsCols
    // bounds — the multi-column answer to writeSortCols' lexicographic
    // bias, where only the leading column's bounds are tight. Takes
    // precedence over writeSortCols at auto-compaction when set. See
    // compact(zorderBy = ...).
    zorderCols: Seq[String] = Nil,
    // dead-letter quarantine: non-empty = malformed events (a source
    // record that did not parse, null key column, op, lsn or seq — rows
    // the merge's validity predicate would silently drop) are written,
    // every column kept, to `<dlqDir>/epoch=N` parquet with a
    // `_reason` column before the merge runs, and their count is surfaced
    // on the CommitResult and in metrics.jsonl. A CDC source that emits
    // garbage must be VISIBLE, not silently thinner; the quarantine rides
    // the batch's own Spark job budget (one extra filtered write, only
    // when enabled) and counts come from parquet footers driver-side.
    dlqDir: String = "") {
  // fpBitmap packs the bits into whole bytes
  require(keyFpBits == 0 || keyFpBits > 0 && keyFpBits % 8 == 0,
    s"keyFpBits must be 0 or a positive multiple of 8, got $keyFpBits")
}

object EngineConf {

  /** A comma-separated column list ("repo, path"), blanks dropped. */
  def columnList(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Engine settings from string options (the `icelite` sink's
    * `.option(...)`s): the defaults at the table's current layout, with
    * each option that is present overriding its field. */
  def fromOptions(table: IceliteTable, opts: Map[String, String]): EngineConf = {
    val d = EngineConf(buckets = table.currentBuckets)
    def opt[T](name: String, default: T)(parse: String => T): T =
      opts.get(name).fold(default)(parse)
    d.copy(
      writeSaltPerBucket = opt("writeSaltPerBucket", d.writeSaltPerBucket)(_.toInt),
      morCompactThreshold = opt("morCompactThreshold", d.morCompactThreshold)(_.toInt),
      morMinorRatio = opt("morMinorRatio", d.morMinorRatio)(_.toDouble),
      zorderCols = opt("zorderCols", d.zorderCols)(columnList),
      tombstonePurgeLagLsn = opt("tombstonePurgeLagLsn", d.tombstonePurgeLagLsn)(_.toLong),
      retainSnapshots = opt("retainSnapshots", d.retainSnapshots)(_.toInt),
      vacuumAfterExpire = opt("vacuumAfterExpire", d.vacuumAfterExpire)(_.toBoolean),
      vacuumGraceMillis = opt("vacuumGraceMillis", d.vacuumGraceMillis)(_.toLong),
      statsCols = opt("statsCols", d.statsCols)(columnList),
      writeSortCols = opt("writeSortCols", d.writeSortCols)(columnList),
      writeMaxFileRows = opt("writeMaxFileRows", d.writeMaxFileRows)(_.toLong),
      dlqDir = opt("dlqDir", d.dlqDir)(identity))
  }
}

case class CommitResult(
    epoch: Long,
    snapshotId: Long,
    skipped: Boolean,
    events: Long,
    affectedBuckets: Int,
    millis: Long,
    // malformed events quarantined to the dead-letter dir (0 when the DLQ
    // is disabled — they are then dropped by the validity predicate)
    rejected: Long = 0L) {
  def eventsPerSec: Double = if (millis <= 0) 0.0 else events * 1000.0 / millis
}

/** The CDC/incremental-ingest engine: applies micro-batches of change events
  * to an icelite table with per-key, per-COLUMN last-writer-wins semantics.
  *
  * Semantics contract (replay equivalence, BASELINE.json north_rule):
  * the table state after applying any partition of the event stream into
  * batches, in any delivery order, with any duplication, equals the state of
  * a sequential fold of the events sorted by (commit_lsn, seq). That holds
  * because each payload column is stored as a *cell* struct
  * `(l: last-set lsn, s: last-set seq, v: value)` and merge = max(cell) per
  * column — an associative, commutative, idempotent (ACI) reduction, so
  * batch boundaries and delivery order cannot change the result.
  *
  * This generalizes the reference's carry-forward window
  * (`last(col, ignorenulls=True)` over snapshot order,
  * /root/reference/spark_etl/spark_batched.py:623-648) and its as-of base-row
  * MERGE (/root/reference/etl/fact_changed.py:600-633) into a single
  * shuffle-once hash aggregation — no window sort, no per-row RPC.
  *
  * Deletes are revocable tombstones kept in the table (filtered out of
  * `currentState`), mirroring revoked cancellations
  * (/root/reference/etl/fact_changed.py:339-356).
  */
class CdcEngine(
    val spark: SparkSession,
    val table: IceliteTable,
    val conf: EngineConf = EngineConf()) {

  import CdcEngine._

  // The bucket count is PHYSICAL table layout: every manifest prune, point
  // lookup and write partition derives from it. An engine configured with a
  // different count than the table's CURRENT layout (creation-time, or the
  // last rebucket) would write rows into the wrong buckets and prune reads
  // incorrectly — fail construction loudly instead of corrupting silently.
  require(table.currentBuckets == conf.buckets,
    s"engine buckets (${conf.buckets}) != table buckets (${table.currentBuckets}) " +
      s"for table ${table.root}")

  /** Layout guard re-checked on every bucket-dependent operation: a
    * rebucket (possibly by another engine instance) invalidates this
    * instance's pruning and write partitioning. A head read passes the
    * head it resolved, so the check and the read see one snapshot. */
  private def checkLayout(head: Option[Icelite.Snapshot] = table.currentSnapshot): Unit = {
    val cur = head.fold(table.meta.buckets)(table.effectiveBuckets)
    require(cur == conf.buckets,
      s"table ${table.root} is bucketed at $cur but this engine was built " +
        s"for ${conf.buckets} (rebucketed?); construct a new CdcEngine for the current layout")
  }

  private val keyCols = ChangeEvent.keyCols
  private def keyColumns: Seq[Column] = keyCols.map(col)

  /** Table bucket of a key — the engine's physical partitioning function. */
  def bucketCol: Column =
    pmod(xxhash64(keyColumns: _*), lit(conf.buckets)).cast(IntegerType)

  /** Key fingerprint for the manifest bitmap stats. Salted with a leading
    * literal so it is INDEPENDENT of `bucketCol`'s hash: with the same hash,
    * a power-of-two bucket count dividing `keyFpBits` would leave only
    * `keyFpBits / buckets` reachable fingerprints inside any one bucket,
    * collapsing the bitmap's resolution. */
  private def keyFpCol: Column =
    pmod(xxhash64((lit("kfp") +: keyColumns): _*), lit(conf.keyFpBits)).cast(IntegerType)

  // ---------------------------------------------------------------- schema

  /** Payload fields of an incoming flat batch: everything not envelope and
    * not source metadata. Reserved names would silently collide with the
    * engine's internal columns (cell envelope, bucket/salt partitioners) —
    * reject loudly. */
  private def payloadOf(df: DataFrame): StructType = {
    // _lsn/_seq/_op/_ts are the flat-read envelope and content_sha256 the
    // derived invariant column — a payload under any of these names would
    // silently collide with (or be replaced by) engine output on every read.
    // The prefix `__src_` (ChangeEvent.SourcePrefix) is reserved as well,
    // for source metadata: such columns are never payload, whichever path
    // the batch came by, and stay on quarantined rows (DlqSpec).
    val reserved = Set(OpCell, TsCell, "__b", SaltCol,
      "_op", "_ts", "_lsn", "_seq", "content_sha256")
    val bad = df.schema.fieldNames.filter(reserved.contains)
    require(bad.isEmpty,
      s"batch uses reserved column name(s): ${bad.mkString(", ")}")
    val missing = ChangeEvent.envelopeCols.filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"batch is missing envelope column(s): ${missing.mkString(", ")} " +
        s"(required: ${ChangeEvent.envelopeCols.mkString(", ")})")
    // envelope TYPES are load-bearing, not just presence: commit_lsn/seq
    // drive LWW ordering as struct fields — a string lsn would coerce the
    // whole cell envelope to string and order "9" above "10" with no error
    // anywhere. Reject loudly; only ts may arrive as a castable string
    // (routed through the fallible-cast quarantine).
    // NullType (an all-null literal column) is always acceptable: it casts
    // losslessly and every such row is quarantined per-row as null_*
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def ok(c: String, accept: DataType => Boolean, want: String): Unit =
      require(types(c) == NullType || accept(types(c)),
        s"envelope column $c must be $want, got ${types(c).sql}")
    def integral(dt: DataType): Boolean =
      dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
    ok("op", _ == StringType, "STRING")
    ok("commit_lsn", integral, "an integral type")
    ok("seq", integral, "an integral type")
    ok("ts", t => t == TimestampType || t == StringType,
      "TIMESTAMP (or a castable STRING)")
    keyCols.foreach(k => ok(k, _ == StringType, "STRING"))
    StructType(df.schema.fields.filterNot(f => ChangeEvent.envelopeCols.contains(f.name) ||
      f.name.startsWith(ChangeEvent.SourcePrefix)))
  }

  /** The snapshot a read plans from: `id`, or the head when None (None
    * for an empty table). A read resolves it once and takes its payload
    * schema, its file lists and (at the head) its layout check from it. */
  private def snapshotAt(id: Option[Long]): Option[Icelite.Snapshot] =
    id.fold(table.currentSnapshot)(i => Some(table.snapshot(i)))

  /** Snapshot `id`; None when `id` is negative (no snapshot). */
  private def snapshotOf(id: Long): Option[Icelite.Snapshot] =
    if (id >= 0) Some(table.snapshot(id)) else None

  /** Payload fields of the (cell-form) schema `snap` pins; none for an
    * empty table. */
  private def payloadAt(snap: Option[Icelite.Snapshot]): StructType =
    StructType(snap.fold(Array.empty[StructField])(s => table.schema(s.schemaId).fields).collect {
      case f if !keyCols.contains(f.name) && f.name != OpCell && f.name != TsCell =>
        StructField(f.name, f.dataType.asInstanceOf[StructType]("v").dataType, nullable = true)
    })

  // ---------------------------------------------------------------- cells

  /** Batch columns whose cast to the reconciled schema is FALLIBLE — able
    * to null (or, under ANSI, throw on) a non-null source value. Payload
    * casts are widen-only by SchemaEvolve.reconcile, so in practice this is
    * the `ts` envelope when a caller ships it as a string; the payload scan
    * is kept general so the quarantine stays correct if the legal-evolution
    * set ever loosens. Returns column -> target type. */
  private def fallibleCasts(batch: DataFrame,
      targetPayload: StructType): Map[String, DataType] = {
    val bt = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    val payload = targetPayload.fields.toSeq.collect {
      case f if bt.get(f.name).exists(b => b != f.dataType &&
          !SchemaEvolve.widen(b, f.dataType).contains(f.dataType)) =>
        f.name -> f.dataType
    }
    val ts: Seq[(String, DataType)] =
      if (bt.get("ts").contains(StringType)) Seq("ts" -> TimestampType) else Nil
    (payload ++ ts).toMap
  }

  private def tryCastCol(c: String, t: DataType): Column =
    expr(s"try_cast(`$c` AS ${t.sql})")

  /** TRUE on rows where any fallible cast would turn a non-null source
    * value into a null cell — such rows are quarantined (`cast_error`), not
    * silently null-merged. lit(false) when nothing is fallible (the normal
    * case: zero per-row cost). */
  private def castFailPred(fallible: Map[String, DataType]): Column =
    fallible.toSeq.sortBy(_._1).map { case (c, t) =>
      col(c).isNotNull && tryCastCol(c, t).isNull
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Flat events -> cell form. Each payload column c becomes
    * struct(l=commit_lsn, s=seq, v=c) when c is set, else NULL (null cells
    * are ignored by max(), which is exactly "absent field = carry forward").
    * `applyPred` gates the rows (validity + no fallible-cast failure);
    * fallible casts project through try_cast so ANSI mode cannot throw on a
    * quarantined row before the filter lands. */
  private def batchToCells(batch: DataFrame, targetPayload: StructType,
      fallible: Map[String, DataType], applyPred: Column): DataFrame = {
    val lsn = col("commit_lsn")
    val seqC = col("seq")
    val batchCols = batch.columns.toSet
    def castOf(c: String, t: DataType): Column =
      if (fallible.contains(c)) tryCastCol(c, t) else col(c).cast(t)
    val cells = targetPayload.fields.toSeq.map { f =>
      if (batchCols.contains(f.name))
        when(col(f.name).isNotNull,
          struct(lsn.as("l"), seqC.as("s"), castOf(f.name, f.dataType).as("v"))).as(f.name)
      else lit(null).cast(cellType(f.dataType)).as(f.name)
    }
    val envelope = Seq(
      struct(lsn.as("l"), seqC.as("s"), col("op").as("v")).as(OpCell),
      struct(lsn.as("l"), seqC.as("s"), castOf("ts", TimestampType).as("v")).as(TsCell))
    batch
      .filter(applyPred)
      .select((keyColumns ++ envelope ++ cells): _*)
  }

  /** Cell-form rows of `files`, aligned (cast/null-fill) to the target
    * payload schema: one scan per writer schema, so widened columns are
    * up-cast explicitly and old data files are never rewritten on schema
    * evolution. The scan is built from the listed files alone (see
    * [[ManifestScan]]). */
  private def readAligned(files: Iterable[Icelite.DataFile], targetPayload: StructType): DataFrame = {
    val target = stateSchema(targetPayload)
    val aligned = table.fileGroups(files).toSeq.map { case (sid, paths) =>
      val written = table.schema(sid)
      val writtenNames = written.fieldNames.toSet
      val cols = target.fields.toSeq.map { f =>
        if (writtenNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      ManifestScan.parquet(spark, written, paths).select(cols: _*)
    }
    aligned.reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
    }
  }

  /** Flatten merged cell rows to the feed shape: keys, payload values, and
    * the (_op, _lsn, _seq, _ts) envelope. */
  private def flattenCells(cells: DataFrame, payload: StructType): DataFrame = {
    val flat = payload.fieldNames.toSeq.map(c => col(s"$c.v").as(c))
    cells.select((keyColumns ++ flat ++ Seq(
      col(s"$OpCell.v").as("_op"), col(s"$OpCell.l").as("_lsn"),
      col(s"$OpCell.s").as("_seq"), col(s"$TsCell.v").as("_ts"))): _*)
  }

  /** The visible rows of merged cells, flattened: tombstones dropped, plus
    * the per-row content invariant `content_sha256` when there is content. */
  private def visibleRows(cells: DataFrame, payload: StructType): DataFrame = {
    val flat = flattenCells(cells.filter(col(s"$OpCell.v") =!= lit("D")), payload)
    if (payload.fieldNames.contains("content"))
      flat.withColumn("content_sha256", sha2(col("content"), 256))
    else flat
  }

  /** The one state reader: cell-form state of some buckets of ONE snapshot,
    * each given by its file list (possibly pruned), aligned to the target
    * payload schema. It alone decides how a bucket is read, by the
    * final-state rule ([[Icelite.DataFile]]): final buckets as written,
    * every other bucket through the LWW merge — the same ACI reduction the
    * write path uses, applied at read time (Hudi/Iceberg MOR semantics).
    * Each class is one scan per writer schema. `keyFilter` lands below the
    * merge, on the parquet scan. */
  private def readCells(buckets: Iterable[Seq[Icelite.DataFile]], targetPayload: StructType,
      keyFilter: Option[Column] = None): DataFrame = {
    val meta = table.meta
    val (raw, merge) = buckets.partition(meta.finalState)
    def scan(files: Iterable[Icelite.DataFile]): DataFrame = {
      val df = readAligned(files, targetPayload)
      keyFilter.fold(df)(df.filter)
    }
    val mergeFiles = merge.flatten
    if (mergeFiles.isEmpty) scan(raw.flatten)
    else {
      val merged = lwwAgg(scan(mergeFiles), targetPayload)
      if (raw.forall(_.isEmpty)) merged else scan(raw.flatten).unionByName(merged)
    }
  }

  /** `snap`'s file list of each bucket in `buckets` (None = all). */
  private def bucketsAt(snap: Option[Icelite.Snapshot],
      buckets: Option[Set[Int]]): Iterable[List[Icelite.DataFile]] =
    snap.fold(Iterable.empty[List[Icelite.DataFile]])(table.bucketLists(_, buckets))

  /** The ACI last-writer-wins reduction: per key, per cell column, keep the
    * struct with the greatest (l, s) — null cells (column absent = carry
    * forward) are skipped by max().
    *
    * Plan note: this is a SortAggregate by necessity, and that is the right
    * plan. HashAggregateExec only supports fixed-size primitive aggregation
    * buffers; any latest-row aggregate whose buffer carries a string/struct
    * (max(struct), max_by, window row_number alike) sorts per partition.
    * What matters at scale is preserved: ONE shuffle on the key, map-side
    * partial aggregation before it (which also collapses a hot key's rows
    * before they reach one reducer), no per-row lookups. (max_by was tried:
    * same SortAggregate, with a second buffer column for the ordering —
    * strictly fatter than max(struct).) */
  private def lwwAgg(df: DataFrame, payload: StructType): DataFrame = {
    val aggs = cellCols(payload).map(c => max(col(c)).as(c))
    df.groupBy(keyColumns: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The cell columns of a state row: the envelope cells, then the payload. */
  private def cellCols(payload: StructType): Seq[String] =
    Seq(OpCell, TsCell) ++ payload.fieldNames

  // ---------------------------------------------------------------- apply

  /** Apply one micro-batch. Idempotent: a re-delivered epoch is a no-op.
    * The batch DataFrame is flat ChangeEvent-shaped (envelope + payload);
    * payload columns may be a superset/widening of the table schema
    * (schema evolution) or a subset (old producers). */
  def applyBatch(epoch: Long, batchRaw: DataFrame): CommitResult =
    applyBatchImpl(epoch, batchRaw, stage = false)

  /** Write-audit-publish step 1: run the full MERGE and write the snapshot
    * STAGED — data files and manifest on disk, pointer untouched. The batch
    * is invisible to every reader (state, change feeds, mirrors, views)
    * until [[publishStaged]]; a failed audit discards it with
    * [[dropStaged]] and the table is as if the batch never arrived. The
    * returned `snapshotId` is the staged id to audit/publish/drop. */
  def stageBatch(epoch: Long, batchRaw: DataFrame): CommitResult =
    applyBatchImpl(epoch, batchRaw, stage = true)

  /** Apply a micro-batch onto a BRANCH (writable ref lane): the merge runs
    * against the branch head's state and the commit advances the branch
    * ref, never the main pointer — an ingest lane of several batches stays
    * invisible to main's readers/feeds/views until [[publishBranch]]
    * fast-forwards it in one atomic pointer write. Exactly-once is scoped
    * to the branch chain (which shares main's history below the fork, so
    * re-delivering a batch main already has is still a no-op). */
  def applyBatchToBranch(epoch: Long, batchRaw: DataFrame, branch: String): CommitResult =
    applyBatchImpl(epoch, batchRaw, stage = false, branch = Some(branch))

  private def applyBatchImpl(epoch: Long, batchRaw: DataFrame, stage: Boolean,
      branch: Option[String] = None): CommitResult = {
    branch match {
      case Some(n) =>
        // branch lanes inherit their layout from the branch head, which may
        // predate a main-side rebucket — same loud-failure rule as main
        val head = table.snapshot(table.branchHead(n))
        require(table.effectiveBuckets(head) == conf.buckets,
          s"branch '$n' is bucketed at ${table.effectiveBuckets(head)} but this " +
            s"engine was built for ${conf.buckets}")
        if (table.branchEpochs(n).contains(epoch))
          return CommitResult(epoch, table.branchHead(n), skipped = true, 0, 0, 0)
      case None =>
        checkLayout()
        if (table.committedEpochs.contains(epoch))
          return CommitResult(epoch, table.currentSnapshotId, skipped = true, 0, 0, 0)
    }
    // Optimistic-concurrency retry: a copy-on-write merge pins the snapshot
    // it merged against and commits CAS-style (expectedParentId); a
    // concurrent writer advancing the table between the pin and the commit
    // raises CommitConflictException, and the whole merge re-runs against
    // the fresh state (the loser's data files are orphans, reclaimed by the
    // vacuum grace — Iceberg's standard optimistic-commit protocol).
    // Merge-on-read appends and branch commits don't need it: an append
    // folds the PARENT's file lists inside the commit lock, and a branch
    // commit validates its own head.
    // The CAS pin has a second loss mode besides the conflict at commit
    // time: the merge READS the pinned snapshot unprotected, so a
    // concurrent winner whose commit triggers retention/vacuum can expire
    // that snapshot and reclaim its manifest or data files MID-merge. That
    // surfaces as FileNotFound deep inside the read job, not as a
    // CommitConflictException — attributable to the race only when the
    // head actually moved during the attempt, in which case the correct
    // response is the same re-merge against the fresh state.
    def vanishedRead(e: Throwable): Boolean = {
      var t = e
      while (t != null) {
        val msg = t.getMessage
        if (t.isInstanceOf[java.io.FileNotFoundException] ||
          t.isInstanceOf[java.nio.file.NoSuchFileException] ||
          (msg != null && (msg.contains("FileNotFoundException") ||
            msg.contains("NoSuchFileException")))) return true
        t = t.getCause
      }
      false
    }
    val casProtected = branch.isEmpty && !stage && !table.meta.mergeOnRead
    // The merge makes several passes over the batch (lineage, quarantine,
    // merge), and a retry makes them again. A batch that is dear to re-read
    // (a network source, a streaming sink's micro-batch) is pinned once, as
    // rows, so its records cross the wire once. A batch that reads only
    // files or local rows is re-read instead: on parquet replay a pin cost
    // more than the re-reads it saved (cdcbench replay-cow). A plan the
    // caller cached stays the caller's.
    val pin =
      if (batchRaw.storageLevel != StorageLevel.NONE ||
          batchRaw.queryExecution.analyzed.collectLeaves().forall {
            case _: LogicalRelation | _: LocalRelation => true
            case _ => false
          }) None
      else Some(GraftStreamingBridge.pinRows(batchRaw))
    val batch = pin.fold(batchRaw)(_._1)
    var conflicts = 0
    try while (true) {
      val headBefore = table.currentSnapshotId
      def loseRace(detail: String): Option[CommitResult] = {
        conflicts += 1
        if (conflicts > CdcEngine.MaxCommitRetries)
          throw new Icelite.CommitConflictException(
            s"epoch $epoch lost ${conflicts} consecutive commit races " +
              s"(maxCommitRetries=${CdcEngine.MaxCommitRetries}): $detail")
        // the winner may have BEEN this epoch (re-delivery race):
        // exactly-once resolves it as a skip, not a re-merge
        if (branch.isEmpty && table.committedEpochs.contains(epoch))
          Some(CommitResult(epoch, table.currentSnapshotId, skipped = true, 0, 0, 0))
        else None
      }
      try return applyBatchInner(epoch, batch, stage, branch)
      catch {
        case e: Icelite.CommitConflictException =>
          loseRace(e.getMessage).foreach(return _)
        case scala.util.control.NonFatal(e)
            if casProtected && table.currentSnapshotId != headBefore &&
              vanishedRead(e) =>
          loseRace(s"pinned read vanished under concurrent expire: ${e.getMessage}")
            .foreach(return _)
      }
    } finally pin.foreach(_._2.unpersist(blocking = false))
    throw new IllegalStateException("unreachable")
  }

  private def applyBatchInner(epoch: Long, batchRaw: DataFrame, stage: Boolean,
      branch: Option[String]): CommitResult = {
    val t0 = System.nanoTime()
    def ms(since: Long): Long = (System.nanoTime() - since) / 1000000

    // multi-writer CAS pin (main-chain copy-on-write only): the snapshot
    // this merge reads is the snapshot the commit must still be on top of —
    // committing a merge computed against snapshot S onto a parent != S
    // would silently drop the intervening writer's changes to the rewritten
    // buckets. The conflict raises and applyBatchImpl re-merges fresh.
    val observedParent: Long =
      if (branch.isEmpty) table.currentSnapshotId else -2L
    // the state (and schema) a branch commit merges against is the BRANCH
    // head's, not main's — the lane may have evolved the schema on its own
    val baseId = branch.fold(observedParent)(table.branchHead)
    val base = snapshotOf(baseId)
    val targetPayload = SchemaEvolve.reconcile(payloadAt(base), payloadOf(batchRaw))

    // Per-bucket source-offset lineage straight off the raw batch (one cheap
    // aggregation; also yields the affected-bucket set for manifest pruning
    // AND the malformed-row count, so a clean batch pays no quarantine
    // write). Same apply predicate as batchToCells, so lineage counts
    // exactly the applied events: a null-envelope row must not inflate
    // lineage, and a row whose fallible cast would silently null a non-null
    // source value is quarantined (`cast_error`), never merged.
    // Merge-on-read tables piggyback the delta files' key-fingerprint SET on
    // the same aggregation (no extra job; map-side dedup bounds the transfer
    // at keyFpBits ints per bucket).
    val mor = table.meta.mergeOnRead
    val fpEnabled = mor && conf.keyFpBits > 0
    // a row whose source record did not parse carries its text in
    // ChangeEvent.RawCol; its null envelope says nothing, so it is
    // rejected first, as `unparseable`
    val unparseable =
      if (batchRaw.columns.contains(ChangeEvent.RawCol)) col(ChangeEvent.RawCol).isNotNull
      else lit(false)
    val validPred = !unparseable && keyColumns.map(_.isNotNull).reduce(_ && _) &&
      col("op").isNotNull && col("commit_lsn").isNotNull && col("seq").isNotNull
    val fallible = fallibleCasts(batchRaw, targetPayload)
    val applyPred = validPred && !castFailPred(fallible)
    val baseAggs = Seq(
      min(when(applyPred, col("commit_lsn"))).as("lmin"),
      max(when(applyPred, col("commit_lsn"))).as("lmax"),
      count(when(applyPred, lit(1))).as("n"),
      count(when(!applyPred, lit(1))).as("nbad"))
    val lineageAggs = // collect_set skips the nulls the when() leaves on bad rows
      if (fpEnabled) baseAggs :+ collect_set(when(applyPred, keyFpCol)).as("fps")
      else baseAggs
    val lineageRows = batchRaw
      .groupBy(bucketCol.as("__b"))
      .agg(lineageAggs.head, lineageAggs.tail: _*)
      .collect()
    val lineageMs = ms(t0)
    val badTotal = lineageRows.map(_.getLong(4)).sum
    // dead-letter quarantine BEFORE the merge: malformed rows written with
    // their reason. Skipped entirely when the batch is clean (the common
    // case must not pay a second full-batch pass + parquet write).
    val rejected: Long =
      if (conf.dlqDir.isEmpty || badTotal == 0) 0L
      else {
        val reason = when(unparseable, "unparseable")
          .when(keyColumns.map(_.isNull).reduce(_ || _), "null_key")
          .when(col("op").isNull, "null_op")
          .when(col("commit_lsn").isNull, "null_lsn")
          .when(col("seq").isNull, "null_seq")
          .otherwise("cast_error")
        val dlqPath = Paths.get(conf.dlqDir).resolve(s"epoch=$epoch")
        batchRaw.filter(!applyPred).withColumn("_reason", reason)
          .write.options(LocalWrite.options).mode("overwrite").parquet(dlqPath.toString)
        badTotal
      }
    val appliedRows = lineageRows.filter(_.getLong(3) > 0)
    if (appliedRows.isEmpty) { // no applicable rows: still commit the epoch (exactly-once bookkeeping)
      val sid = table.ensureSchema(stateSchema(targetPayload))
      val snap = table.commit(epoch, sid, Map.empty, Nil, 0, stage = stage,
        toBranch = branch)
      return CommitResult(epoch, snap.snapshotId, skipped = false, 0, 0,
        (System.nanoTime() - t0) / 1000000, rejected = rejected)
    }
    val affected = appliedRows.map(_.getInt(0)).toSet
    val events = appliedRows.map(_.getLong(3)).sum

    // Copy-on-write: MERGE = union(batch cells, affected state cells) ->
    // one LWW reduction -> rewrite affected buckets (write work O(bucket
    // rows)). Merge-on-read: reduce WITHIN the batch only and append the
    // result as delta files (write work O(batch rows) — the sparse-batch
    // write-amplification fix); the cross-batch merge happens at read time.
    val batchCells = batchToCells(batchRaw, targetPayload, fallible, applyPred)
    val merged =
      if (mor) lwwAgg(batchCells, targetPayload)
      else lwwAgg(batchCells.unionByName(
        readCells(bucketsAt(base, Some(affected)), targetPayload)), targetPayload)
    // distinct keys of a bucket's new file: at most its applied events,
    // plus (copy-on-write) the rows it already holds
    val stateFiles: Map[String, List[Icelite.DataFile]] =
      if (mor) Map.empty
      else base.fold(Map.empty[String, List[Icelite.DataFile]])(table.bucketFilesOf)
    val keysPerFile = appliedRows.iterator.map { r =>
      r.getLong(3) + stateFiles.getOrElse(r.getInt(0).toString, Nil).map(_.rows).sum
    }.max

    // Write affected buckets: COW rewrites are merged final state, MOR
    // deltas are not; only a COW rewrite pays the declared write sort order
    // (a MOR table gets it at compaction, see EngineConf.writeSortCols).
    val sortNow = if (mor) Nil
      else conf.writeSortCols.filter(targetPayload.fieldNames.contains)
    val written = writeBuckets(merged, targetPayload, f"e$epoch%d", affected.size,
      merged = !mor, keysPerFile = keysPerFile,
      cluster = if (sortNow.isEmpty) None else Some(sortNow.map(c => col(s"$c.v"))),
      maxFileRows = if (mor) 0L else conf.writeMaxFileRows,
      salt = conf.writeSaltPerBucket)
    val bucketRows: Map[Int, Long] =
      written.files.map { case (b, files) => b -> files.map(_.rows).sum }
    val lineage = appliedRows.map { r =>
      val b = r.getInt(0)
      Icelite.BucketLineage(b, r.getLong(1), r.getLong(2), r.getLong(3),
        bucketRows.getOrElse(b, 0L))
    }.toList

    // Attach each bucket's key-fingerprint bitmap to its delta files (all
    // files of a salted multi-file bucket share the bucket bitmap — a safe
    // over-approximation). Dropped when the set bits would exceed 25% load
    // (false positives make the stat useless before it makes it wrong).
    val fpByBucket: Map[Int, String] =
      if (!fpEnabled) Map.empty
      else appliedRows.iterator
        .map(r => r.getInt(0) -> r.getSeq[Int](5))
        .collect { case (b, fps) if fps.size <= conf.keyFpBits / 4 =>
          b -> Icelite.fpBitmap(fps, conf.keyFpBits)
        }.toMap
    val manifestFiles = written.files.map { case (b, fs) =>
      b -> fpByBucket.get(b).map(bm => fs.map(_.copy(keyFp = Some(bm)))).getOrElse(fs)
    }

    val tc0 = System.nanoTime()
    val snap = table.commit(epoch, written.schemaId, manifestFiles, lineage, rowDelta = events,
      append = mor, stage = stage, toBranch = branch,
      // CAS only where staleness loses data: a COW main commit rewrites
      // whole buckets from the pinned read; MOR appends fold the fresh
      // parent inside the commit lock, staged commits move no pointer,
      // branch commits validate their own head
      expectedParentId = if (branch.isEmpty && !mor && !stage) observedParent else -2L)
    val commitMs = ms(tc0)
    // maintenance acts on the PUBLISHED chain — a staged snapshot defers
    // both to publishStaged, a branch commit to publishBranch (dropping
    // either must leave the table untouched)
    val tp0 = System.nanoTime()
    // the delta manifest lists exactly the touched buckets
    if (!stage && branch.isEmpty) maintain(snap, snap.bucketDelta.keys.map(_.toInt), 1)
    val maintMs = ms(tp0)
    val totalMs = ms(t0)
    appendMetrics(epoch, snap.snapshotId, events, affected.size, totalMs,
      s""","lineageMs":$lineageMs,"mergeWriteMs":${written.writeMs}""" +
        s""","manifestMs":${written.harvestMs}""" +
        s""","commitMs":$commitMs,"maintMs":$maintMs""" +
        (if (stage) ""","staged":true""" else "") +
        (if (rejected > 0) s""","rejected":$rejected""" else "") +
        branch.map(n => s""","branch":"$n"""").getOrElse(""))
    CommitResult(epoch, snap.snapshotId, skipped = false, events, affected.size, totalMs,
      rejected = rejected)
  }

  // ---------------------------------------------------------------- read

  /** Current table state, flat: key cols, payload cols, envelope (_op, _lsn,
    * _seq, _ts) and the per-row content invariant sha256. Tombstoned keys are
    * excluded. `buckets` enables manifest-level pruning. */
  def currentState(buckets: Option[Set[Int]] = None): DataFrame =
    stateOf(buckets, asOfSnapshot = None)

  /** Time-travel read: the visible state AS OF a past snapshot id
    * (Iceberg `VERSION AS OF`). The payload schema is the one pinned by
    * that snapshot, not the current one. */
  def stateAt(snapshotId: Long, buckets: Option[Set[Int]] = None): DataFrame =
    stateOf(buckets, asOfSnapshot = Some(snapshotId))

  /** Tag the current (or a given ancestor) snapshot under `name`; tagged
    * snapshots stay readable past `expireSnapshots` and their files past
    * `vacuum` until the tag is dropped (Iceberg tag refs). */
  def tagSnapshot(name: String, snapshotId: Long = -1L): Long =
    table.tag(name, snapshotId)

  /** Time-travel read by tag name — works even after the tagged snapshot
    * was expired out of the chain (its manifest is retained and
    * self-contained). */
  def stateAtTag(name: String, buckets: Option[Set[Int]] = None): DataFrame =
    stateAt(table.snapshotForTag(name).snapshotId, buckets)

  private def stateOf(buckets: Option[Set[Int]], asOfSnapshot: Option[Long]): DataFrame = {
    // Pin a head read to the CONCRETE current snapshot, so the plan's file
    // list, its schema, and the metadata-aggregate tag all describe the
    // same table version — a held DataFrame must not answer count(*) from
    // a snapshot newer than the files it scans (None = empty table).
    val snap = snapshotAt(asOfSnapshot)
    val payload = payloadAt(snap)
    val out = visibleRows(readCells(bucketsAt(snap, buckets), payload), payload)
    // full-table reads advertise themselves to the metadata-only aggregate
    // rewrite (bucket-pruned reads don't: manifest sums cover ALL buckets);
    // the tag carries the PINNED snapshot, not "head"
    if (buckets.isEmpty)
      out.queryExecution.analyzed.setTagValue(CdcEngine.MetaScanTag,
        (this, snap.map(_.snapshotId)))
    out
  }

  /** Inspection metadata tables (Iceberg's `table.snapshots` / `.history` /
    * `.files` / `.partitions` / `.refs`, plus queryable per-partition
    * lineage) — see [[Inspect]]. */
  def inspect: Inspect = new Inspect(spark, table)

  /** Raw cell-form state (for tests / debugging). */
  def currentCells(buckets: Option[Set[Int]] = None): DataFrame = {
    val head = table.currentSnapshot
    readCells(bucketsAt(head, buckets), payloadAt(head))
  }

  // ------------------------------------------- metadata-only aggregates

  /** Exact visible-row count at `asOfSnapshot` (-1 = head) from MANIFEST
    * metadata alone — no file is opened, no Spark job runs (the Iceberg
    * `SupportsPushDownAggregates` count analog; at 100 TB this turns
    * `SELECT count(*)` from a full scan into a metadata read). Answerable
    * — `Some(n)` — only when every bucket holds final state (the rule on
    * [[Icelite.DataFile]]) in files with a footer-decided live-row count
    * ([[Icelite.DataFile.liveRows]]); a merge-on-read bucket with pending
    * deltas over a base or another delta, or a file whose row groups
    * interleave tombstones with live rows, returns None and the caller
    * falls back to the scan. `Some(0)` for an empty table. */
  def metaCount(asOfSnapshot: Long = -1L): Option[Long] =
    snapshotAt(Some(asOfSnapshot).filter(_ >= 0)) match {
      case None => Some(0L)
      case Some(s) =>
        val meta = table.meta
        var sum = 0L
        val ok = table.bucketFilesOf(s).valuesIterator.forall(fs =>
          meta.finalState(fs) && fs.forall { f =>
            if (f.liveRows >= 0L) sum += f.liveRows
            f.liveRows >= 0L
          })
        if (ok) Some(sum) else None
    }

  /** Exact global (min, max) of payload column `column` over the VISIBLE
    * state at `asOfSnapshot` (-1 = head), from manifest column stats alone
    * (Iceberg's lower/upper_bounds). Answerable only when every bucket
    * holds final state in files carrying bounds for the column (only
    * merged files harvest them) AND every file is tombstone-free
    * (`liveRows == rows`) — a retained tombstone's preimage values sit in
    * the file's footer stats but are invisible to readers, so any
    * tombstone poisons the metadata answer. `Some((None, None))` = the
    * column is null everywhere (SQL min/max of nothing). Values are the
    * external types `currentState` exposes. */
  def metaBounds(column: String, asOfSnapshot: Long = -1L)
      : Option[(Option[Any], Option[Any])] = {
    val snap = snapshotAt(Some(asOfSnapshot).filter(_ >= 0))
    snap match {
      case None => Some((None, None))
      case Some(s) =>
        val payload = payloadAt(snap)
        val field = payload.fields.find(_.name == column).getOrElse(return None)
        val dt = field.dataType
        if (!StatsSkip.supported(dt)) return None
        val meta = table.meta
        var lo: Option[String] = None
        var hi: Option[String] = None
        val ok = table.bucketFilesOf(s).valuesIterator.forall(fs =>
          meta.finalState(fs) && fs.forall { f =>
            if (f.liveRows != f.rows) false
            else f.colStats.flatMap(_.get(column)) match {
              case Some(mn :: mx :: Nil) =>
                if (lo.forall(StatsSkip.cmp(dt, mn, _) < 0)) lo = Some(mn)
                if (hi.forall(StatsSkip.cmp(dt, mx, _) > 0)) hi = Some(mx)
                true
              case Some(Nil) => true // column all-null in this file
              case _ => false // no stats harvested: unknown
            }
          })
        if (ok) Some((lo.map(StatsSkip.decode(dt, _)), hi.map(StatsSkip.decode(dt, _))))
        else None
    }
  }

  // ------------------------------------------------------ write-audit-publish

  /** WAP step 2: evaluate data-quality invariants against the STAGED state —
    * exactly what the table would expose if published — in ONE aggregation
    * pass. Built-in checks re-prove key uniqueness and key non-nullness from
    * the data (not assumed from the merge); `rowChecks` are caller row-level
    * predicates (content bounds, lang whitelists, ...) that must hold on
    * EVERY visible row (a null predicate counts as failed; an empty state
    * passes). Returns check name -> passed. Iceberg's WAP audit slot. */
  def auditStaged(stagedId: Long,
      rowChecks: Map[String, Column] = Map.empty): Map[String, Boolean] = {
    val st = stateAt(stagedId)
    def everyRow(pred: Column): Column =
      coalesce(min(when(pred, 1).otherwise(0)), lit(1)) === 1
    val checks: Seq[(String, Column)] =
      Seq(
        "keys_unique" ->
          (count(lit(1)) === count_distinct(keyColumns.head, keyColumns.tail: _*)),
        "no_null_keys" -> everyRow(keyColumns.map(_.isNotNull).reduce(_ && _))) ++
        rowChecks.toSeq.map { case (n, pred) => n -> everyRow(pred) }
    val aggs = checks.map { case (n, c) => c.as(n) }
    val row = st.agg(aggs.head, aggs.tail: _*).collect()(0)
    checks.indices.map(i => checks(i)._1 -> row.getBoolean(i)).toMap
  }

  /** WAP step 3: make the staged snapshot the table head. Exactly-once and
    * the optimistic-concurrency parent are re-checked at publish time (the
    * table may have moved while the audit ran — see [[IceliteTable.publish]];
    * on conflict re-stage against the new head, the staged MERGE is stale).
    * Then runs the maintenance the stage deferred (merge-on-read threshold
    * compaction, auto-retention). Returns the published snapshot id. */
  def publishStaged(stagedId: Long): Long = {
    val snap = table.publish(stagedId)
    maintain(snap, snap.bucketDelta.keys.map(_.toInt), 1)
    snap.snapshotId
  }

  /** Remove `<dlqDir>/epoch=N` for epochs whose commit was discarded
    * (dropped staged snapshot / abandoned branch): the quarantine mirrors
    * the commit, so an uncommitted epoch must not leave a stale quarantine
    * directory behind. A corrected re-delivery rewrites it. */
  private def dropDlqEpochs(epochs: Iterable[Long]): Unit =
    if (conf.dlqDir.nonEmpty)
      epochs.foreach(e => Icelite.deleteTree(Paths.get(conf.dlqDir).resolve(s"epoch=$e")))

  /** Audit failed: discard the staged snapshot — manifest and the data files
    * only it references — leaving the table as if the batch never arrived.
    * The batch's epoch stays UNcommitted, so a corrected re-delivery under
    * the same epoch is applied, not skipped; its quarantine directory is
    * removed with it. */
  def dropStaged(stagedId: Long): Seq[String] = {
    val epoch = scala.util.Try(table.snapshot(stagedId).batchEpoch).toOption
    val removed = table.dropStaged(stagedId)
    dropDlqEpochs(epoch.filter(_ >= 0))
    removed
  }

  // ---------------------------------------------------------------- branches

  /** Fork a writable branch at the current snapshot (or a given ancestor).
    * Apply batches to it with [[applyBatchToBranch]]; read it with
    * [[stateAtBranch]]; audit it with [[auditBranch]]; make it main with
    * [[publishBranch]] or discard it with [[abandonBranch]]. The multi-batch
    * generalization of write-audit-publish: a WHOLE ingest lane is audited
    * and published (or dropped) as a unit. */
  def createBranch(name: String, snapshotId: Long = -1L): Long =
    table.createBranch(name, snapshotId)

  /** Visible state at a branch head — exactly what main would expose if the
    * branch were published now. */
  def stateAtBranch(name: String, buckets: Option[Set[Int]] = None): DataFrame =
    stateAt(table.branchHead(name), buckets)

  /** Run the WAP audit pass against a branch head (same built-in checks +
    * caller row predicates as [[auditStaged]], over the branch's state). */
  def auditBranch(name: String,
      rowChecks: Map[String, Column] = Map.empty): Map[String, Boolean] =
    auditStaged(table.branchHead(name), rowChecks)

  /** Publish a branch: fast-forward main to the branch head (one atomic
    * pointer write — every lane batch becomes visible at once, with change
    * feeds/mirrors/views seeing an ordinary chain extension). Conflicts if
    * main advanced since the fork (see [[IceliteTable.fastForward]]). Then
    * runs the maintenance the lane deferred: merge-on-read threshold
    * compaction over every bucket the lane touched, and auto-retention. */
  def publishBranch(name: String): Long = {
    // the lane = the branch chain above main's head: the walk that reaches
    // the head is also the fast-forward's proof (one that misses it runs
    // to the root, and fastForward then conflicts)
    val main = table.currentSnapshotId
    val lane = table.walk(table.branchHead(name), _ == main).toList
    maintain(table.fastForward(name), lane.flatMap(_.bucketDelta.keys.map(_.toInt)).toSet,
      lane.size)
    table.currentSnapshotId
  }

  /** Audit failed: drop the branch ref and reclaim the lane's data files
    * (manifests become inert, files are vacuumed unless another ref still
    * needs them). Main is untouched; the lane's epochs stay uncommitted on
    * main, so corrected re-deliveries apply normally.
    *
    * `vacuumGraceMillis` defaults to the engine's configured grace period
    * (negative = use conf): vacuum's contract warns that a zero-grace run
    * can reclaim the data files of in-flight writers and un-published
    * staged (WAP) snapshots, so immediate reclamation must be an explicit
    * caller decision (pass 0), never the default in a multi-writer or
    * concurrent-audit setup. */
  def abandonBranch(name: String, vacuumGraceMillis: Long = -1L): Seq[String] = {
    // lane-only epochs (strictly above the fork): their quarantine dirs go
    // with the lane — collected BEFORE the ref is dropped. "Lane-only"
    // means reachable from NO other ref: a branch forked from another
    // branch shares its parent lane's snapshots, and abandoning the child
    // must not delete quarantine dirs the still-live parent lane needs for
    // replay-after-fix — so main, every other branch head and every tag
    // bound the walk. Each of them is walked once, down to the first id an
    // earlier walk covered; the lane walk stops at the first shared id.
    val laneEpochs = scala.util.Try {
      val shared = scala.collection.mutable.Set.empty[Long]
      val otherHeads = table.currentSnapshotId ::
        (table.branches.collect { case (n, h) if n != name => h } ++ table.tags.values).toList
      otherHeads.filter(table.hasSnapshot).foreach(h =>
        shared ++= table.walk(h, shared.contains).map(_.snapshotId))
      table.walk(table.branchHead(name), shared.contains)
        .map(_.batchEpoch).filter(_ >= 0).toList
    }.getOrElse(Nil)
    if (!table.dropBranch(name)) return Seq.empty
    dropDlqEpochs(laneEpochs)
    table.vacuum(
      if (vacuumGraceMillis >= 0) vacuumGraceMillis else conf.vacuumGraceMillis)
  }

  /** Highest source LSN applied up to and including `snapshotId` (from the
    * per-bucket lineage records plus any watermark carried across
    * expireSnapshots re-roots; -1 for an empty chain prefix). */
  def highWatermark(snapshotId: Long): Long =
    table.walk(snapshotId).foldLeft(-1L)((hwm, s) =>
      (s.carriedWatermark :: s.lineage.map(_.lsnMax)).foldLeft(hwm)(math.max))

  /** Shared pruning resolution for the incremental readers over a window
    * (since, to], from ONE walk of it ([[IceliteTable.window]]). Returns
    * (crosses, bsel, unbounded):
    *   - crosses — the window straddles a rebucket: same keys and cells,
    *     relocated files, MIXED hash regimes, so bucket pruning must be
    *     abandoned entirely (the caller's `buckets`, interpreted in the
    *     window-END layout, is re-applied as a row filter downstream);
    *   - bsel — effective bucket selection: lineage-touched ∩ the caller's
    *     (compaction snapshots carry no lineage and rewrite values 1:1, so
    *     they add nothing to the touched set);
    *   - unbounded — the touched set could not be proven complete (`since`
    *     expired / re-rooted chain): readers must fall back to conservative
    *     full redelivery. */
  private def diffPruning(w: Icelite.ChainWindow,
      buckets: Option[Set[Int]]): (Boolean, Option[Set[Int]], Boolean) = {
    val crosses = w.reachesSince && w.crossesRebucket
    val bsel = if (crosses) None
      else (w.touched, buckets) match {
        case (Some(t), Some(u)) => Some(t intersect u)
        case (Some(t), None) => Some(t)
        case (None, u) => u
      }
    (crosses, bsel, w.touched.isEmpty)
  }

  /** Incremental change feed as a SNAPSHOT DIFF: every row whose visible
    * merged cells differ between `sinceSnapshotId` and now — inserts,
    * updates (any cell, not just the op cell) and tombstones (`_op = "D"`
    * rows ARE included so a consumer can apply deletes); `_lsn` orders the
    * feed. Defined on snapshot ORDER, not on LSNs: a late-arriving batch
    * whose LSNs all precede the old high watermark still commits a new
    * snapshot, so its rows diff and are delivered — an LSN-watermark filter
    * (the previous design) silently dropped exactly those rows under the
    * out-of-order delivery the engine's replay contract guarantees.
    *
    * Cost control: both sides are pruned to the buckets the segment's
    * lineage actually touched (manifest metadata, no scan), and the diff is
    * ONE anti-join on (key, all cells) — null-safe struct equality, so it
    * plans as a hash join on the key+cell tuple. If `since` was expired the
    * whole current state is conservatively re-delivered (Iceberg's
    * incremental read makes the same call).
    *
    * Windows crossing a RESTORE (rollbackTo) additionally emit synthetic
    * `_op = "D"` rows for keys the restore removed (inserted inside the
    * rolled-back span — no tombstone cell exists for them), so a feed
    * consumer's mirror follows the rollback. Caveat: if `since` was ALSO
    * expired, the conservative full redelivery cannot express removals — a
    * consumer whose checkpoint predates the retained chain must rebuild its
    * mirror after a restore. */
  def changesSince(sinceSnapshotId: Long, buckets: Option[Set[Int]] = None,
      toSnapshotId: Long = -1L): DataFrame = {
    // window end: current by default, or any chain snapshot (Iceberg's
    // incremental scan (from, to]) — feeds become replayable history steps
    // and a consumer can pin `to` to the snapshot it observed, making the
    // read race-free against concurrent commits
    val toId = if (toSnapshotId >= 0) toSnapshotId else table.currentSnapshotId
    changesIn(table.window(sinceSnapshotId, toId), buckets, explicitTo = toSnapshotId >= 0)
  }

  /** [[changesSince]] over a resolved window; `explicitTo` = the caller
    * named the window end (a reversed window is then an error). */
  private[engine] def changesIn(w: Icelite.ChainWindow, buckets: Option[Set[Int]],
      explicitTo: Boolean): DataFrame = {
    val (sinceSnapshotId, toId) = (w.since, w.to)
    val toSnap = snapshotOf(toId)
    // a window that ends at the head it read checks the layout there
    if (explicitTo) checkLayout() else checkLayout(toSnap)
    // a reversed window (live `since` that is NOT an ancestor of `to`)
    // would silently diff in the wrong direction — fail loudly instead;
    // an EXPIRED `since` stays legal (conservative full redelivery below)
    if (sinceSnapshotId >= 0 && explicitTo)
      require(w.reachesSince || !table.isAncestor(sinceSnapshotId),
        s"changesSince window is reversed or crosses branches: " +
          s"snapshot $sinceSnapshotId is not an ancestor of $toId")
    val (crosses, bsel, unbounded) = diffPruning(w, buckets)
    // payload schema is the one pinned by the window END, not the current
    // one — a windowed feed to a pre-evolution snapshot has no later columns
    val payload = payloadAt(toSnap)
    val cur = readCells(bucketsAt(toSnap, bsel), payload)
    val changed =
      if (sinceSnapshotId < 0 || (unbounded && !crosses)) cur
      else {
        val sinceSnap = Some(table.snapshot(sinceSnapshotId))
        val old = readCells(bucketsAt(sinceSnap, bsel), payload)
        // A restore (or tombstone purge) in the window suspends two
        // invariants of normal CDC operation: changed keys need NOT appear
        // in any added file (a restore reverts values while adding none; a
        // purge only removes rows), and keys CAN vanish outright (inserted
        // in the rolled-back window, or tombstone rows GC'd — no tombstone
        // cell remains for them, so one is synthesized below).
        val removes = w.removesKeys
        // Merge-on-read: files are append-only, so any key whose merged
        // value changed after `since` MUST appear in a file added after
        // `since` (delta or compaction). Reading JUST those files' keys
        // (change-proportional I/O) and semi-joining both sides shrinks
        // the diff from bucket-size to change-size — the key-level
        // refinement of the bucket-level lineage pruning above. (Not
        // applied on copy-on-write, where added files are whole rewritten
        // buckets and the semi-join would prune nothing.)
        val (curSel, oldSel) =
          if (removes || crosses || !table.meta.mergeOnRead) (cur, old)
          else {
            // a bounded, non-crossing window reached `since`: the diff of
            // the two endpoints' file sets is exactly the added files
            val deltaKeys = readAligned(table.filesAdded(sinceSnap, toSnap.get, bsel),
              payload).select(keyColumns: _*).distinct()
            (cur.join(deltaKeys, keyCols, "left_semi"),
              old.join(deltaKeys, keyCols, "left_semi"))
          }
        val cond = keyCols.map(k => col(s"c.$k") === col(s"o.$k")).reduce(_ && _) &&
          cellCols(payload).map(c => col(s"c.$c") <=> col(s"o.$c")).reduce(_ && _)
        val diff = curSel.as("c").join(oldSel.as("o"), cond, "left_anti")
        if (!removes) diff
        else {
          // synthetic tombstones for vanished keys: their old payload cells
          // ride along (a delete is an op-cell overwrite), only _op flips
          val vanished = old
            .join(cur.select(keyColumns: _*), keyCols, "left_anti")
            .withColumn(OpCell, struct(col(s"$OpCell.l").as("l"),
              col(s"$OpCell.s").as("s"), lit("D").as("v")))
          diff.unionByName(vanished)
        }
      }
    val out = flattenCells(changed, payload)
    if (crosses && buckets.nonEmpty) {
      // the caller's bucket restriction, re-expressed as a row predicate in
      // the window-END layout (consistent with the payload schema pinning)
      val toBuckets = table.effectiveBuckets(toSnap.get)
      out.filter(pmod(xxhash64(keyColumns: _*), lit(toBuckets)).cast(IntegerType)
        .isin(buckets.get.toSeq: _*))
    } else out
  }

  /** Change-data-feed view of the window (since, to]: [[changesSince]]'s
    * snapshot diff CLASSIFIED into `_change_type` rows — the Delta CDF /
    * Iceberg changelog-view shape. Per changed key:
    *   - `insert` — the key was not visible at `since`;
    *   - `delete` — visible at `since`, tombstoned at the window end; the
    *     row carries the PREIMAGE payload (what was deleted);
    *   - `update_preimage` + `update_postimage` — a PAIR per updated key.
    * Every row carries the `_change_lsn` / `_ts` of the change itself
    * (both images of a pair share them, so a consumer can re-pair images;
    * the feed orders by `_change_lsn`). A key created AND deleted inside
    * the window nets to no rows — nothing a consumer of `since` ever saw
    * changed.
    *
    * Cost is ONE hash join past [[changesSince]]: the post side IS the
    * snapshot diff (change-proportional under merge-on-read); the pre side
    * is the `since` state read under the SAME lineage bucket pruning, and
    * only diff keys survive the join. The classification itself is a
    * codegen'd projection (array of image structs + explode), no second
    * shuffle. Bootstrap (`since < 0`) and an expired `since` degrade to
    * all-`insert` redelivery of the visible window-end state, exactly as
    * [[changesSince]] conservatively redelivers — a consumer behind the
    * retention horizon rebuilds its mirror. */
  def changelogSince(sinceSnapshotId: Long, buckets: Option[Set[Int]] = None,
      toSnapshotId: Long = -1L): DataFrame = {
    // pin the window end NOW so the post diff and the preimage read cannot
    // straddle a concurrent commit
    val toId = if (toSnapshotId >= 0) toSnapshotId else table.currentSnapshotId
    val w = table.window(sinceSnapshotId, toId)
    val post = changesIn(w, buckets, explicitTo = toId >= 0)
    val payload = payloadAt(snapshotOf(toId))
    val pcols = payload.fieldNames.toSeq
    val (crosses, bsel, unbounded) = diffPruning(w, buckets)
    if (sinceSnapshotId < 0 || (unbounded && !crosses))
      return post.filter(col("_op") =!= lit("D")).select(
        (keyColumns ++ pcols.map(col) ++ Seq(lit("insert").as("_change_type"),
          col("_lsn").as("_change_lsn"), col("_ts"))): _*)
    // preimages: rows visible at `since`, bucket-pruned like the diff's own
    // old side; the left join below keeps only the diff's keys
    val oldCells = readCells(bucketsAt(Some(table.snapshot(sinceSnapshotId)), bsel), payload)
    val preVis = visibleRows(oldCells, payload)
    val preR = preVis.select((keyColumns ++ pcols.map(c => col(c).as(s"__pre_$c")) :+
      lit(true).as("__pre")): _*)
    val j = post.join(preR, keyCols, "left_outer")
    val pre = col("__pre") <=> lit(true)
    val del = col("_op") === lit("D")
    def img(tpe: String, of: String => Column): Column =
      struct((lit(tpe).as("_change_type") +: pcols.map(c => of(c).as(c))): _*)
    val variants = array(
      when(!pre && !del, img("insert", col)),
      when(pre && del, img("delete", c => col(s"__pre_$c"))),
      when(pre && !del, img("update_preimage", c => col(s"__pre_$c"))),
      when(pre && !del, img("update_postimage", col)))
    j.select((keyColumns ++ Seq(explode(array_compact(variants)).as("__img"),
        col("_lsn").as("_change_lsn"), col("_ts"))): _*)
      .select((keyColumns ++ pcols.map(c => col(s"__img.$c").as(c)) ++ Seq(
        col("__img._change_type").as("_change_type"),
        col("_change_lsn"), col("_ts"))): _*)
  }

  /** Offset-range audit scan: stored change rows whose last-writer LSN falls
    * in [lo, hi], merged per key WITHIN the pruned file set. File skipping
    * happens at the MANIFEST level before any plan is built — files whose
    * footer-derived [minLsn, maxLsn] misses the range are never listed
    * (tightest on merge-on-read delta files, each covering one batch's LSN
    * range); the residual per-row predicate lands on the parquet `_op.l`
    * column for row-group pruning. */
  def scanLsnRange(lo: Long, hi: Long, buckets: Option[Set[Int]] = None): DataFrame = {
    val head = table.currentSnapshot
    checkLayout(head)
    val payload = payloadAt(head)
    val cells = readCells(lsnRangeFiles(head, lo, hi, buckets), payload)
    flattenCells(cells.filter(col(s"$OpCell.l").between(lo, hi)), payload)
  }

  /** Each selected bucket's files at `snap` whose LSN range meets [lo, hi]. */
  private def lsnRangeFiles(snap: Option[Icelite.Snapshot], lo: Long, hi: Long,
      buckets: Option[Set[Int]]): Iterable[List[Icelite.DataFile]] =
    bucketsAt(snap, buckets).map(_.filter(f => f.maxLsn >= lo && f.minLsn <= hi))

  /** Data files the current snapshot would read for an LSN-range scan after
    * manifest-level stats pruning (exposed for tests/inspection). */
  def prunedFilesForLsnRange(lo: Long, hi: Long): Seq[String] =
    table.fileGroups(lsnRangeFiles(table.currentSnapshot, lo, hi, None).flatten)
      .values.flatten.toSeq

  /** How scanRange would plan a predicate: total data files in the
    * snapshot, files skipped by the harvested bounds, and buckets read
    * whole because the final-state rule sends them to the LWW merge (see
    * [[scanRange]]). Metadata-only — no Spark job. */
  case class ScanPlan(filesTotal: Int, filesSkipped: Int, unprunableBuckets: Int)

  /** Manifest-level stats-pruned scan (Iceberg scan planning on
    * lower/upper bounds): the current visible state restricted to rows
    * whose final merged `column` value lies in [lo, hi] (either bound
    * optional; pass the same value twice for equality), opening only the
    * data files whose per-file bounds (`EngineConf.statsCols`, harvested
    * at merged-file write time) can satisfy the predicate. Sound by the
    * final-state rule documented on `Icelite.DataFile`: only a final
    * bucket's files are skipped; any other bucket is read whole (pruning
    * resumes after compaction).
    * Tight when compaction sorted by the column: `compact(sortBy,
    * maxFileRows)` makes per-file ranges disjoint, so selectivity
    * translates directly into files never opened. */
  def scanRange(column: String, lo: Option[Any], hi: Option[Any],
      buckets: Option[Set[Int]] = None): DataFrame =
    scanWhere(Seq((column, lo, hi)), buckets)

  /** Multi-predicate [[scanRange]]: the conjunction of several column
    * ranges. A file is skipped when ANY predicate's bounds rule it out
    * (conjunction semantics), so each extra stats column can only shrink
    * the file set further. `asOfSnapshot` prunes a time-travel read the
    * same way — bounds live on the (immutable) manifest entries, so any
    * snapshot's file list carries its own skip index. */
  def scanWhere(preds: Seq[(String, Option[Any], Option[Any])],
      buckets: Option[Set[Int]] = None,
      asOfSnapshot: Option[Long] = None): DataFrame = {
    val snap = snapshotAt(asOfSnapshot)
    checkLayout(if (asOfSnapshot.isEmpty) snap else table.currentSnapshot)
    val payload = payloadAt(snap)
    val (files, _) = planScan(preds, bucketsAt(snap, buckets), payload)
    val resid = preds.flatMap { case (column, lo, hi) =>
      val dt = payload.fields.find(_.name == column).get.dataType
      Seq(lo.map(v => col(column) >= lit(v).cast(dt)),
        hi.map(v => col(column) <= lit(v).cast(dt))).flatten
    }.reduceOption(_ && _).getOrElse(lit(true))
    visibleRows(readCells(files, payload), payload).filter(resid)
  }

  /** The [[ScanPlan]] scanRange would use (for tests and observability). */
  def scanRangePlan(column: String, lo: Option[Any], hi: Option[Any],
      buckets: Option[Set[Int]] = None): ScanPlan =
    scanWherePlan(Seq((column, lo, hi)), buckets)

  /** The [[ScanPlan]] scanWhere would use. */
  def scanWherePlan(preds: Seq[(String, Option[Any], Option[Any])],
      buckets: Option[Set[Int]] = None,
      asOfSnapshot: Option[Long] = None): ScanPlan = {
    val snap = snapshotAt(asOfSnapshot)
    planScan(preds, bucketsAt(snap, buckets), payloadAt(snap))._2
  }

  /** The bucket file lists scanWhere reads: a final bucket's files minus
    * those whose bounds rule the predicates out, any other bucket whole. */
  private def planScan(preds: Seq[(String, Option[Any], Option[Any])],
      buckets: Iterable[List[Icelite.DataFile]], payload: StructType)
      : (Iterable[List[Icelite.DataFile]], ScanPlan) = {
    require(preds.nonEmpty, "scanWhere: at least one predicate")
    // (column, type, canonical lo, canonical hi)
    val canon = preds.map { case (column, lo, hi) =>
      val field = payload.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(s"scanWhere: no payload column '$column'"))
      val dt = field.dataType
      (column, dt, lo.map(v => StatsSkip.canon(dt, v)), hi.map(v => StatsSkip.canon(dt, v)))
    }
    val meta = table.meta
    val (prunable, whole) = buckets.partition(meta.finalState)
    val kept = prunable.map(_.filter { f =>
      canon.forall { case (column, dt, loC, hiC) =>
        f.colStats.flatMap(_.get(column)) match {
          case Some(bounds) => StatsSkip.overlaps(dt, bounds, loC, hiC)
          case None => true // no stats for this column: cannot rule out
        }
      }
    })
    val skipped = prunable.iterator.map(_.size).sum - kept.iterator.map(_.size).sum
    val total = buckets.iterator.map(_.size).sum
    (kept ++ whole, ScanPlan(total, skipped, whole.size))
  }

  /** Incremental APPEND feed: the cell versions physically written after
    * `sinceSnapshotId`, merged per key within that file set — reads ONLY the
    * manifest-diff files (Iceberg's incremental read). On merge-on-read
    * tables those are the intervening batches' delta files, so feed I/O is
    * proportional to change volume, not table size; on copy-on-write they
    * are whole rewritten buckets (use `changesSince` there — the value-level
    * snapshot diff). Falls back to the full current state when `since` was
    * expired. Unlike `changesSince`, a late event that LOSES the LWW merge
    * against pre-existing state still appears here (it was written) — this
    * is the physical change-log view, `changesSince` is the logical one.
    * `toSnapshotId` bounds the window like `changesSince`'s; being the
    * physical view, columns stay aligned to the CURRENT schema (old files
    * up-cast) rather than pinned to the window end. */
  def appendedSince(sinceSnapshotId: Long, buckets: Option[Set[Int]] = None,
      toSnapshotId: Long = -1L): DataFrame = {
    val head = table.currentSnapshot
    checkLayout(head) // caller-supplied bucket ids are meaningless across a rebucket
    val payload = payloadAt(head)
    val files = table.filesAddedSince(sinceSnapshotId, buckets, toSnapshotId)
      .getOrElse(bucketsAt(head, buckets).flatten)
    // merged unconditionally rather than through readCells: the added files
    // are a manifest diff over a window, not one snapshot's bucket lists,
    // so the final-state rule does not judge them; where they happen to be
    // key-unique the merge changes no row
    flattenCells(lwwAgg(readAligned(files, payload), payload), payload)
  }

  /** Files `appendedSince(sinceSnapshotId)` would read (tests/inspection). */
  def filesAddedSince(sinceSnapshotId: Long): Seq[String] = {
    checkLayout()
    table.fileGroupsAddedSince(sinceSnapshotId, None)
      .getOrElse(table.currentFileGroups(None)).values.flatten.toSeq
  }

  /** Point read of ONE key, pruned at three levels before any row is read:
    * the manifest prunes to the key's hash BUCKET (computed driver-side with
    * the same xxhash64 the write path uses — no Spark job), the per-file
    * key-fingerprint bitmaps then skip every merge-on-read delta file that
    * provably misses the key (O(1) file opens per lookup instead of O(delta
    * files); see `EngineConf.keyFpBits`), and the equality predicates push
    * down to the parquet scan where the key-column bloom filters skip
    * non-matching row groups inside the surviving files. The surviving
    * files are read by the final-state rule, with the key filter below any
    * merge. Tombstoned keys return zero rows, like `currentState`. */
  def pointLookup(repo: String, path: String): DataFrame = {
    val head = table.currentSnapshot
    checkLayout(head)
    val payload = payloadAt(head)
    visibleRows(readCells(Seq(keyLookupFiles(head, repo, path)), payload,
      keyFilter = Some(col("repo") === repo && col("path") === path)), payload)
  }

  /** Manifest file selection for a point lookup: the key's hash bucket at
    * `snap` minus every file whose fingerprint bitmap proves the key
    * absent. Bitmaps have no false negatives, so a file containing the key
    * always survives; fingerprint-less files (copy-on-write, compaction
    * outputs, over-full batches) are always read. Driver-side metadata
    * only. */
  private def keyLookupFiles(snap: Option[Icelite.Snapshot], repo: String,
      path: String): List[Icelite.DataFile] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, XxHash64}
    // seed 42 = the fixed seed of the SQL xxhash64 function (bucketCol)
    def hash(parts: String*): Long =
      XxHash64(parts.map(CatLit.create(_, StringType)), 42L).eval(null).asInstanceOf[Long]
    val h = hash(repo, path)
    val bucket = (((h % conf.buckets) + conf.buckets) % conf.buckets).toInt
    // keyFpCol's hash, unreduced: each bitmap reduces it modulo its own
    // width, the writer's keyFpBits, which need not be this engine's
    val fp = hash("kfp", repo, path)
    snap.toList.flatMap(table.bucketListOf(_, bucket)) // targeted: no full-map walk
      .filter(_.keyFp.forall(Icelite.fpMayContain(_, fp)))
  }

  /** Files `pointLookup(repo, path)` would open after bucket + fingerprint
    * pruning (tests/inspection, like `prunedFilesForLsnRange`). */
  def prunedFilesForKey(repo: String, path: String): Seq[String] =
    keyLookupFiles(table.currentSnapshot, repo, path).map(f => table.root.resolve(f.path).toString)

  // ---------------------------------------------------------------- maintenance

  // Maintained chain-length estimate for auto-retention: walking the chain
  // per batch would be O(chain) manifest reads — the exact serial cost the
  // committed-epoch cache eliminated. Initialized with one walk, then
  // incremented per commit; reset to the retained count after each expiry.
  // (Conservative: commits this engine instance did not see only DELAY the
  // next expiry by that many batches — the bound stays amortized.)
  private var chainLenEstimate: Long = -1L

  /** Post-commit maintenance, run after every commit that moves the
    * published head (applyBatch, publishStaged, publishBranch), with `head`
    * the snapshot it published, `touched` the buckets it wrote and
    * `commits` the snapshots it added to the chain. Merge-on-read
    * threshold compaction of the touched buckets, size-tiered when
    * `morMinorRatio` > 0: fold the delta pile while it is small next to
    * the base; full rewrite (with purge) only when it rivals the base or
    * there is no base yet to fold against. Then auto-retention, counting
    * the compaction commits too. A compaction that loses a commit race is
    * NOT a failure of the commit before it: the still-over-threshold
    * buckets re-trigger on the next commit. */
  private def maintain(head: Icelite.Snapshot, touched: Iterable[Int], commits: Int): Unit = {
    var added = commits
    if (table.meta.mergeOnRead && conf.morCompactThreshold > 0) {
      val over = touched.iterator.map(b => b -> table.bucketListOf(head, b))
        .filter(_._2.size >= conf.morCompactThreshold).toMap
      val (major, minor) = over.keySet.partition { b =>
        val base = over(b).filter(_.merged).map(_.rows).sum
        conf.morMinorRatio <= 0 || base == 0 ||
          over(b).filterNot(_.merged).map(_.rows).sum >= conf.morMinorRatio * base
      }
      def run(compaction: => Long): Unit = {
        val before = table.currentSnapshotId
        try { if (compaction != before) added += 1 }
        catch { case _: Icelite.CommitConflictException => }
      }
      if (minor.nonEmpty) run(compactDeltas(Some(minor)))
      if (major.nonEmpty) run(autoCompact(major))
    }
    maybeExpire(added)
  }

  private def maybeExpire(newSnapshots: Int): Unit = {
    if (conf.retainSnapshots <= 0) return
    if (chainLenEstimate < 0) chainLenEstimate = table.snapshotChain.size.toLong
    else chainLenEstimate += newSnapshots
    if (chainLenEstimate > 2L * conf.retainSnapshots) {
      table.expireSnapshots(conf.retainSnapshots)
      if (conf.vacuumAfterExpire) table.vacuum(conf.vacuumGraceMillis)
      chainLenEstimate = conf.retainSnapshots.toLong
    }
  }

  /** Threshold auto-compaction ([[EngineConf.morCompactThreshold]]):
    * [[compact]] restricted to the over-threshold buckets, applying the
    * table's DECLARED sort order (`writeSortCols`/`writeMaxFileRows` —
    * the Iceberg table-sort-order contract): a merge-on-read table never
    * pays the sort on its delta hot path, yet every file that survives
    * maintenance comes out clustered and stats-prunable. */
  private def autoCompact(buckets: Set[Int]): Long = {
    val payload = payloadAt(table.currentSnapshot).fieldNames
    compact(Some(buckets),
      sortBy =
        if (conf.zorderCols.nonEmpty) Nil
        else conf.writeSortCols.filter(payload.contains),
      zorderBy = conf.zorderCols.filter(payload.contains),
      maxFileRows = conf.writeMaxFileRows,
      purgeTombstonesBelowLsn =
        if (conf.tombstonePurgeLagLsn < 0) -1L
        else math.max(0L,
          highWatermark(table.currentSnapshotId) - conf.tombstonePurgeLagLsn))
  }

  /** The Z-order (Morton) clustering key for `compact(zorderBy = cols)` —
    * Delta's OPTIMIZE ZORDER / Iceberg's z-order rewrite strategy. Each
    * column is mapped by a monotone "rank proxy" onto a 65536-cell grid
    * (linear min-max scaling — one small aggregate over the compaction
    * input learns the bounds; maintenance-time only, never the ingest hot
    * path), and the per-column cells are bit-interleaved by the codegen'd
    * [[graft.functions.InterleaveBits]] expression into one long sort key.
    * Sorting by it clusters every named dimension ~sqrt-tight, so after
    * the maxFileRows split a predicate on ANY of the columns prunes files
    * through its harvested statsCols bounds — where a lexicographic
    * `sortBy(a, b)` leaves `b`'s per-file bounds full-width.
    *
    * Monotone proxies per type: numerics/timestamps cast to double;
    * strings take their first 7 UTF-8 bytes as a left-justified big-endian
    * integer (preserves lexicographic order on that prefix — the same
    * bounded-prefix trade Iceberg makes truncating string bounds). Linear
    * scaling is skew-sensitive (a heavy hitter crowds one cell); Delta's
    * range-id variant resists skew at the cost of a per-column sample
    * pass — linear is the deterministic choice and the statsCols pruning
    * it feeds stays SOUND either way (bounds never lie; skew only costs
    * selectivity). Nulls map to cell 0 (they carry no bound anyway). */
  private def zorderKey(cells: DataFrame, cols: Seq[String],
      payload: StructType): Column = {
    graft.functions.VecOps.register(spark)
    def proxy(c: String): Column = payload(c).dataType match {
      case StringType =>
        // left-justified 6.5-byte prefix value: hex preserves byte order,
        // rpad keeps short strings below their extensions, and 13 hex
        // digits span 2^52 — inside a double's 2^53 exact-integer range,
        // so the conv result is exact and near-equal prefixes never tie
        // from rounding (14 digits would exceed it and round the low bits)
        conv(rpad(substring(hex(encode(col(s"$c.v"), "UTF-8")), 1, 13),
          13, "0"), 16, 10).cast("double")
      case _ => col(s"$c.v").cast("double")
    }
    val aggs = cols.flatMap(c =>
      Seq(min(proxy(c)).as(s"__zmn_$c"), max(proxy(c)).as(s"__zmx_$c")))
    // one driver row of 2k doubles — the bounds-learning pass
    val bounds = cells.agg(aggs.head, aggs.tail: _*).collect()(0)
    val codes = cols.zipWithIndex.map { case (c, i) =>
      val mn = Option(bounds.get(2 * i)).fold(0.0)(_.asInstanceOf[Double])
      val mx = Option(bounds.get(2 * i + 1)).fold(mn)(_.asInstanceOf[Double])
      val scaled =
        if (mx > mn) (proxy(c) - lit(mn)) / lit(mx - mn) * lit(65535.0)
        else lit(0.0)
      least(greatest(coalesce(scaled, lit(0.0)), lit(0.0)), lit(65535.0))
        .cast("int")
    }
    graft.functions.VecOps.interleaveBits(codes)
  }

  /** Compaction: rewrite each selected bucket's file list (all buckets by
    * default) into one file (Iceberg's rewrite_data_files). A bucket holds
    * several files after merge-on-read delta appends, salted hot-bucket
    * writes (`writeSaltPerBucket` > 1, one file per salt) or a
    * `writeMaxFileRows` split — compaction folds them back to one merged
    * file per bucket for cheaper state reads. Commits a
    * new snapshot (batchEpoch=-1 — not an ingest epoch); older snapshots
    * keep referencing the old files, so time travel is unaffected and
    * `vacuum` (which walks the whole chain) keeps them until snapshots are
    * expired. Returns the new snapshot id.
    *
    * `sortBy` (Iceberg's rewrite with a SORT ORDER): cluster each bucket's
    * rows by the named payload columns (then key, for stable output) before
    * writing, and `maxFileRows` splits the sorted bucket into several files
    * of at most that many rows — consecutive, so their `sortBy` value
    * ranges are DISJOINT. Combined with `EngineConf.statsCols` covering the
    * same columns, that turns the harvested per-file bounds into a tight
    * skip index: `scanRange` on the sorted column opens ~selectivity
    * × files instead of all of them. The split files are all `merged`
    * (a sequential cut of one key-unique sorted partition), so readers
    * take the bucket as written (the final-state rule on `DataFile`) and
    * point lookups still prune by bucket + parquet key blooms.
    *
    * `zorderBy` (mutually exclusive with `sortBy`): cluster on the MORTON
    * key of 2-4 payload columns instead — see [[zorderKey]] — so after the
    * maxFileRows split a predicate on ANY named column prunes files, not
    * just the lexicographic leading one.
    *
    * `purgeTombstonesBelowLsn` >= 0 additionally DROPS tombstone rows whose
    * delete LSN is below the line — visible state is unchanged (tombstoned
    * keys were already hidden) and value-level change feeds diff states so
    * they are unaffected, but the key's revival-by-late-event contract
    * narrows: an event with an LSN below the line arriving later meets no
    * tombstone and resurrects the key. Only purge below the source's
    * replay lower bound (see `EngineConf.tombstonePurgeLagLsn`). */
  def compact(buckets: Option[Set[Int]] = None, sortBy: Seq[String] = Nil,
      maxFileRows: Long = 0L, purgeTombstonesBelowLsn: Long = -1L,
      zorderBy: Seq[String] = Nil): Long = {
    // CAS pin: compaction is a read-modify-write of whole buckets, so a
    // concurrent append between the read and the replace-commit would be
    // silently folded away — conflict instead (caller/auto-compact simply
    // re-runs later; the orphaned output is vacuum-reclaimable). The read
    // is pinned to the SAME snapshot the CAS expects (read + commit form
    // one atomic unit or conflict).
    val head = table.currentSnapshot
    checkLayout(head)
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "compact: sortBy and zorderBy are mutually exclusive cluster orders")
    val observedParent = head.fold(-1L)(_.snapshotId)
    val all = head.fold(Map.empty[String, List[Icelite.DataFile]])(table.bucketFilesOf)
    val oldSelected: Map[Int, List[Icelite.DataFile]] = all.collect {
      case (b, fs) if buckets.forall(_.contains(b.toInt)) && fs.nonEmpty => b.toInt -> fs
    }
    if (oldSelected.isEmpty) return observedParent
    val selected: Set[Int] = buckets.getOrElse(all.keySet.map(_.toInt))
    val payload = payloadAt(head)
    val allCells = readCells(oldSelected.values, payload)
    // tombstone GC: coalesce(false) so a (theoretical) null op cell is
    // KEPT, never silently purged
    val cells =
      if (purgeTombstonesBelowLsn < 0) allCells
      else allCells.filter(!coalesce(
        col(s"$OpCell.v") === lit("D") &&
          col(s"$OpCell.l") < lit(purgeTombstonesBelowLsn),
        lit(false)))
    // A caller sort order goes before the key (stats clustering beats key
    // pages for the columns it names; see writeBuckets).
    val badSort = (sortBy ++ zorderBy).filterNot(payload.fieldNames.contains)
    require(badSort.isEmpty, s"compact sortBy: not payload columns: $badSort")
    val clusterCols: Seq[Column] =
      if (zorderBy.size >= 2) Seq(zorderKey(cells, zorderBy, payload))
      // one z column degenerates to a plain range sort on it
      else (sortBy ++ zorderBy).map(c => col(s"$c.v"))
    val written = writeBuckets(cells, payload, "compact", selected.size,
      merged = true, keysPerFile = maxBucketRows(oldSelected.values),
      cluster = Some(clusterCols), maxFileRows = maxFileRows)
    val collected = written.files
    // A bucket whose rows ALL purged away writes no parquet output, but the
    // replace-commit only replaces buckets present in the map — an absent
    // bucket would silently KEEP its old (tombstone-only) files. Emit an
    // explicit empty file list for every SELECTED bucket that had files at
    // the pinned snapshot and produced none.
    val bucketFiles =
      if (purgeTombstonesBelowLsn < 0) collected
      else collected ++ oldSelected.keySet
        .filterNot(collected.contains).map(_ -> List.empty[Icelite.DataFile])
    // Was anything ACTUALLY purged? The purge flag makes every change-feed
    // window crossing this commit synthesize vanished-key deletes and (on
    // merge-on-read) abandon the added-files key refinement — flagging a
    // no-op purge would degrade incremental reads forever. Manifest math
    // decides: no old file's LSN range reaches below the line => nothing
    // could drop; final buckets hold key-disjoint final rows, so a
    // row-count delta IS the purge count; live deltas collapse under the
    // merge, so a no-op cannot be proven — stay conservative there.
    val purgedSomething = purgeTombstonesBelowLsn >= 0 && {
      val oldFiles = oldSelected.values.flatten
      val meta = table.meta
      oldFiles.exists(_.minLsn < purgeTombstonesBelowLsn) &&
        (!oldSelected.values.forall(meta.finalState) ||
          oldFiles.map(_.rows).sum != collected.values.flatten.map(_.rows).sum)
    }
    // replace-commit (append=false) even on merge-on-read tables: compaction
    // folds a bucket's delta pile back into one merged file. A purging
    // compaction is flagged on the snapshot: change-feed windows spanning
    // it must synthesize deletes for vanished keys (Snapshot.purge).
    table.commit(-1L, written.schemaId, bucketFiles, Nil, rowDelta = 0,
      expectedParentId = observedParent,
      purge = purgedSomething).snapshotId
  }

  /** MINOR compaction (LSM "minor"/Iceberg-binpack analog of [[compact]]):
    * fold each selected bucket's DELTA files into ONE combined delta file,
    * leaving merged (base) files untouched. The per-column cell merge is
    * associative, commutative and idempotent, so pre-reducing any subset
    * of deltas is exact — read-time LWW over {base, combined} equals LWW
    * over {base, d1..dk}. The point is the cost class: maintenance write
    * work is O(delta rows), not O(bucket rows). At 10^10 events a table's
    * base dwarfs its churn window, so the full rewrite grows with the
    * TABLE while this grows with the CHANGE volume — use it to bound read
    * fan-in (and the per-read LWW width) between much rarer full rewrites,
    * which stay the only way to fold cells into key-unique rows, purge
    * tombstones, or produce stats-prunable merged files.
    *
    * Only buckets holding at least `minInputFiles` delta files are
    * touched. The combined delta keeps everything a delta carries:
    * tombstone cells survive (revival semantics unchanged), LSN stats are
    * re-harvested from the new footer, and the key-fingerprint bitmap is
    * the driver-side OR of the inputs' bitmaps (a union of
    * no-false-negative single-hash blooms is one; dropped if any input
    * lacks one or the union crosses the write path's 25% load cap).
    * Commits CAS-style against the snapshot it read (a concurrent append
    * between read and replace-commit would otherwise be silently folded
    * away — same protection as [[compact]]). Merge-on-read tables only.
    * Returns the new snapshot id (the current one when nothing
    * qualified). */
  def compactDeltas(buckets: Option[Set[Int]] = None,
      minInputFiles: Int = 2): Long = {
    val head = table.currentSnapshot
    checkLayout(head)
    require(table.meta.mergeOnRead, "compactDeltas: merge-on-read tables only")
    require(minInputFiles >= 2, s"minInputFiles must be >= 2, got $minInputFiles")
    val observedParent = head.fold(-1L)(_.snapshotId)
    val selected: Map[Int, List[Icelite.DataFile]] =
      head.fold(Map.empty[String, List[Icelite.DataFile]])(table.bucketFilesOf).collect {
        case (b, fs) if buckets.forall(_.contains(b.toInt)) &&
          fs.count(!_.merged) >= minInputFiles => b.toInt -> fs
      }
    if (selected.isEmpty) return observedParent
    val payload = payloadAt(head)
    val deltas: Map[Int, List[Icelite.DataFile]] =
      selected.map { case (b, fs) => b -> fs.filterNot(_.merged) }
    // JUST the delta files (the read never opens a base file): two or more
    // per bucket, so each bucket is merged
    val cells = readCells(deltas.values, payload)
    // key-sorted like every other maintenance output: combined deltas live
    // until the next rewrite, so they earn page stats + dictionary runs
    val written = writeBuckets(cells, payload, "minor", selected.size, merged = false,
      keysPerFile = maxBucketRows(deltas.values))
    val bucketFiles: Map[Int, List[Icelite.DataFile]] =
      selected.map { case (b, fs) =>
        val fp = fpUnionOf(deltas(b))
        b -> (fs.filter(_.merged) ++
          written.files.getOrElse(b, Nil).map(_.copy(keyFp = fp)))
      }
    table.commit(-1L, written.schemaId, bucketFiles, Nil, rowDelta = 0,
      expectedParentId = observedParent).snapshotId
  }

  /** OR-union of delta files' key-fingerprint bitmaps (see
    * [[Icelite.fpBitmap]]): sound because each input has no false
    * negatives, so neither does the union. None when any input lacks a
    * bitmap (unknown stays unknown), widths disagree (mixed keyFpBits
    * configs), or the union's load crosses the write path's 25% cap
    * (useless before wrong). */
  private def fpUnionOf(inputs: Seq[Icelite.DataFile]): Option[String] = {
    val bms = inputs.map(_.keyFp)
    if (bms.isEmpty || bms.exists(_.isEmpty)) return None
    val arrs = bms.flatten.map(java.util.Base64.getDecoder.decode)
    if (arrs.map(_.length).distinct.size != 1) return None
    val out = new Array[Byte](arrs.head.length)
    arrs.foreach { a =>
      var i = 0
      while (i < out.length) { out(i) = (out(i) | a(i)).toByte; i += 1 }
    }
    val setBits = out.iterator.map(b => Integer.bitCount(b & 0xff)).sum
    if (setBits > out.length * 8 / 4) None
    else Some(java.util.Base64.getEncoder.encodeToString(out))
  }

  /** Bucket-count EVOLUTION (Iceberg's partition evolution): rewrite the
    * whole table under `newBuckets` and flip the layout ATOMICALLY with the
    * snapshot pointer — the new count rides on the snapshot itself and
    * propagates to every descendant, so there is no second metadata file
    * whose update could race a crash (table.json is refreshed only as a
    * load-time hint). The scale lever this exists for: a table created at
    * 2^10 buckets that grew 100× has multi-GB buckets — too coarse for
    * pruning and hot for writes — and the fix must be a single online
    * commit, not a new table + consumer migration.
    *
    * Everything downstream keeps working across the boundary: old snapshots
    * still read/time-travel under their own layout (the rebucket manifest
    * is `full`, so old-layout bucket ids never leak through the parent
    * walk); `changesSince` windows that span the rebucket diff exactly —
    * values did not change, so a pure rebucket feeds NOTHING — with bucket
    * pruning suspended (mixed hash regimes) and the caller's bucket
    * restriction re-applied in the window-end layout; incremental views
    * and mirrors follow via the same suspension (a window's `touched`
    * set is None across the boundary).
    *
    * One COW-style rewrite of the full state, O(table) once — the same
    * cost class as Iceberg's rewrite_data_files after a partition-spec
    * change. Tombstones ride along (they are state). Returns a NEW engine
    * bound to the new layout; THIS instance becomes invalid and every
    * bucket-dependent operation on it fails loudly (checkLayout). */
  def rebucket(newBuckets: Int): CdcEngine = {
    val head = table.currentSnapshot
    checkLayout(head)
    require(newBuckets > 0, "bucket count must be positive")
    if (newBuckets == conf.buckets) return this
    val newConf = conf.copy(buckets = newBuckets)
    // CAS pin: the rewrite reads the WHOLE table at this snapshot and its
    // commit replaces the entire bucket map (manifest forced full), so a
    // concurrent commit landing between the read and the commit would be
    // silently erased — its epoch stays marked committed while its rows
    // vanish. Same protection compact() and rollbackTo carry.
    val snap = head.getOrElse { // empty chain: creation meta is the layout
      table.updateBucketsHint(newBuckets)
      return new CdcEngine(spark, table, newConf)
    }
    val payload = payloadAt(head)
    val all = table.bucketFilesOf(snap)
    val cells = readCells(all.values, payload) // merged cells, tombstones included
    // key-clustered, like compaction
    val written = writeBuckets(cells, payload, "rebucket", newBuckets, merged = true,
      keysPerFile = all.values.flatten.map(_.rows).sum,
      bucket = pmod(xxhash64(keyColumns: _*), lit(newBuckets)).cast(IntegerType))
    table.commit(-1L, written.schemaId, written.files, Nil, rowDelta = 0,
      rebucketTo = newBuckets, expectedParentId = snap.snapshotId)
    new CdcEngine(spark, table, newConf)
  }

  // ---------------------------------------------------------------- write

  /** The one data-file writer. `cells` (cell form, aligned to `payload`) go
    * to a fresh `data/<tag>-<nanos>/__b=N/` directory, one file per bucket:
    * the rows are hash-partitioned on the bucket into at most
    * `spark.sql.shuffle.partitions` write tasks, so each bucket lands whole
    * in one task, and Spark's planned write sorts each task by bucket, so a
    * task writes its buckets' files one after another (a task costs tens
    * of ms to deserialize whatever its rows: at one task per bucket that
    * outweighed the write itself). `salt` > 1 hash-partitions on
    * (bucket, salt slice) instead, spreading a hot bucket over up to
    * `salt` tasks and files — the manifest lists files, not "the file".
    * Rows are sorted within each bucket by `cluster` then key when
    * `cluster` is set (None = no sort, the ingest hot path), files split at
    * `maxFileRows` (0 = no split). Key-column bloom filters let a point
    * lookup skip row groups inside the files of its bucket; each is sized
    * for `keysPerFile` distinct keys, the caller's upper bound on the keys
    * of any one file (an undersized filter only raises its false-positive
    * rate, it never hides a key; unsized, parquet gives every filter 1 MiB).
    *
    * The write goes through [[LocalWrite.options]]: Hadoop's local file
    * system, without its native library, forks `chmod` for every file,
    * checksum file and directory it creates, a fixed wait per bucket file
    * whatever its rows; the options give this write a local file system
    * that sets the same modes through `java.nio`.
    *
    * Maintenance output is key-sorted (Iceberg sort-compaction): ingest
    * writes stay sort-free, but the files that live longest get tight
    * parquet page stats on (repo, path) and better dictionary/RLE runs.
    *
    * The manifest entries come from the parquet FOOTERS of the files just
    * written (driver-side metadata reads, not a Spark job — at 4 jobs per
    * batch the driver's serial job planning caps scaling). MERGED
    * (final-state) files harvest the `statsCols` bounds; merge-on-read
    * deltas never do (see EngineConf.statsCols). `writeMs` times the Spark
    * write, `harvestMs` the schema registration and footer harvest. */
  private def writeBuckets(cells: DataFrame, payload: StructType, tag: String,
      buckets: Int, merged: Boolean, keysPerFile: Long,
      cluster: Option[Seq[Column]] = Some(Nil), maxFileRows: Long = 0L, salt: Int = 1,
      bucket: Column = bucketCol): BucketWrite = {
    val t0 = System.nanoTime()
    val outDir = table.root.resolve("data").resolve(f"$tag-${System.nanoTime()}%x")
    val spread = math.max(1, salt)
    val tasks = math.max(1, math.min(buckets * spread, spark.sessionState.conf.numShufflePartitions))
    val byBucket = cells.withColumn("__b", bucket)
    val parts =
      if (spread > 1)
        byBucket.withColumn(SaltCol, pmod(xxhash64(col("path")), lit(spread)))
          .repartition(tasks, col("__b"), col(SaltCol)).drop(SaltCol)
      else byBucket.repartition(tasks, col("__b"))
    val sorted = cluster.fold(parts)(c =>
      parts.sortWithinPartitions((col("__b") +: (c ++ keyColumns)): _*))
    val ndv = math.max(1L, if (maxFileRows > 0) math.min(keysPerFile, maxFileRows) else keysPerFile)
    val writer = sorted.write.options(LocalWrite.options)
      .option("parquet.bloom.filter.enabled#repo", "true")
      .option("parquet.bloom.filter.enabled#path", "true")
      .option("parquet.bloom.filter.expected.ndv#repo", ndv)
      .option("parquet.bloom.filter.expected.ndv#path", ndv)
    (if (maxFileRows > 0) writer.option("maxRecordsPerFile", maxFileRows) else writer)
      .partitionBy("__b").parquet(outDir.toString)
    val t1 = System.nanoTime()
    val sid = table.ensureSchema(stateSchema(payload))
    val statsCols =
      if (!merged) Nil
      else conf.statsCols.flatMap(c => payload.fields.find(_.name == c))
        .filter(f => StatsSkip.supported(f.dataType)).map(f => f.name -> f.dataType)
    val files = collectBucketFiles(outDir, table, sid,
      spark.sessionState.newHadoopConf(), merged, statsCols)
    BucketWrite(sid, files, (t1 - t0) / 1000000, (System.nanoTime() - t1) / 1000000)
  }

  /** Rows of the largest of these buckets (each given by its files): an
    * upper bound on the distinct keys a rewrite puts in any one file. */
  private def maxBucketRows(buckets: Iterable[Seq[Icelite.DataFile]]): Long =
    buckets.map(_.map(_.rows).sum).maxOption.getOrElse(0L)

  // ---------------------------------------------------------------- misc

  private def appendMetrics(epoch: Long, snapId: Long, events: Long, buckets: Int,
      ms: Long, extra: String): Unit = {
    val line = s"""{"epoch":$epoch,"snapshotId":$snapId,"events":$events,""" +
      s""""buckets":$buckets,"millis":$ms,"eventsPerSec":${if (ms > 0) events * 1000.0 / ms else 0.0}$extra}"""
    val p = table.root.resolve("metrics.jsonl")
    Files.writeString(p, line + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

object CdcEngine {
  val OpCell = "_op"
  val TsCell = "_ts"
  private val SaltCol = "__salt"

  /** What [[CdcEngine.writeBuckets]] wrote: the writer schema id, the
    * per-bucket manifest entries, and the write / footer-harvest times. */
  private final case class BucketWrite(schemaId: Int,
      files: Map[Int, List[Icelite.DataFile]], writeMs: Long, harvestMs: Long)
  /** Multi-writer optimistic concurrency: how many consecutive commit
    * races (CommitConflictException) a copy-on-write applyBatch re-merges
    * through before giving up. Each retry recomputes the merge against the
    * fresh snapshot; the loser's data files are vacuum-grace orphans. */
  private val MaxCommitRetries = 8

  /** Marks a FULL (un-bucket-pruned) state read — current or time-travel —
    * as a candidate for metadata-only global aggregates: [[IceliteMetaAggRule
    * graft.sql.IceliteMetaAggRule]] rewrites `count(*)` / `min` / `max`
    * directly over a tagged read into a precomputed one-row relation when
    * the manifest can answer exactly (see [[CdcEngine.metaCount]]).
    * Carries the engine and the pinned snapshot (None = head). Set by
    * `stateOf` itself, so both SQL reads and `currentState().count()`
    * qualify. */
  val MetaScanTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[
      (CdcEngine, Option[Long])]("icelite.metaScan")

  def cellType(v: DataType): StructType = StructType(Seq(
    StructField("l", LongType, nullable = true),
    StructField("s", IntegerType, nullable = true),
    StructField("v", v, nullable = true)))

  /** On-disk (cell-form) state schema for a payload schema. */
  def stateSchema(payload: StructType): StructType = StructType(
    Seq(
      StructField("repo", StringType, nullable = true),
      StructField("path", StringType, nullable = true),
      StructField(OpCell, cellType(StringType), nullable = true),
      StructField(TsCell, cellType(TimestampType), nullable = true)) ++
      payload.fields.map(f => StructField(f.name, cellType(f.dataType), nullable = true)))

  /** List parquet files written under `dir/__b=N/` as bucket -> manifest
    * entries, harvesting row count and `_op.l` (last-writer LSN) min/max
    * from each parquet FOOTER. Driver-side metadata reads, NOT a Spark job
    * — the same footer pass that produces the read-back row counts yields
    * the file-skipping stats for free. The reads run one after another on
    * the calling thread: once every file shares one set of read options a
    * footer costs under a millisecond (the ~10 ms per file seen before was
    * a Hadoop configuration parsed per footer, not footer I/O), and a
    * 16-thread pool saved ~7 ms of a ~40 ms 64-file harvest (traced
    * replay-cow, 4-core host). */
  private def collectBucketFiles(dir: Path, table: IceliteTable, schemaId: Int,
      hadoopConf: org.apache.hadoop.conf.Configuration, merged: Boolean,
      statsCols: Seq[(String, DataType)])
      : Map[Int, List[Icelite.DataFile]] = {
    // one set of read options for every footer: `open(InputFile)` alone
    // builds a fresh Hadoop Configuration per file, whose first lookup
    // parses core-default.xml again
    val readOptions = org.apache.parquet.HadoopReadOptions.builder(hadoopConf).build()
    val stream = Files.walk(dir)
    val paths =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .toList
      finally stream.close()
    def statsOf(p: Path): Icelite.DataFile = {
      val hp = new org.apache.hadoop.fs.Path(p.toString)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, hadoopConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, readOptions)
      try {
        val rows = r.getRecordCount
        val lsnStats = r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == s"$OpCell.l")
          .map(_.getStatistics)
        val usable = lsnStats.nonEmpty &&
          lsnStats.forall(s => s != null && !s.isEmpty && s.hasNonNullValue)
        val (mn, mx) =
          if (usable)
            (lsnStats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
              lsnStats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
          else (Long.MinValue, Long.MaxValue) // unknown => never skipped
        // visible-row count, same footer, free: a row group whose op-column
        // minimum is above "D" has no tombstones (D orders first among
        // D/I/U), one whose maximum IS "D" is all tombstones; a group that
        // interleaves the two leaves the file undecidable (-1 — readers
        // fall back to scanning). Exact for the common cases metadata-only
        // count needs: delete-free files, and key-sorted compaction output
        // where deletes cluster into their own groups.
        val liveRows: Long = {
          var total = 0L
          var decidable = true
          r.getFooter.getBlocks.asScala.foreach { blk =>
            val op = blk.getColumns.asScala
              .find(_.getPath.toDotString == s"$OpCell.v").map(_.getStatistics)
            op match {
              // a null op cell would be filtered by readers but counted by
              // the bounds alone — require a known zero null count
              case Some(s) if s != null && !s.isEmpty && s.hasNonNullValue &&
                  s.isNumNullsSet && s.getNumNulls == 0 =>
                val mn = StatsSkip.binToString(s.genericGetMin)
                val mx = StatsSkip.binToString(s.genericGetMax)
                if (mn > "D") total += blk.getRowCount
                else if (mx == "D") () // whole group tombstoned: adds 0
                else decidable = false
              case _ => decidable = false
            }
          }
          if (decidable) total else -1L
        }
        // payload-column bounds (cell leaf `<col>.v`), same footer, free.
        // Per column: every chunk must carry usable statistics or the
        // column is left unknown; all chunks null-only => empty bounds
        // ("no values in this file"); a column absent from this writer
        // schema is all-null by definition (schema evolution null-fill).
        val colStats: Map[String, List[String]] =
          if (statsCols.isEmpty) Map.empty
          else {
            val chunksByPath = r.getFooter.getBlocks.asScala
              .flatMap(_.getColumns.asScala)
              .groupBy(_.getPath.toDotString)
            statsCols.flatMap { case (name, dt) =>
              chunksByPath.get(s"$name.v") match {
                case None => Some(name -> Nil) // column not in this file
                case Some(chunks) =>
                  val st = chunks.map(_.getStatistics)
                  if (st.exists(s => s == null || s.isEmpty)) None // unknown
                  else {
                    val nonNull = st.filter(_.hasNonNullValue)
                    if (nonNull.isEmpty) Some(name -> Nil) // all null
                    else {
                      val enc = nonNull.map(s =>
                        StatsSkip.encode(dt, s.genericGetMin, s.genericGetMax))
                      if (enc.exists(_.isEmpty)) None // e.g. over-long string
                      else {
                        val pairs = enc.map(_.get)
                        val lo = pairs.map(_.head)
                          .reduceLeft((a, b) => if (StatsSkip.cmp(dt, a, b) <= 0) a else b)
                        val hi = pairs.map(_.last)
                          .reduceLeft((a, b) => if (StatsSkip.cmp(dt, a, b) >= 0) a else b)
                        Some(name -> List(lo, hi))
                      }
                    }
                  }
              }
            }.toMap
          }
        Icelite.DataFile(table.relativize(p), schemaId, rows, mn, mx,
          merged = merged, liveRows = liveRows,
          colStats = if (colStats.isEmpty) None else Some(colStats))
      } finally r.close()
    }
    paths
      .groupBy { p =>
        val seg = p.getParent.getFileName.toString // "__b=N"
        seg.stripPrefix("__b=").toInt
      }
      .map { case (b, ps) => b -> ps.sortBy(_.toString).map(statsOf) }
  }
}
