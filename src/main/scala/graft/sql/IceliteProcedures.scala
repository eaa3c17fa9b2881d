package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable

/** SQL maintenance surface: Iceberg-style stored procedures, invoked as
  * `CALL ice.system.<proc>(...)` through Spark's DSv2 `ProcedureCatalog`
  * API (SPARK-44167, the extension point Iceberg's own Spark runtime uses
  * for `CALL catalog.system.expire_snapshots(...)` — see the Iceberg Spark
  * procedures docs; the reference operates its tables with the same verbs
  * through engine scripts). `SHOW PROCEDURES IN ice.system` and
  * `DESCRIBE PROCEDURE ice.system.<proc>` work through the same plumbing.
  *
  * Every procedure's first argument is the registered table name
  * ([[IceliteSql.register]]); remaining arguments can be positional or
  * named (`retain_last => 2`). Results come back as ordinary result sets
  * (a `LocalScan` per call — maintenance outputs are metadata-sized:
  * expired ids, reclaimed paths, snapshot pointers — never table data, so
  * driver-local rows are the right cost class even at 10^10-event scale).
  *
  *   - `expire_snapshots(table, older_than_millis | retain_last)` — drop
  *     history, one row per expired snapshot id
  *   - `remove_orphan_files(table, grace_millis, dry_run)` — vacuum; one
  *     row per reclaimed (or, dry-run, reclaimable-with-reason) file
  *   - `rewrite_data_files(table)` — compaction back to one file/bucket
  *   - `rollback_to_snapshot(table, snapshot_id)`
  *   - `create_tag` / `drop_tag`, `create_branch` / `drop_branch`
  *   - `fast_forward(table, branch)` — publish a branch lane to main
  *   - `cherrypick_snapshot(table, snapshot_id)` — publish a staged (WAP)
  *     snapshot
  *   - `rebucket(table, buckets)` — bucket-layout evolution; re-registers
  *     the table under the new layout
  *   - `create_table(name, location, key_cols, buckets, merge_on_read,
  *     stats_cols, columns)` / `register_table(name, location)` /
  *     `drop_table(name, purge)` — the table-lifecycle DDL verbs: create
  *     (optionally pinning a declared payload schema via an empty genesis
  *     commit so DML works before any batch), attach an existing
  *     directory, detach (purge => also delete the files)
  *
  * Engines are looked up at CALL time in the active session's registry, so
  * a procedure always acts on the current table head — same snapshot
  * semantics as the read rule. Writes of table DATA remain engine-only
  * (`applyBatch`); procedures mutate METADATA and file layout, which is
  * exactly the split Iceberg draws.
  */
object IceliteProcedures {
  /** Namespace the procedures live in: `ice.system`. */
  val Namespace = "system"

  private val S = StringType
  private val L = LongType
  private val I = IntegerType
  private val B = BooleanType

  private def in(name: String, dt: DataType, comment: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).comment(comment).build()
  private def inD(name: String, dt: DataType, default: String, comment: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).comment(comment).build()

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private def row(vs: Any*): InternalRow =
    InternalRow.fromSeq(vs.map {
      case s: String => UTF8String.fromString(s)
      case x => x
    })

  /** Driver-local result set of a maintenance call. */
  private final case class ResultScan(out: StructType, data: Seq[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = data.toArray
    override def readSchema(): StructType = out
    override def description(): String = "icelite procedure result"
  }

  private val tableParam =
    in("table", S, "registered table name (IceliteSql.register), with or without the ice. prefix")

  /** One procedure: fixed signature, engine resolved from the ACTIVE
    * session's registry at call time, result rows driver-local. */
  private final class Proc(
      procName: String,
      desc: String,
      params: Seq[ProcedureParameter],
      out: StructType,
      body: (SparkSession, String, CdcEngine, InternalRow) => Seq[InternalRow])
      extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false // mutates table metadata
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val spark = SparkSession.active
        val raw = input.getUTF8String(0).toString
        val tn = raw.toLowerCase.stripPrefix(s"${IceliteSql.Catalog}.")
        val registered = IceliteSql.lookup(spark, tn).getOrElse(IceliteSql.fail(
          s"${IceliteSql.Catalog}.$tn is not a registered icelite table — " +
            "register engines with IceliteSql.register"))
        val engine = IceliteSql.effective(spark, registered)
        val rows = body(spark, tn, engine, input)
        java.util.Collections.singletonList[Scan](ResultScan(out, rows)).iterator()
      }
    }
  }

  /** A procedure that does NOT resolve a registered engine (table
    * lifecycle verbs: the table may not exist or be registered yet). */
  private final class RawProc(
      procName: String,
      desc: String,
      params: Seq[ProcedureParameter],
      out: StructType,
      body: (SparkSession, InternalRow) => Seq[InternalRow])
      extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val rows = body(SparkSession.active, input)
        java.util.Collections.singletonList[Scan](ResultScan(out, rows)).iterator()
      }
    }
  }

  private def stripName(raw: String): String =
    raw.toLowerCase.stripPrefix(s"${IceliteSql.Catalog}.")

  private val procs: Map[String, UnboundProcedure] = Seq[UnboundProcedure](

    new RawProc("create_table",
      "Create a NEW icelite table at `location` and register it as " +
        "ice.<name> in the active session: the SQL-surface DDL verb " +
        "(tables are otherwise created programmatically or by the " +
        "streaming sink's create-if-missing). key_cols is the MERGE key; " +
        "stats_cols opts columns into manifest min/max harvesting " +
        "(file skipping + metadata-only aggregates).",
      Seq(in("name", S, "SQL name to register (with or without the ice. prefix)"),
        in("location", S, "directory for the new table (must not already hold one)"),
        inD("key_cols", S, "'repo,path'", "comma-separated merge key columns"),
        inD("buckets", I, "16", "hash-bucket count of the layout"),
        inD("merge_on_read", B, "false", "true = delta appends + read-time merge"),
        inD("stats_cols", S, "''", "comma-separated payload columns to harvest [min,max] bounds for"),
        inD("columns", S, "''", "payload schema DDL ('lang STRING, content STRING'): pins schema-0 via an empty genesis commit so SQL DML (INSERT/MERGE) works before any batch; empty = schema is write-defined by the first batch")),
      schema("table_name" -> S, "location" -> S, "buckets" -> I),
      (spark, input) => {
        val name = stripName(input.getUTF8String(0).toString)
        if (IceliteSql.lookup(spark, name).nonEmpty)
          IceliteSql.fail(s"create_table: ice.$name is already registered")
        val location = input.getUTF8String(1).toString
        val keys = EngineConf.columnList(input.getUTF8String(2).toString)
        if (keys.isEmpty) IceliteSql.fail("create_table: key_cols must name at least one column")
        val buckets = input.getInt(3)
        val statsCols = EngineConf.columnList(input.getUTF8String(5).toString)
        // validate EVERYTHING before touching disk: a failed CALL must not
        // leave an orphan table that blocks the corrected retry
        val colsDdl = input.getUTF8String(6).toString.trim
        val payloadOpt =
          if (colsDdl.isEmpty) None
          else {
            if (keys != Seq("repo", "path"))
              IceliteSql.fail("create_table: a declared schema requires the " +
                "standard (repo, path) key — custom-key state schemas are " +
                "write-defined")
            try Some(org.apache.spark.sql.types.StructType.fromDDL(colsDdl))
            catch { case e: Exception =>
              IceliteSql.fail(s"create_table: bad columns DDL '$colsDdl': ${e.getMessage}") }
          }
        val t = IceliteTable.create(location, keys, buckets,
          mergeOnRead = input.getBoolean(4))
        payloadOpt.foreach { payload =>
          val sid = t.ensureSchema(CdcEngine.stateSchema(payload))
          t.commit(-1L, sid, Map.empty, Nil, rowDelta = 0) // empty genesis pins schema-0
        }
        IceliteSql.register(spark, name,
          new CdcEngine(spark, t, EngineConf(
            buckets = buckets, statsCols = statsCols)))
        Seq(row(name, location, buckets))
      }),

    new RawProc("register_table",
      "Attach an EXISTING icelite table directory to the active session " +
        "as ice.<name> (the external-table verb): layout and write mode " +
        "come from the table's own metadata.",
      Seq(in("name", S, "SQL name to register"),
        in("location", S, "directory of an existing icelite table"),
        inD("stats_cols", S, "''", "payload columns to harvest stats for on future writes")),
      schema("table_name" -> S, "location" -> S, "buckets" -> I, "snapshot_id" -> L),
      (spark, input) => {
        val name = stripName(input.getUTF8String(0).toString)
        if (IceliteSql.lookup(spark, name).nonEmpty)
          IceliteSql.fail(s"register_table: ice.$name is already registered")
        val t = IceliteTable.load(input.getUTF8String(1).toString)
        val statsCols = EngineConf.columnList(input.getUTF8String(2).toString)
        IceliteSql.register(spark, name,
          new CdcEngine(spark, t, EngineConf(
            buckets = t.currentBuckets, statsCols = statsCols)))
        Seq(row(name, t.root.toString, t.currentBuckets, t.currentSnapshotId))
      }),

    new RawProc("drop_table",
      "Unregister ice.<name> from the active session; purge => true also " +
        "DELETES the table directory (data + metadata, Iceberg's DROP " +
        "TABLE PURGE). Without purge the files stay — register_table " +
        "re-attaches them.",
      Seq(in("name", S, "registered table name"),
        inD("purge", B, "false", "also delete the table directory from disk")),
      schema("table_name" -> S, "purged" -> B),
      (spark, input) => {
        val name = stripName(input.getUTF8String(0).toString)
        val registered = IceliteSql.lookup(spark, name).getOrElse(IceliteSql.fail(
          s"drop_table: ice.$name is not registered"))
        val purge = input.getBoolean(1)
        IceliteSql.unregister(spark, name)
        if (purge)
          graft.icelite.Icelite.deleteTree(registered.table.root)
        Seq(row(name, purge))
      }),
    new Proc("expire_snapshots",
      "Drop retained history: pass exactly one of older_than_millis (expire " +
        "snapshots committed strictly before the cutoff) or retain_last " +
        "(keep the newest N). Exactly-once bookkeeping and the high " +
        "watermark survive expiry via the re-rooted manifest.",
      Seq(tableParam,
        inD("older_than_millis", L, "-1", "expire snapshots committed before this epoch-millis cutoff"),
        inD("retain_last", I, "-1", "keep only the newest N snapshots")),
      schema("expired_snapshot_id" -> L),
      (_, _, engine, input) => {
        val older = input.getLong(1)
        val retain = input.getInt(2)
        if ((older >= 0) == (retain >= 0))
          IceliteSql.fail("expire_snapshots: pass exactly one of older_than_millis / retain_last")
        val ids = if (older >= 0) engine.table.expireOlderThan(older)
                  else engine.table.expireSnapshots(retain)
        ids.map(row(_))
      }),

    new Proc("remove_orphan_files",
      "Vacuum: delete files under the table root no retained snapshot, tag, " +
        "branch or staged (WAP) snapshot references. grace_millis excludes " +
        "recently-written files (in-flight writers); dry_run lists instead " +
        "of deleting, with a reason per file.",
      Seq(tableParam,
        inD("grace_millis", L, "-1", "ignore files newer than this; -1 = the engine's configured grace"),
        inD("dry_run", B, "false", "list reclaimable files instead of deleting")),
      schema("location" -> S, "note" -> S),
      (_, _, engine, input) => {
        val g = input.getLong(1)
        val grace = if (g >= 0) g else engine.conf.vacuumGraceMillis
        if (input.getBoolean(2))
          engine.table.vacuumDryRun(grace).map { case (p, why) => row(p, why) }
        else engine.table.vacuum(grace).map(row(_, "deleted"))
      }),

    new Proc("rewrite_data_files",
      "Compaction: rewrite every bucket's file list into one key-sorted " +
        "file (Iceberg's rewrite_data_files). Time travel keeps the old " +
        "files until snapshots are expired and vacuumed. sort_by (comma-" +
        "separated payload columns — Iceberg's rewrite under a SORT ORDER) " +
        "clusters each bucket by those columns and max_file_rows splits it " +
        "into range-disjoint files, turning the engine's statsCols bounds " +
        "into a file-skip index for scanRange.",
      Seq(tableParam,
        inD("sort_by", S, "''", "payload columns to cluster each bucket by (comma-separated; empty = key sort only)"),
        inD("max_file_rows", L, "0", "split each bucket into files of at most this many rows (0 = one file per bucket)"),
        inD("purge_tombstones_below_lsn", L, "-1", "also drop tombstone rows deleted below this LSN (tombstone GC; only purge below the source's replay lower bound — a later sub-line event would resurrect the key)"),
        inD("zorder_by", S, "''", "cluster each bucket on the Z-curve of these 2-4 payload columns instead of sort_by (Delta's OPTIMIZE ZORDER BY): predicates on ANY named column prune the split files"),
        inD("strategy", S, "'full'", "'full' = rewrite whole buckets (default); 'binpack' = MINOR compaction on merge-on-read tables — fold each bucket's delta files into one combined delta, base files untouched, write work O(delta rows) not O(bucket rows)"),
        inD("min_input_files", I, "2", "binpack only: skip buckets with fewer delta files than this")),
      schema("snapshot_id" -> L, "files_before" -> I, "files_after" -> I),
      (_, _, engine, input) => {
        def cols(ord: Int) = EngineConf.columnList(input.getUTF8String(ord).toString)
        val before = engine.table.currentFiles().size
        val sid = input.getUTF8String(5).toString match {
          case "full" =>
            engine.compact(sortBy = cols(1), maxFileRows = input.getLong(2),
              purgeTombstonesBelowLsn = input.getLong(3), zorderBy = cols(4))
          case "binpack" =>
            require(cols(1).isEmpty && cols(4).isEmpty && input.getLong(3) < 0,
              "binpack folds deltas as-is: sort_by/zorder_by/purge need a full rewrite")
            engine.compactDeltas(minInputFiles = input.getInt(6))
          case other =>
            throw new IllegalArgumentException(
              s"strategy must be 'full' or 'binpack', got '$other'")
        }
        Seq(row(sid, before, engine.table.currentFiles().size))
      }),

    new Proc("rollback_to_snapshot",
      "Point main at an ancestor snapshot. Re-delivering a rolled-back " +
        "epoch afterwards is still a no-op (exactly-once bookkeeping " +
        "survives the rollback).",
      Seq(tableParam, in("snapshot_id", L, "ancestor snapshot to roll back to")),
      schema("previous_snapshot_id" -> L, "current_snapshot_id" -> L),
      (_, _, engine, input) => {
        val prev = engine.table.currentSnapshotId
        Seq(row(prev, engine.table.rollbackTo(input.getLong(1)).snapshotId))
      }),

    new Proc("create_tag",
      "Pin a snapshot under an immutable name (default: the current head). " +
        "Tagged snapshots survive expiry; SQL resolves tags via VERSION AS OF.",
      Seq(tableParam, in("tag", S, "tag name"),
        inD("snapshot_id", L, "-1", "snapshot to tag; -1 = current head")),
      schema("tag" -> S, "snapshot_id" -> L),
      (_, _, engine, input) => {
        val tag = input.getUTF8String(1).toString
        Seq(row(tag, engine.tagSnapshot(tag, input.getLong(2))))
      }),

    new Proc("drop_tag", "Remove a tag (its snapshot becomes expirable).",
      Seq(tableParam, in("tag", S, "tag name")),
      schema("dropped" -> B),
      (_, _, engine, input) =>
        Seq(row(engine.table.dropTag(input.getUTF8String(1).toString)))),

    new Proc("create_branch",
      "Fork an isolated write lane at a snapshot (default: the current " +
        "head). Write to it with CdcEngine.applyBatchToBranch; publish " +
        "with fast_forward.",
      Seq(tableParam, in("branch", S, "branch name"),
        inD("snapshot_id", L, "-1", "fork point; -1 = current head")),
      schema("branch" -> S, "fork_snapshot_id" -> L),
      (_, _, engine, input) => {
        val b = input.getUTF8String(1).toString
        Seq(row(b, engine.createBranch(b, input.getLong(2))))
      }),

    new Proc("drop_branch",
      "Remove a branch ref (lane snapshots become expirable; use " +
        "CdcEngine.abandonBranch to also reclaim the lane's files).",
      Seq(tableParam, in("branch", S, "branch name")),
      schema("dropped" -> B),
      (_, _, engine, input) =>
        Seq(row(engine.table.dropBranch(input.getUTF8String(1).toString)))),

    new Proc("fast_forward",
      "Publish a branch lane: fast-forward main to the branch head (one " +
        "atomic pointer write), then run the maintenance the lane deferred. " +
        "Conflicts if main advanced since the fork.",
      Seq(tableParam, in("branch", S, "branch to publish")),
      schema("previous_snapshot_id" -> L, "current_snapshot_id" -> L),
      (_, _, engine, input) => {
        val prev = engine.table.currentSnapshotId
        Seq(row(prev, engine.publishBranch(input.getUTF8String(1).toString)))
      }),

    new Proc("cherrypick_snapshot",
      "Publish a staged (write-audit-publish) snapshot onto main. " +
        "Conflicts if main advanced past the staged parent.",
      Seq(tableParam, in("snapshot_id", L, "staged snapshot id to publish")),
      schema("source_snapshot_id" -> L, "current_snapshot_id" -> L),
      (_, _, engine, input) => {
        val sid = input.getLong(1)
        Seq(row(sid, engine.publishStaged(sid)))
      }),

    new Proc("rebucket",
      "Bucket-layout evolution (Iceberg's partition evolution): rewrite the " +
        "table under a new bucket count in one online commit and re-register " +
        "the SQL name under the new layout. Old snapshots still time-travel " +
        "under their own layout; change feeds across the boundary diff exactly.",
      Seq(tableParam, in("buckets", I, "new bucket count")),
      schema("snapshot_id" -> L, "buckets" -> I),
      (spark, tn, engine, input) => {
        val n = input.getInt(1)
        val next = engine.rebucket(n)
        IceliteSql.register(spark, tn, next)
        Seq(row(next.table.currentSnapshotId, n))
      })
  ).map(p => p.name -> p).toMap

  /** Stable listing order for SHOW PROCEDURES. */
  private[sql] def names: Seq[String] = procs.keys.toSeq.sorted

  private[sql] def load(name: String): Option[UnboundProcedure] =
    procs.get(name.toLowerCase)
}
