package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** Inspection metadata tables (Iceberg `table.snapshots` / `.history` /
  * `.files` / `.partitions` / `.refs` + queryable lineage): every table must
  * agree with the manifests and the physical data it describes, through the
  * full lifecycle — ingest, compaction, tags, branches, restore, rebucket. */
class InspectSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("copy-on-write: snapshots/files/partitions/lineage agree with manifests and disk") {
    val dir = SparkTestBase.tmpDir("inspect-cow")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    val ev = Synth.events(spark, 2000, seed = 11)
    Synth.batches(ev, 4, 2000).zipWithIndex.foreach { case (b, i) =>
      engine.applyBatch(i.toLong, b)
    }
    val insp = engine.inspect

    // snapshots: one row per chain snapshot, all merge commits, epochs intact
    val snaps = insp.snapshots.orderBy("snapshot_id").collect()
    assert(snaps.length === t.snapshotChain.size)
    assert(snaps.forall(_.getAs[String]("kind") == "merge"))
    assert(snaps.map(_.getAs[Long]("epoch")).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(snaps.head.isNullAt(snaps.head.fieldIndex("parent_id")))
    assert(snaps.tail.map(_.getAs[Long]("parent_id")).toSeq ===
      snaps.init.map(_.getAs[Long]("snapshot_id")).toSeq)
    // applied_events is the cumulative merge counter
    assert(snaps.last.getAs[Long]("applied_events") === 2000L)
    assert(snaps.forall(_.getAs[Int]("effective_buckets") == 8))

    // files: every listed file exists, stats match the physical table state
    val files = insp.files()
    val fileRows = files.collect()
    assert(fileRows.nonEmpty)
    assert(fileRows.forall(r => Files.isRegularFile(
      Paths.get(s"$dir/t").resolve(r.getAs[String]("file_path")))))
    assert(fileRows.forall(_.getAs[String]("origin") == "ingest"))
    assert(fileRows.forall(r => r.getAs[Long]("size_bytes") > 0L))
    assert(fileRows.map(_.getAs[Int]("bucket")).toSet.subsetOf((0 until 8).toSet))
    // copy-on-write holds exactly one merged row per key (tombstones included)
    assert(files.agg(sum("rows")).head().getLong(0) === engine.currentCells().count())
    // live_rows, where the footer decided it, never exceeds rows and sums
    // to at most the visible state (undecided files are None, not a lie)
    val decided = files.filter(col("live_rows").isNotNull)
    assert(decided.filter(col("live_rows") > col("rows")).count() === 0L)
    // LSN stats cover the full applied range
    assert(files.agg(min("min_lsn")).head().getLong(0) >= 0L)
    assert(files.agg(max("max_lsn")).head().getLong(0) <= 1999L)

    // partitions: exact rollup of files
    val parts = insp.partitions()
    assert(parts.agg(sum("files")).head().getLong(0) === files.count())
    assert(parts.agg(sum("rows")).head().getLong(0) ===
      files.agg(sum("rows")).head().getLong(0))

    // lineage: merge commits account for every applied event exactly once
    val lin = insp.lineage
    assert(lin.agg(sum("events")).head().getLong(0) === 2000L)
    assert(lin.select("snapshot_id").distinct().count() === 4L)
    // per-commit lineage agrees with the snapshots counter deltas
    val perSnap = lin.groupBy("snapshot_id").agg(sum("events").as("ev"))
      .orderBy("snapshot_id").collect().map(_.getAs[Long]("ev"))
    val deltas = snaps.map(_.getAs[Long]("applied_events")).toSeq
      .scanLeft(0L)((_, c) => c).sliding(2).map(p => p(1) - p(0)).toSeq
    assert(perSnap.toSeq === deltas)

    // metrics journal: one row per commit, epochs intact
    val met = insp.metrics
    assert(met.count() === 4L)
    assert(met.select("epoch").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 2L, 3L))
    assert(met.columns.contains("eventsPerSec"))

    // time travel: files at the first snapshot describe that snapshot only
    val firstId = snaps.head.getAs[Long]("snapshot_id")
    val oldFiles = insp.files(firstId)
    assert(oldFiles.select("snapshot_id").distinct().head().getLong(0) === firstId)
    assert(oldFiles.agg(sum("rows")).head().getLong(0) <
      files.agg(sum("rows")).head().getLong(0))
  }

  test("refs and history track tags, branches and restore through the lifecycle") {
    val dir = SparkTestBase.tmpDir("inspect-refs")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    val ev = Synth.events(spark, 1500, seed = 23)
    val batches = Synth.batches(ev, 3, 1500)
    engine.applyBatch(0L, batches(0))
    val v1 = engine.tagSnapshot("v1")
    engine.applyBatch(1L, batches(1))
    engine.createBranch("lane")
    engine.applyBatchToBranch(100L, batches(2), "lane")
    val insp = engine.inspect

    // refs: main + tag + branch, each at the right head
    val refs = insp.refs.collect().map(r => (r.getAs[String]("name"),
      r.getAs[String]("ref_type"), r.getAs[Long]("snapshot_id"))).toSet
    assert(refs.contains(("main", "branch", t.currentSnapshotId)))
    assert(refs.contains(("v1", "tag", v1)))
    assert(refs.contains(("lane", "branch", t.branchHead("lane"))))

    // history: main chain is current ancestry; the unpublished lane is not
    val hist = insp.history.collect()
    val mainIds = t.snapshotChain.map(_.snapshotId).toSet
    assert(hist.filter(_.getAs[Boolean]("is_current_ancestor"))
      .map(_.getAs[Long]("snapshot_id")).toSet === mainIds)
    val laneRows = hist.filter(_.getAs[String]("ref") == "lane")
    assert(laneRows.nonEmpty)
    assert(laneRows.forall(!_.getAs[Boolean]("is_current_ancestor")))
    assert(laneRows.map(_.getAs[Long]("snapshot_id")).toSet ===
      (t.chainFrom(t.branchHead("lane")).map(_.snapshotId).toSet -- mainIds))

    // restore: rollbackTo surfaces as kind=restore with restore_of set
    val target = t.snapshotChain.head.snapshotId
    t.rollbackTo(target)
    val last = engine.inspect.snapshots.orderBy(desc("snapshot_id")).head()
    assert(last.getAs[String]("kind") === "restore")
    assert(last.getAs[Long]("restore_of") === target)
  }

  test("merge-on-read: delta fingerprints and compaction origins are visible") {
    val dir = SparkTestBase.tmpDir("inspect-mor")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    val ev = Synth.events(spark, 2000, seed = 37)
    Synth.batches(ev, 4, 2000).zipWithIndex.foreach { case (b, i) =>
      engine.applyBatch(i.toLong, b)
    }
    val insp = engine.inspect

    // before compaction: the delta pile is visible — multiple files per
    // bucket, key fingerprints on every delta, more physical rows than keys
    val before = insp.files()
    assert(before.filter(col("has_key_fp")).count() === before.count())
    assert(before.agg(sum("rows")).head().getLong(0) >= engine.currentCells().count())
    val deltasPerBucket = insp.partitions().agg(max("delta_files")).head().getLong(0)
    assert(deltasPerBucket > 1L)

    engine.compact()
    val after = engine.inspect

    // the compaction commit is a maintenance snapshot, not an ingest epoch
    val last = after.snapshots.orderBy(desc("snapshot_id")).head()
    assert(last.getAs[String]("kind") === "maintenance")
    assert(last.isNullAt(last.fieldIndex("epoch")))

    // after: one merged, fingerprint-less, compact-origin file set whose
    // physical rows equal the merged key count
    val files = after.files()
    assert(files.filter(col("origin") === "compact").count() === files.count())
    assert(files.filter(col("has_key_fp")).count() === 0L)
    assert(files.agg(sum("rows")).head().getLong(0) === engine.currentCells().count())
    assert(after.partitions().agg(sum("delta_files")).head().getLong(0) === 0L)
  }

  test("rebucket surfaces as a layout-evolution commit with rebucket-origin files") {
    val dir = SparkTestBase.tmpDir("inspect-rebucket")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 4)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 4))
    val ev = Synth.events(spark, 800, seed = 53)
    engine.applyBatch(0L, ev)
    val engine2 = engine.rebucket(16)
    val insp = engine2.inspect

    val snaps = insp.snapshots.orderBy("snapshot_id").collect()
    assert(snaps.map(_.getAs[String]("kind")).toSeq === Seq("merge", "rebucket"))
    assert(snaps.map(_.getAs[Int]("effective_buckets")).toSeq === Seq(4, 16))

    val files = insp.files()
    assert(files.filter(col("origin") === "rebucket").count() === files.count())
    assert(files.select("bucket").collect().map(_.getInt(0)).toSet
      .subsetOf((0 until 16).toSet))
    assert(files.agg(sum("rows")).head().getLong(0) === engine2.currentCells().count())

    // the rebucket kind SURVIVES a chain re-root: once expiry makes the
    // rebucket commit the root there is no parent to compare layouts
    // against — the persisted marker, not adjacency, must classify it
    engine2.applyBatch(1L, Synth.events(spark, 400, seed = 54))
    engine2.table.expireSnapshots(keepLast = 2)
    val rootKinds = engine2.inspect.snapshots.orderBy("snapshot_id")
      .collect().map(_.getAs[String]("kind")).toSeq
    assert(rootKinds === Seq("rebucket", "merge"))
  }

  test("orphans is an exact vacuum dry-run; register exposes the SQL surface") {
    val dir = SparkTestBase.tmpDir("inspect-orphans")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    val ev = Synth.events(spark, 1600, seed = 71)
    Synth.batches(ev, 2, 1600).zipWithIndex.foreach { case (b, i) =>
      engine.applyBatch(i.toLong, b)
    }
    val insp = engine.inspect

    // with the full chain retained every DATA file is referenced: the only
    // reclaimable entries are the parquet writer's side-cars (_SUCCESS,
    // .crc), which vacuum sweeps and the dry-run must therefore report
    val preOrph = insp.orphans().collect()
    assert(preOrph.forall(r =>
      !r.getAs[String]("file_path").endsWith(".parquet")))

    // expiring the first snapshot strands its copy-on-write pre-images
    t.expireSnapshots(keepLast = 1)
    val orph = insp.orphans().collect()
    assert(orph.nonEmpty)
    assert(orph.forall(r => r.getAs[String]("kind") == "data" ||
      r.getAs[String]("kind") == "manifest"))
    // expiry stranded real parquet pre-images, not just writer side-cars
    val strandedParquet = orph.filter(_.getAs[String]("file_path").endsWith(".parquet"))
    assert(strandedParquet.nonEmpty)
    assert(strandedParquet.forall(_.getAs[Long]("size_bytes") > 0L))
    assert(orph.forall(r => Files.isRegularFile(
      Paths.get(s"$dir/t").resolve(r.getAs[String]("file_path")))))
    // live files never appear in the orphan report
    val live = insp.files().collect().map(_.getAs[String]("file_path")).toSet
    val predicted = orph.map(_.getAs[String]("file_path")).toSet
    assert(predicted.intersect(live).isEmpty)

    // grace protects young files — every file here was written seconds ago
    val grace = 3600000L
    assert(insp.orphans(grace).count() === 0L)
    // an audit-then-delete flow anchors BOTH calls at one asOf, so the
    // grace window cannot drift between the audited report and the delete;
    // anchoring at now+2*grace makes everything eligible (cutoff > now),
    // which must agree with the zero-grace report
    val asOf = System.currentTimeMillis() + 2 * grace
    assert(insp.orphans(grace, asOf).collect()
      .map(_.getAs[String]("file_path")).toSet === predicted)

    // the dry run IS vacuum's delete set — same code path, proven equal
    val deleted = t.vacuum(grace, asOf).toSet
    assert(deleted === predicted)
    assert(insp.orphans().count() === 0L)
    // and vacuum touched nothing the report did not name
    assert(insp.files().collect().forall(r => Files.isRegularFile(
      Paths.get(s"$dir/t").resolve(r.getAs[String]("file_path")))))

    // register: the whole surface is one spark.sql away
    insp.register("it")
    assert(spark.sql("SELECT count(*) FROM it_snapshots").head().getLong(0) === 1L)
    assert(spark.sql("SELECT sum(rows) FROM it_partitions").head().getLong(0) ===
      engine.currentCells().count())
    assert(spark.sql(
      "SELECT count(*) FROM it_refs WHERE name = 'main'").head().getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM it_orphans").head().getLong(0) === 0L)
    assert(spark.sql("SELECT max(lsn_max) FROM it_lineage").head().getLong(0) <= 1599L)
  }

  test("empty table yields empty, well-typed inspection tables") {
    val dir = SparkTestBase.tmpDir("inspect-empty")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    val insp = engine.inspect
    assert(insp.snapshots.count() === 0L)
    assert(insp.history.count() === 0L)
    assert(insp.refs.count() === 0L)
    assert(insp.files().count() === 0L)
    assert(insp.partitions().count() === 0L)
    assert(insp.lineage.count() === 0L)
    assert(insp.metrics.count() === 0L)
    assert(insp.orphans().count() === 0L)
    // schema is stable even when empty
    assert(insp.files().columns.contains("origin"))
  }
}
