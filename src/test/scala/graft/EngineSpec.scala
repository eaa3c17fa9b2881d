package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf, MicroBatchRunner}
import graft.icelite.IceliteTable
import graft.synth.Synth

class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val N = 5000L
  val basePayload = Seq("commit", "lang", "content")

  def newEngine(conf: EngineConf = EngineConf(buckets = 16)): CdcEngine = {
    val dir = SparkTestBase.tmpDir("icelite")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), conf.buckets)
    new CdcEngine(spark, t, conf)
  }

  /** Engine state must equal the naive sequential fold of all events. */
  def assertEquivalent(engine: CdcEngine, allEvents: DataFrame,
      payload: Seq[String] = basePayload): Unit = {
    val oracle = TestOracle.finalState(allEvents.collect().toSeq, payload)
    val got = engine.currentState().collect()
    val gotMap = got.map { r =>
      (r.getString(r.fieldIndex("repo")), r.getString(r.fieldIndex("path"))) -> r
    }.toMap
    assert(gotMap.size === got.length, "duplicate keys in engine state")
    assert(gotMap.keySet === oracle.keySet)
    for ((k, ks) <- oracle) {
      val r = gotMap(k)
      assert(r.getString(r.fieldIndex("_op")) === ks.op, s"op mismatch at $k")
      assert(r.getLong(r.fieldIndex("_lsn")) === ks.lsn, s"lsn mismatch at $k")
      assert(r.getInt(r.fieldIndex("_seq")) === ks.seq, s"seq mismatch at $k")
      for (c <- payload) {
        val got = if (r.isNullAt(r.fieldIndex(c))) null else r.get(r.fieldIndex(c))
        assert(got === ks.cols.getOrElse(c, null), s"column $c mismatch at $k")
      }
      // north-rule per-row invariant: content sha256 equality
      if (payload.contains("content")) {
        val oc = ks.cols.getOrElse("content", null)
        val gotSha = if (r.isNullAt(r.fieldIndex("content_sha256"))) null
          else r.getString(r.fieldIndex("content_sha256"))
        val expSha = if (oc == null) null else TestOracle.sha256Hex(oc.toString)
        assert(gotSha === expSha, s"content sha mismatch at $k")
      }
    }
  }

  test("in-order replay equals naive fold (incl. tombstones, carry-forward)") {
    val ev = Synth.events(spark, N, seed = 1)
    val engine = newEngine()
    new MicroBatchRunner(engine).run(
      Synth.batches(ev, 4, N).zipWithIndex.map { case (b, i) => (i.toLong, b) })
    assertEquivalent(engine, ev)
  }

  test("out-of-order delivery across batches converges to the same state") {
    val ev = Synth.events(spark, N, seed = 2)
    val engine = newEngine()
    val bs = Synth.batches(ev, 5, N, shuffleDelivery = true)
    new MicroBatchRunner(engine).run(bs.zipWithIndex.map { case (b, i) => (i.toLong, b) })
    assertEquivalent(engine, ev)
  }

  test("duplicate rows and re-delivered duplicate batches are no-ops") {
    val ev = Synth.events(spark, N, seed = 3, dupPct = 20)
    val engine = newEngine()
    val bs = Synth.batches(ev, 3, N)
    engine.applyBatch(0, bs(0))
    engine.applyBatch(0, bs(0)) // exact epoch redelivery -> skipped
    engine.applyBatch(1, bs(1))
    val dup = engine.applyBatch(1, bs(1))
    assert(dup.skipped)
    engine.applyBatch(2, bs(2))
    // same batch content under a NEW epoch (at-least-once upstream): the ACI
    // merge must still not change the state
    engine.applyBatch(3, bs(1))
    assertEquivalent(engine, ev)
  }

  test("checkpoint resume: restarted runner skips committed epochs, state intact") {
    val ev = Synth.events(spark, N, seed = 4)
    val engine = newEngine()
    val batches = Synth.batches(ev, 4, N).zipWithIndex.map { case (b, i) => (i.toLong, b) }
    val runner = new MicroBatchRunner(engine)
    runner.run(batches.take(2))
    assert(engine.table.lastEpoch === 1L)
    // "crash", new runner + engine over the same table
    val engine2 = new CdcEngine(spark, IceliteTable.load(engine.table.root.toString),
      engine.conf)
    val runner2 = new MicroBatchRunner(engine2)
    val results = runner2.run(batches)
    assert(results.take(2).forall(_.skipped))
    assert(results.drop(2).forall(!_.skipped))
    assertEquivalent(engine2, ev)
  }

  test("resume from EVERY checkpoint cut point yields the uninterrupted state") {
    val ev = Synth.events(spark, 2000, seed = 12)
    val batches = Synth.batches(ev, 4, 2000).zipWithIndex.map { case (b, i) => (i.toLong, b) }
    for (cut <- 0 to 4) {
      val engine = newEngine(EngineConf(buckets = 8))
      new MicroBatchRunner(engine).run(batches.take(cut))
      // crash: fresh runner + engine over the same table, full replay
      val engine2 = new CdcEngine(spark,
        graft.icelite.IceliteTable.load(engine.table.root.toString), engine.conf)
      val results = new MicroBatchRunner(engine2).run(batches)
      assert(results.take(cut).forall(_.skipped), s"cut=$cut: committed epochs re-applied")
      assertEquivalent(engine2, ev)
    }
  }

  test("runner applies a lower epoch that arrives after a higher one") {
    val ev = Synth.events(spark, 2000, seed = 13)
    val bs = Synth.batches(ev, 3, 2000)
    val runner = new MicroBatchRunner(newEngine(EngineConf(buckets = 8)))
    runner.run(Seq(0L -> bs(0), 2L -> bs(2)))
    val late = runner.run(Seq(1L -> bs(1))).head
    assert(!late.skipped && late.events > 0, "epoch 1 is not in the ledger: it must apply")
    assert(runner.engine.table.committedEpochs === Set(0L, 1L, 2L))
    assertEquivalent(runner.engine, ev)
  }

  test("salted bucket writes produce identical state under hot-key skew") {
    val ev = Synth.events(spark, N, seed = 5, hotPct = 80, repos = 5, pathsPerRepo = 50)
    val plain = newEngine(EngineConf(buckets = 8))
    val salted = newEngine(EngineConf(buckets = 8, writeSaltPerBucket = 2))
    val bs = Synth.batches(ev, 3, N)
    bs.zipWithIndex.foreach { case (b, i) => plain.applyBatch(i, b) }
    bs.zipWithIndex.foreach { case (b, i) => salted.applyBatch(i, b) }
    assertEquivalent(plain, ev)
    assertEquivalent(salted, ev)
  }

  test("mid-stream schema evolution: add column + widen int->long") {
    import org.apache.spark.sql.types._
    val engine = newEngine(EngineConf(buckets = 4))
    def mk(rows: Seq[Row], extra: Seq[StructField]): DataFrame = {
      val schema = StructType(Seq(
        StructField("repo", StringType), StructField("path", StringType),
        StructField("commit", StringType), StructField("lang", StringType),
        StructField("content", StringType), StructField("op", StringType),
        StructField("commit_lsn", LongType), StructField("seq", IntegerType),
        StructField("ts", TimestampType)) ++ extra)
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    }
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // batch 0: base schema
    engine.applyBatch(0, mk(Seq(
      Row("r1", "a.scala", "c1", "scala", "v1", "I", 1L, 0, ts),
      Row("r1", "b.scala", "c2", "scala", "w1", "I", 2L, 0, ts)), Nil))
    // batch 1: adds size:int
    engine.applyBatch(1, mk(Seq(
      Row("r1", "a.scala", "c3", null, "v2", "U", 3L, 0, ts, 100),
      Row("r1", "c.scala", "c4", "scala", "x1", "I", 4L, 0, ts, 7)),
      Seq(StructField("size", IntegerType))))
    // batch 2: widens size to long, carries null content on a.scala
    engine.applyBatch(2, mk(Seq(
      Row("r1", "a.scala", "c5", null, null, "U", 5L, 0, ts, 5000000000L)),
      Seq(StructField("size", LongType))))
    val st = engine.currentState().collect().map { r =>
      r.getString(r.fieldIndex("path")) -> r
    }.toMap
    assert(st.size === 3)
    val a = st("a.scala")
    assert(a.getString(a.fieldIndex("content")) === "v2") // carried through batch 2
    assert(a.getString(a.fieldIndex("lang")) === "scala") // carried from batch 0
    assert(a.getLong(a.fieldIndex("size")) === 5000000000L) // widened
    val b = st("b.scala")
    assert(b.isNullAt(b.fieldIndex("size"))) // old row null-filled for added col
    val c = st("c.scala")
    assert(c.getLong(c.fieldIndex("size")) === 7L) // int value widened on read
    // table schema is now the evolved one
    val sch = engine.table.currentSchema.get
    assert(sch("size").dataType === CdcEngine.cellType(LongType))

    // LATE NARROW batch: an old producer still on size:int, with an lsn
    // between existing ones — value upcast, LWW order respected
    engine.applyBatch(3, mk(Seq(
      Row("r1", "a.scala", "c6", null, null, "U", 4L, 0, ts, 42), // lsn 4 < 5: loses
      Row("r1", "b.scala", "c7", null, null, "U", 6L, 0, ts, 10)), // b gains size
      Seq(StructField("size", IntegerType))))
    val st2 = engine.currentState().collect().map { r =>
      r.getString(r.fieldIndex("path")) -> r
    }.toMap
    assert(st2("a.scala").getLong(st2("a.scala").fieldIndex("size")) === 5000000000L,
      "late narrow write must not beat the newer wide value")
    assert(st2("b.scala").getLong(st2("b.scala").fieldIndex("size")) === 10L)

    // compaction across mixed writer schemas preserves the merged state
    val before = engine.currentState().collect().map(_.toString).sorted
    engine.compact()
    assert(engine.currentState().collect().map(_.toString).sorted === before)
  }

  test("tombstone delete and revival by a later event") {
    val engine = newEngine(EngineConf(buckets = 4))
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = Seq(
      Row("r", "f", "c1", "scala", "body1", "I", 1L, 0, ts),
      Row("r", "g", "c2", "scala", "body2", "I", 2L, 0, ts),
      Row("r", "f", "c3", null, null, "D", 3L, 0, ts),
      Row("r", "f", "c4", null, null, "U", 4L, 0, ts)) // revive, carry columns
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows),
      graft.model.ChangeEvent.schema)
    engine.applyBatch(0, df.filter(col("commit_lsn") <= 3))
    val afterDelete = engine.currentState().collect()
    assert(afterDelete.map(_.getString(1)).toSet === Set("g")) // f tombstoned
    engine.applyBatch(1, df.filter(col("commit_lsn") === 4))
    val revived = engine.currentState().collect().map(r => r.getString(1) -> r).toMap
    assert(revived.keySet === Set("f", "g"))
    assert(revived("f").getString(revived("f").fieldIndex("content")) === "body1")
    assertEquivalent(engine, df)
  }

  test("time travel: stateAt(old snapshot) reproduces the old state and schema") {
    val ev = Synth.events(spark, 2000, seed = 8)
    val engine = newEngine(EngineConf(buckets = 8))
    val bs = Synth.batches(ev, 2, 2000)
    val r0 = engine.applyBatch(0, bs(0))
    val stateAfter0 = engine.currentState().collect().map(_.toString).sorted
    engine.applyBatch(1, bs(1))
    assert(engine.table.currentSnapshotId > r0.snapshotId)
    val travelled = engine.stateAt(r0.snapshotId).collect().map(_.toString).sorted
    assert(travelled === stateAfter0)
    // schema evolution after the snapshot must not leak into the old read
    import org.apache.spark.sql.types._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("rX", "p", "c", "scala", "b", "I", 99999L, 0, ts, 1))),
      StructType(graft.model.ChangeEvent.schema.fields :+ StructField("size", IntegerType)))
    engine.applyBatch(2, extra)
    assert(engine.currentState().columns.contains("size"))
    assert(!engine.stateAt(r0.snapshotId).columns.contains("size"))
  }

  test("vacuum removes orphan data files but never referenced ones") {
    val ev = Synth.events(spark, 1000, seed = 9)
    val engine = newEngine(EngineConf(buckets = 4))
    val bs = Synth.batches(ev, 2, 1000)
    engine.applyBatch(0, bs(0))
    engine.applyBatch(1, bs(1))
    val before = engine.currentState().collect().map(_.toString).sorted
    // plant an orphan (simulates a crash between data write and commit)
    val orphan = engine.table.root.resolve("data").resolve("crashed").resolve("part-0.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.writeString(orphan, "garbage")
    val removed = engine.table.vacuum()
    assert(removed.exists(_.contains("crashed")))
    assert(!java.nio.file.Files.exists(orphan))
    // every referenced file still present; state identical
    engine.table.currentFiles().foreach(f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)), s"lost $f"))
    assert(engine.currentState().collect().map(_.toString).sorted === before)
    // time-travel to the pre-vacuum parent snapshot also still works:
    // vacuum keeps the whole chain's files, not just the head's
    assert(engine.stateAt(0).count() > 0)
  }

  test("expireSnapshots truncates history, keeps exactly-once epochs, vacuum reclaims") {
    val ev = Synth.events(spark, 2000, seed = 14)
    val engine = newEngine(EngineConf(buckets = 4))
    val bs = Synth.batches(ev, 4, 2000)
    bs.zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    val before = engine.currentState().collect().map(_.toString).sorted
    val expired = engine.table.expireSnapshots(keepLast = 2)
    assert(expired === Seq(0L, 1L))
    assert(engine.table.snapshotChain.map(_.snapshotId) === List(2L, 3L))
    // exactly-once bookkeeping survives: re-applying an expired epoch no-ops
    assert(engine.table.committedEpochs === Set(0L, 1L, 2L, 3L))
    assert(engine.applyBatch(0, bs(0)).skipped)
    // files only old snapshots referenced are reclaimed; state intact
    val removed = engine.table.vacuum()
    assert(removed.nonEmpty, "expected expired-only files to be reclaimed")
    assert(engine.currentState().collect().map(_.toString).sorted === before)
    // kept history still time-travels
    assert(engine.stateAt(2L).count() > 0)
  }

  test("compaction folds salted multi-file buckets to one file, state unchanged") {
    val ev = Synth.events(spark, 3000, seed = 10, hotPct = 60, repos = 3, pathsPerRepo = 40)
    val engine = newEngine(EngineConf(buckets = 4, writeSaltPerBucket = 3))
    Synth.batches(ev, 2, 3000).zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    val before = engine.currentState().collect().map(_.toString).sorted
    val filesBefore = engine.table.currentFiles().size
    assert(filesBefore > 4, s"expected salted multi-file buckets, got $filesBefore files")
    val preSnap = engine.table.currentSnapshotId
    engine.compact()
    val filesAfter = engine.table.currentFiles().size
    assert(filesAfter <= 4, s"expected <=1 file per bucket after compact, got $filesAfter")
    assert(engine.currentState().collect().map(_.toString).sorted === before)
    // time travel to the pre-compaction snapshot still reads the old files
    assert(engine.stateAt(preSnap).collect().map(_.toString).sorted === before)
    // compaction snapshot is not an ingest epoch: epoch bookkeeping unaffected
    assert(engine.table.committedEpochs === Set(0L, 1L))
  }

  test("changesSince(snapshot) feeds exactly the keys touched after it, deletes included") {
    val ev = Synth.events(spark, 3000, seed = 16)
    val engine = newEngine(EngineConf(buckets = 8))
    val bs = Synth.batches(ev, 3, 3000)
    engine.applyBatch(0, bs(0))
    val snap0 = engine.table.currentSnapshotId
    engine.applyBatch(1, bs(1))
    engine.applyBatch(2, bs(2))
    // expected: keys whose FINAL lsn (over the whole log) is >= 1000
    // (batches are lsn ranges, so touched-after-snap0 == final lsn past it)
    val oracle = TestOracle.fold(ev.collect().toSeq, basePayload)
      .filter { case (_, ks) => ks.lsn >= 1000 }
    val feed = engine.changesSince(snap0).collect()
    val feedKeys = feed.map(r => (r.getString(0), r.getString(1))).toSet
    assert(feedKeys === oracle.keySet)
    // tombstones are part of the feed (currentState hides them)
    val dOps = feed.filter(_.getString(feed.head.fieldIndex("_op")) == "D")
    assert(dOps.nonEmpty)
    assert(oracle.exists(_._2.op == "D"))
    // full-history feed == everything ever written (hwm of empty prefix = -1)
    assert(engine.changesSince(-1L).count() ===
      TestOracle.fold(ev.collect().toSeq, basePayload).size)
  }

  test("changesSince delivers late batches whose LSNs precede the old watermark") {
    // The replay contract allows out-of-order delivery: a batch can arrive
    // whose LSNs are ALL below the already-committed watermark. A change
    // feed filtered on `_op.l > hwm` (the previous design) silently drops
    // exactly those rows; the snapshot-diff feed must deliver them.
    val ev = Synth.events(spark, 2000, seed = 21)
    val engine = newEngine(EngineConf(buckets = 8))
    val late = ev.filter(col("commit_lsn") < 500)
    val early = ev.filter(col("commit_lsn") >= 500) // delivered FIRST
    engine.applyBatch(0, early)
    val snap = engine.table.currentSnapshotId
    engine.applyBatch(1, late) // late arrival, all lsns below the watermark
    val feed = engine.changesSince(snap).collect()
    val feedKeys = feed.map(r => (r.getString(0), r.getString(1))).toSet
    def keysOf(df: DataFrame) =
      df.select("repo", "path").distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val lateKeys = keysOf(late)
    val onlyLate = lateKeys -- keysOf(early)
    assert(onlyLate.nonEmpty, "test needs keys written only by the late batch")
    // every key the late batch created must be fed (old design: dropped) ...
    assert(onlyLate.subsetOf(feedKeys),
      s"late-only keys missing from feed: ${(onlyLate -- feedKeys).take(5)}")
    // ... and nothing outside the late batch can have changed
    assert(feedKeys.subsetOf(lateKeys))
  }

  test("merge-on-read: replay equals copy-on-write; deltas append; compaction folds") {
    val ev = Synth.events(spark, N, seed = 22)
    val dir = SparkTestBase.tmpDir("mor")
    val morT = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val mor = new CdcEngine(spark, morT, EngineConf(buckets = 8))
    val cow = newEngine(EngineConf(buckets = 8))
    val bs = Synth.batches(ev, 4, N)
    bs.zipWithIndex.foreach { case (b, i) => mor.applyBatch(i, b); cow.applyBatch(i, b) }
    assertEquivalent(mor, ev)
    // delta files ACCUMULATE per bucket (no copy-on-write rewrites)
    val perBucket = mor.table.bucketFilesOf(mor.table.currentSnapshot.get).values.map(_.size)
    assert(perBucket.max >= 3, s"expected accumulated deltas, got $perBucket")
    val before = mor.currentState().collect().map(_.toString).sorted
    assert(cow.currentState().collect().map(_.toString).sorted === before)
    mor.compact()
    assert(mor.table.bucketFilesOf(mor.table.currentSnapshot.get).values.forall(_.size == 1))
    assert(mor.currentState().collect().map(_.toString).sorted === before)
  }

  test("merge-on-read: out-of-order + duplicate delivery converges; auto-compaction bounds deltas") {
    val ev = Synth.events(spark, N, seed = 23, dupPct = 15)
    val dir = SparkTestBase.tmpDir("mor2")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8, morCompactThreshold = 3))
    val bs = Synth.batches(ev, 6, N, shuffleDelivery = true)
    bs.zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    engine.applyBatch(100, bs(2)) // content re-delivery under a fresh epoch
    assertEquivalent(engine, ev)
    val perBucket = engine.table.bucketFilesOf(engine.table.currentSnapshot.get).values.map(_.size)
    assert(perBucket.max <= 3,
      s"auto-compaction must bound per-bucket delta count, got $perBucket")
  }

  test("manifest LSN stats skip delta files for offset-range scans") {
    val ev = Synth.events(spark, N, seed = 24)
    val dir = SparkTestBase.tmpDir("mor3")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    // batches are contiguous LSN ranges -> each delta file has a tight range
    Synth.batches(ev, 4, N).zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    val allFiles = engine.table.currentFiles().size
    val hi = N / 4 - 1
    val pruned = engine.prunedFilesForLsnRange(0, hi)
    assert(pruned.size < allFiles,
      s"expected manifest-level file skipping: $allFiles files, pruned to ${pruned.size}")
    assert(pruned.size <= allFiles / 2, s"narrow range should skip ~3/4 of files")
    val rows = engine.scanLsnRange(0, hi).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(r.fieldIndex("_lsn")) <= hi))
    // the batch-0 slice is exactly the fold of batch-0 events
    assert(rows.length ===
      TestOracle.fold(ev.filter(col("commit_lsn") <= hi).collect().toSeq, basePayload).size)
  }

  test("appendedSince reads ONLY the manifest-diff delta files on merge-on-read") {
    val ev = Synth.events(spark, N, seed = 26)
    val dir = SparkTestBase.tmpDir("mor4")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    val bs = Synth.batches(ev, 4, N)
    engine.applyBatch(0, bs(0))
    engine.applyBatch(1, bs(1))
    val snap = t.currentSnapshotId
    val filesAtSnap = t.currentFiles().size
    engine.applyBatch(2, bs(2))
    engine.applyBatch(3, bs(3))
    // file-level incrementality: the feed reads only the NEW delta files
    val added = engine.filesAddedSince(snap)
    assert(added.size === t.currentFiles().size - filesAtSnap,
      "append feed must read exactly the manifest diff")
    assert(added.size < t.currentFiles().size)
    // content: the merged cell versions of batches 2+3 (physical change log)
    val per = (N + 3) / 4
    val oracle = TestOracle.fold(
      ev.filter(col("commit_lsn") >= 2 * per).collect().toSeq, basePayload)
    val feed = engine.appendedSince(snap).collect()
    assert(feed.map(r => (r.getString(0), r.getString(1))).toSet === oracle.keySet)
    // expired `since` falls back to the full current state
    val full = engine.appendedSince(9999L).count()
    assert(full === TestOracle.fold(ev.collect().toSeq, basePayload).size)
  }

  test("merge-on-read pays the merge shuffle only for multi-file buckets") {
    val ev = Synth.events(spark, 2000, seed = 29)
    val dir = SparkTestBase.tmpDir("mor5")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    Synth.batches(ev, 3, 2000).zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    // delta piles present -> the read plan must merge
    val pre = engine.currentState().queryExecution.executedPlan.toString
    assert(pre.contains("Aggregate"), "multi-file buckets need the LWW merge")
    assertEquivalent(engine, ev)
    engine.compact()
    // fully compacted -> plain scan, no aggregate, same rows
    val post = engine.currentState().queryExecution.executedPlan.toString
    assert(!post.contains("Aggregate"),
      s"compacted merge-on-read read must not shuffle:\n$post")
    assertEquivalent(engine, ev)
  }

  test("pointLookup prunes to one bucket; key blooms are written to parquet") {
    val ev = Synth.events(spark, 2000, seed = 28)
    val engine = newEngine(EngineConf(buckets = 16))
    engine.applyBatch(0, ev)
    // any live (non-tombstoned) key
    val sample = engine.currentState().select("repo", "path").head()
    val (repo, path) = (sample.getString(0), sample.getString(1))
    val got = engine.pointLookup(repo, path)
    assert(got.count() === 1)
    // driver-side bucket hash must agree with the engine's write partitioning
    val full = engine.currentState().filter(col("repo") === repo && col("path") === path)
    assert(got.head().toString === full.head().toString)
    // the read plans over ONE bucket's files, not the table
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("repo"))
    // the same on a merge-on-read bucket holding a base and a delta: the
    // key predicate reaches the parquet scan below the LWW aggregate
    val mor = new CdcEngine(spark, IceliteTable.create(
      s"${SparkTestBase.tmpDir("icelite")}/t", Seq("repo", "path"), 16, mergeOnRead = true),
      EngineConf(buckets = 16))
    mor.applyBatch(0, ev)
    mor.compact()
    mor.applyBatch(1, ev.filter(col("repo") === repo && col("path") === path)
      .withColumn("commit_lsn", col("commit_lsn") + 100000L))
    assert(mor.prunedFilesForKey(repo, path).size === 2)
    val merged = mor.pointLookup(repo, path)
    assert(merged.drop("_lsn").collect().toSeq === got.drop("_lsn").collect().toSeq)
    assert(merged.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.nonEmpty)
    val mp = merged.queryExecution.executedPlan.toString
    assert(mp.contains("PushedFilters") && mp.contains(s"EqualTo(repo,$repo)"), mp)
    // bloom filters present in the written footers for the key columns
    val hc = spark.sessionState.newHadoopConf()
    val f = engine.table.currentFiles().head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), hc))
    try {
      import scala.jdk.CollectionConverters._
      val cols = r.getFooter.getBlocks.get(0).getColumns.asScala
      val keyCols = cols.filter(c =>
        Set("repo", "path").contains(c.getPath.toDotString))
      assert(keyCols.nonEmpty)
      // row-group skipping on key equality needs bloom OR dictionary: at
      // test cardinality parquet-mr dict-encodes the keys and (correctly)
      // skips the redundant bloom — the dictionary page itself filters
      // equality predicates; at scale, high-cardinality keys fall out of
      // dictionary encoding and the enabled bloom takes over
      assert(keyCols.forall(c => c.getBloomFilterOffset >= 0 ||
        c.getEncodings.asScala.exists(_.usesDictionary())),
        "expected bloom filter or dictionary encoding on key columns")
    } finally r.close()
  }

  test("high watermark survives expiration onto a lineage-free compaction snapshot") {
    val ev = Synth.events(spark, 1000, seed = 25)
    val engine = newEngine(EngineConf(buckets = 4))
    Synth.batches(ev, 2, 1000).zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    val hwmBefore = engine.highWatermark(engine.table.currentSnapshotId)
    assert(hwmBefore === 999L)
    engine.compact() // lineage-free snapshot on top
    engine.table.expireSnapshots(keepLast = 1) // re-root ONTO the compaction
    assert(engine.table.snapshotChain.size === 1)
    assert(engine.table.snapshotChain.head.lineage.isEmpty)
    assert(engine.highWatermark(engine.table.currentSnapshotId) === hwmBefore,
      "watermark must be carried across the re-root, not collapse to -1")
    // and the change feed from the current snapshot is empty, not the world
    assert(engine.changesSince(engine.table.currentSnapshotId).count() === 0)
  }

  test("auto-retention bounds the snapshot chain over a long replay") {
    val ev = Synth.events(spark, 3000, seed = 30)
    val dir = SparkTestBase.tmpDir("retain")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8, retainSnapshots = 3))
    val bs = Synth.batches(ev, 12, 3000)
    bs.zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    // chain stays bounded by the hysteresis band, never the full history
    assert(t.snapshotChain.size <= 7,
      s"expected a bounded chain, got ${t.snapshotChain.size}")
    // exactly-once bookkeeping survives every expiry: ALL epochs still no-op
    bs.indices.foreach(i => assert(engine.applyBatch(i, bs(i)).skipped, s"epoch $i"))
    // state and watermark are those of the full replay
    assertEquivalent(engine, ev)
    assert(engine.highWatermark(t.currentSnapshotId) === 2999L)
  }

  test("auto-retention + auto-vacuum bound DISK over a long replay, state intact") {
    val ev = Synth.events(spark, 3000, seed = 52)
    val dir = SparkTestBase.tmpDir("retainvac")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8,
      morCompactThreshold = 4, retainSnapshots = 3,
      vacuumAfterExpire = true, vacuumGraceMillis = 0L))
    val bs = Synth.batches(ev, 12, 3000)
    bs.zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    // every data file on disk is referenced by the retained chain — no
    // superseded compaction/delta garbage survives
    val referenced = t.snapshotChain
      .flatMap(_.bucketDelta.valuesIterator.flatten.map(_.path)).toSet
    val onDisk = {
      val s = java.nio.file.Files.walk(t.root.resolve("data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(t.relativize).toSet
      } finally s.close()
    }
    assert(onDisk === referenced,
      s"unreferenced files on disk: ${(onDisk -- referenced).take(3)}")
    // exactly-once and state survive the expiry+vacuum cycles
    bs.indices.foreach(i => assert(engine.applyBatch(i, bs(i)).skipped, s"epoch $i"))
    assertEquivalent(engine, ev)
  }

  test("engine/table bucket-count mismatch is rejected at construction") {
    val dir = SparkTestBase.tmpDir("buckets")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 16)
    val e = intercept[IllegalArgumentException](
      new CdcEngine(spark, t, EngineConf(buckets = 8)))
    assert(e.getMessage.contains("buckets"))
  }

  test("reserved payload column names are rejected loudly") {
    val engine = newEngine(EngineConf(buckets = 4))
    val bad = Synth.events(spark, 10, seed = 15).withColumn("__b", col("commit_lsn"))
    assertThrows[IllegalArgumentException](engine.applyBatch(0, bad))
    val bad2 = Synth.events(spark, 10, seed = 15).withColumn("_op", col("op"))
    assertThrows[IllegalArgumentException](engine.applyBatch(0, bad2))
    val bad3 = Synth.events(spark, 10, seed = 15).drop("op", "seq")
    val e = intercept[IllegalArgumentException](engine.applyBatch(0, bad3))
    assert(e.getMessage.contains("missing envelope"))
  }

  test("malformed rows (null key/op/lsn) are dropped and excluded from lineage") {
    import org.apache.spark.sql.types._
    val engine = newEngine(EngineConf(buckets = 4))
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = Seq(
      Row("r", "a", "c1", "scala", "x", "I", 1L, 0, ts),
      Row(null, "b", "c2", "scala", "y", "I", 2L, 0, ts), // null key
      Row("r", "c", "c3", "scala", "z", null, 3L, 0, ts), // null op
      Row("r", "d", "c4", "scala", "w", "I", null, null, ts)) // null lsn/seq
    val schema = StructType(graft.model.ChangeEvent.schema.fields.map(_.copy(nullable = true)))
    engine.applyBatch(0, spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))
    val st = engine.currentState().collect()
    assert(st.map(_.getString(1)).toSet === Set("a"))
    val snap = engine.table.currentSnapshot.get
    assert(snap.lineage.map(_.events).sum === 1) // only the valid row counted
  }

  test("windowed changesSince(since, to) replays any historical feed step exactly") {
    for (mor <- Seq(false, true)) {
      val dir = SparkTestBase.tmpDir(s"window-$mor")
      val engine = new CdcEngine(spark,
        IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = mor),
        EngineConf(buckets = 8))
      val ev = Synth.events(spark, 3000, seed = 55)
      val bs = Synth.batches(ev, 3, 3000)
      engine.applyBatch(0, bs(0))
      val s0 = engine.table.currentSnapshotId
      engine.applyBatch(1, bs(1))
      val s1 = engine.table.currentSnapshotId
      // capture the live feed NOW, then commit more on top
      val live = engine.changesSince(s0).collect().map(_.toString).sorted.toSeq
      engine.applyBatch(2, bs(2).withColumn("size", col("commit_lsn") % 7)) // + schema evolution
      // the windowed read reproduces the historical feed byte-for-byte,
      // including the pre-evolution schema (no `size` column)
      val windowed = engine.changesSince(s0, toSnapshotId = s1)
      assert(!windowed.columns.contains("size"),
        "windowed feed leaked a column that did not exist at the window end")
      assert(windowed.collect().map(_.toString).sorted.toSeq === live)
      // stepwise windows tile the full feed's key set
      def keys(df: DataFrame) = df.select("repo", "path").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val s2 = engine.table.currentSnapshotId
      assert(keys(engine.changesSince(s0, toSnapshotId = s1)) ++
        keys(engine.changesSince(s1, toSnapshotId = s2)) ==
        keys(engine.changesSince(s0)) ++ keys(engine.changesSince(s1)))
      // a non-ancestor `to` is rejected, and so is a REVERSED window
      assertThrows[Exception](engine.changesSince(s0, toSnapshotId = 99L).collect())
      val e2 = intercept[IllegalArgumentException](
        engine.changesSince(s1, toSnapshotId = s0))
      assert(e2.getMessage.contains("reversed"))
    }
  }

  test("merge-on-read changesSince (delta-key-restricted) equals copy-on-write changesSince") {
    // the MOR path semi-joins the diff to keys found in added delta files;
    // the COW path diffs whole touched buckets — same logical feed
    val ev = Synth.events(spark, 3000, seed = 47)
    val dir = SparkTestBase.tmpDir("feedeq")
    val cow = new CdcEngine(spark,
      IceliteTable.create(s"$dir/cow", Seq("repo", "path"), 8), EngineConf(buckets = 8))
    val mor = new CdcEngine(spark,
      IceliteTable.create(s"$dir/mor", Seq("repo", "path"), 8, mergeOnRead = true),
      EngineConf(buckets = 8))
    val bs = Synth.batches(ev, 3, 3000)
    cow.applyBatch(0, bs(0)); mor.applyBatch(0, bs(0))
    val snapCow = cow.table.currentSnapshotId
    val snapMor = mor.table.currentSnapshotId
    cow.applyBatch(1, bs(1)); mor.applyBatch(1, bs(1))
    cow.applyBatch(2, bs(2)); mor.applyBatch(2, bs(2))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(mor.changesSince(snapMor)) === rows(cow.changesSince(snapCow)))
    // an empty segment yields an empty feed on both
    assert(mor.changesSince(mor.table.currentSnapshotId).count() === 0)
  }

  test("bootstrap feed (changesSince(-1)) is complete after snapshot expiration") {
    // Buckets written ONLY by expired commits vanish from the surviving
    // chain's lineage. A bootstrap feed that prunes by that lineage silently
    // drops their rows (the ADVICE round-2 defect) — after a re-root the
    // feed must fall back to an unpruned read.
    val engine = newEngine(EngineConf(buckets = 16))
    val ts = lit("2026-01-01 00:00:00").cast("timestamp")
    def batch(repo: String, n: Int) = spark.range(n)
      .select(lit(repo).as("repo"), concat(lit("p"), col("id")).as("path"),
        lit("c").as("commit"), lit("scala").as("lang"), concat(lit("v"), col("id")).as("content"),
        lit("I").as("op"), col("id").as("commit_lsn"), lit(0).as("seq"), ts.as("ts"))
    engine.applyBatch(0, batch("old-repo", 40)) // keys only this commit writes
    engine.applyBatch(1, batch("new-repo", 40))
    val total = engine.changesSince(-1L).count()
    assert(total === 80)
    engine.table.expireSnapshots(keepLast = 1) // re-root: epoch 0 survives only via carriedEpochs
    val boot = engine.changesSince(-1L)
    assert(boot.count() === 80,
      "bootstrap feed lost rows from buckets whose lineage was expired")
    assert(boot.filter(col("repo") === "old-repo").count() === 40)
  }

  test("lineage records source offset ranges per bucket") {
    val ev = Synth.events(spark, 500, seed = 6)
    val engine = newEngine(EngineConf(buckets = 4))
    engine.applyBatch(7, ev)
    val snap = engine.table.currentSnapshot.get
    assert(snap.batchEpoch === 7)
    assert(snap.lineage.nonEmpty)
    assert(snap.lineage.map(_.events).sum === 500)
    assert(snap.lineage.forall(l => l.lsnMin >= 0 && l.lsnMax < 500 && l.lsnMin <= l.lsnMax))
    assert(snap.lineage.map(_.bucket).distinct.size === snap.lineage.size)
  }
}
