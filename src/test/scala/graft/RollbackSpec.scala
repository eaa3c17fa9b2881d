package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf, FeedConsumer, IncrementalView}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** rollbackTo (Delta-style RESTORE as a new commit): bad-batch recovery.
  * Contract: metadata-only, history-preserving, exactly-once-preserving —
  * and every incremental reader (change feeds, feed-consumer mirrors,
  * incremental views) FOLLOWS the rollback, including the removal of keys
  * that only existed inside the rolled-back span. */
class RollbackSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def mkEngine(name: String, mor: Boolean): CdcEngine = {
    val dir = SparkTestBase.tmpDir(name)
    new CdcEngine(spark,
      IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = mor),
      EngineConf(buckets = 8))
  }

  private def canon(e: CdcEngine): Seq[String] =
    e.currentState().collect().map(_.toString).sorted.toSeq

  private def visible(e: CdcEngine): Seq[String] = {
    val df = e.currentState()
    val cols = df.columns.filterNot(c => c == "_lsn" || c == "_seq").sorted
    df.select(cols.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  test("restore reverts visible state, keeps history, preserves exactly-once") {
    val engine = mkEngine("rb-basic", mor = false)
    val bs = Synth.batches(Synth.events(spark, 3000, seed = 41), 3, 3000)
    engine.applyBatch(0, bs(0)); engine.applyBatch(1, bs(1))
    val goodSnap = engine.table.currentSnapshotId
    val goodState = canon(engine)
    val goodFiles = engine.table.currentFiles().toSet
    engine.applyBatch(2, bs(2)) // the "bad" batch
    val badSnap = engine.table.currentSnapshotId
    val badState = canon(engine)
    assert(badState !== goodState)

    val restored = engine.table.rollbackTo(goodSnap)
    assert(restored.restoreOf === goodSnap)
    // visible state is exactly the target snapshot's
    assert(canon(engine) === goodState)
    // metadata-only: the restore wrote no data files — it re-lists the
    // target's exact file set
    assert(engine.table.currentFiles().toSet === goodFiles)
    // history-preserving: the bad snapshot still time-travels
    assert(engine.stateAt(badSnap).collect().map(_.toString).sorted.toSeq === badState)
    // exactly-once: re-delivering the SAME bad batch is a no-op
    val redo = engine.applyBatch(2, bs(2))
    assert(redo.skipped, "rolled-back epoch must stay committed (no re-apply)")
    assert(canon(engine) === goodState)
    // a correction arrives as a NEW epoch and applies normally
    val fix = engine.applyBatch(3, bs(2).withColumn("commit_lsn", col("commit_lsn") + lit(10000)))
    assert(!fix.skipped)
    assert(engine.table.currentSnapshot.get.batchEpoch === 3L)
    assert(canon(engine) !== goodState)
  }

  test("rollback target must be an ancestor") {
    val engine = mkEngine("rb-guard", mor = false)
    engine.applyBatch(0, Synth.events(spark, 500, seed = 42))
    intercept[IllegalArgumentException](engine.table.rollbackTo(99L))
    intercept[IllegalArgumentException](engine.table.rollbackTo(-1L))
  }

  for (mor <- Seq(false, true)) {
    val label = if (mor) "merge-on-read" else "copy-on-write"
    test(s"$label: feed-consumer mirror follows a rollback (incl. vanished keys)") {
      val dir = SparkTestBase.tmpDir(s"rb-feed-$mor")
      val src = new CdcEngine(spark,
        IceliteTable.create(s"$dir/src", Seq("repo", "path"), 8, mergeOnRead = mor),
        EngineConf(buckets = 8))
      val mir = new CdcEngine(spark,
        IceliteTable.create(s"$dir/mirror", Seq("repo", "path"), 8),
        EngineConf(buckets = 8))
      val consumer = new FeedConsumer(src, mir)

      src.applyBatch(0, Synth.events(spark, 2000, seed = 43))
      consumer.sync()
      val goodSnap = src.table.currentSnapshotId
      // bad batch: updates existing keys AND inserts brand-new keys (seed 44
      // draws from a mostly-disjoint key set) — the new keys must VANISH
      // from the mirror after the rollback syncs through
      src.applyBatch(1, Synth.events(spark, 2000, seed = 44)
        .withColumn("commit_lsn", col("commit_lsn") + lit(5000)))
      consumer.sync()
      val badKeys = mir.currentState().count()
      src.table.rollbackTo(goodSnap)
      assert(consumer.sync() > 0, "rollback must produce feed rows")
      assert(visible(mir) === visible(src), "mirror diverged after rollback")
      assert(mir.currentState().count() < badKeys, "vanished keys not removed")
      // and the mirror keeps following normal commits afterwards
      src.applyBatch(2, Synth.events(spark, 1000, seed = 45)
        .withColumn("commit_lsn", col("commit_lsn") + lit(10000)))
      consumer.sync()
      assert(visible(mir) === visible(src))
    }
  }

  test("expire + vacuum after a rollback keeps every restore-referenced file") {
    val engine = mkEngine("rb-vacuum", mor = false)
    val bs = Synth.batches(Synth.events(spark, 2000, seed = 48), 3, 2000)
    engine.applyBatch(0, bs(0)); engine.applyBatch(1, bs(1))
    val goodSnap = engine.table.currentSnapshotId
    val goodState = canon(engine)
    engine.applyBatch(2, bs(2))
    engine.table.rollbackTo(goodSnap)
    // retire the bad history and reclaim its files: the restore snapshot
    // re-lists goodSnap's ORIGINAL files, which must survive both passes
    engine.table.expireSnapshots(keepLast = 1)
    engine.table.vacuum()
    assert(canon(engine) === goodState, "vacuum reclaimed restore-referenced files")
  }

  test("rollback across a schema evolution boundary, then re-evolve") {
    val engine = mkEngine("rb-schema", mor = false)
    engine.applyBatch(0, Synth.events(spark, 1000, seed = 49))
    val preEvo = engine.table.currentSnapshotId
    val preState = canon(engine)
    // evolve: add a column, then roll the whole thing back
    engine.applyBatch(1, Synth.events(spark, 1000, seed = 50)
      .withColumn("commit_lsn", col("commit_lsn") + lit(5000))
      .withColumn("stars", lit(7)))
    assert(engine.currentState().columns.contains("stars"))
    engine.table.rollbackTo(preEvo)
    // the restored snapshot pins the pre-evolution schema
    assert(!engine.currentState().columns.contains("stars"))
    assert(canon(engine) === preState)
    // evolving again after the rollback works (schema registry is append-only)
    engine.applyBatch(2, Synth.events(spark, 500, seed = 51)
      .withColumn("commit_lsn", col("commit_lsn") + lit(10000))
      .withColumn("stars", lit(9)))
    assert(engine.currentState().columns.contains("stars"))
  }

  test("incremental view follows a rollback") {
    val engine = mkEngine("rb-view", mor = false)
    val v = new IncrementalView(engine,
      java.nio.file.Paths.get(SparkTestBase.tmpDir("rb-view-v")),
      Seq("lang"), Seq("bytes" -> octet_length(col("content"))))
    engine.applyBatch(0, Synth.events(spark, 2000, seed = 46))
    v.refresh()
    val goodSnap = engine.table.currentSnapshotId
    engine.applyBatch(1, Synth.events(spark, 2000, seed = 47)
      .withColumn("commit_lsn", col("commit_lsn") + lit(5000)))
    v.refresh()
    engine.table.rollbackTo(goodSnap)
    v.refresh()
    def c(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(c(v.view()) === c(v.aggregate(engine.currentState())))
  }
}
