package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.sql.IceliteSql
import graft.synth.Synth

/** Tombstone GC (`compact(purgeTombstonesBelowLsn)` +
  * `EngineConf.tombstonePurgeLagLsn`): deletes are retained as revocable
  * tombstones, which under sustained churn grow without bound — the purge
  * drops sub-watermark tombstone rows at compaction. Visible state must be
  * bit-unchanged, change feeds spanning the purge must still report the
  * deletes (they diff visible states), metadata-only aggregates become
  * answerable again, and the contract boundary — an event BELOW the purge
  * line arriving later resurrects the key — is pinned explicitly. */
class TombstonePurgeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** One-event batch for the hand-built contract scenarios. */
  private def oneEv(lsn: Long, op: String) =
    Seq(("r1", "p1", s"c$lsn", "scala", s"v$lsn", op, lsn, 0,
      new java.sql.Timestamp(1700000000000L + lsn)))
      .toDF("repo", "path", "commit", "lang", "content", "op",
        "commit_lsn", "seq", "ts")

  private def mk(mor: Boolean, conf: EngineConf = EngineConf(buckets = 8))
      : CdcEngine = {
    val dir = SparkTestBase.tmpDir("tombgc")
    new CdcEngine(spark,
      IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = mor),
      conf.copy(buckets = 8))
  }

  private def stateKeys(e: CdcEngine): Set[(String, String)] =
    e.currentState().select("repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("purge drops only tombstones; visible state bit-identical; metaCount answerable") {
    val ev = Synth.events(spark, 3000, seed = 81) // ~5% deletes
    val e = mk(mor = false)
    e.applyBatch(0, ev)
    val before = e.currentState().orderBy("repo", "path").collect().toSeq
    val tombsBefore = e.currentCells().filter(col("_op.v") === "D").count()
    assert(tombsBefore > 0L)
    assert(e.metaCount() === None) // tombstones hash-mixed into row groups

    val hwm = e.highWatermark(e.table.currentSnapshotId)
    e.compact(purgeTombstonesBelowLsn = hwm + 1)

    assert(e.currentCells().filter(col("_op.v") === "D").count() === 0L)
    val after = e.currentState().orderBy("repo", "path").collect().toSeq
    assert(after === before)
    // with tombstones gone the manifest answers the global count again
    assert(e.metaCount() === Some(before.size.toLong))
    // a purged key stays deleted for point reads
    val deleted = ev.filter(col("op") === "D")
      .select("repo", "path").head()
    if (e.currentState().filter(col("repo") === deleted.getString(0) &&
        col("path") === deleted.getString(1)).isEmpty)
      assert(e.pointLookup(deleted.getString(0), deleted.getString(1)).isEmpty)
  }

  test("a change-feed window spanning the purge still reports the deletes") {
    val ev = Synth.events(spark, 2000, seed = 82)
    val e = mk(mor = false)
    e.applyBatch(0, ev.filter(col("op") =!= "D")) // epoch 0: inserts only
    val since = e.table.currentSnapshotId
    // epoch 1 deletes 40 keys that really exist (Synth keys are too sparse
    // for its D rows to reliably hit inserted keys)
    val maxLsn = ev.agg(max("commit_lsn")).head().getLong(0)
    val dels = e.currentState().select("repo", "path")
      .orderBy("repo", "path").limit(40)
      .withColumn("commit", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("content", lit(null).cast("string"))
      .withColumn("op", lit("D"))
      .withColumn("commit_lsn",
        lit(maxLsn + 1) + row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("repo", "path")))
      .withColumn("seq", lit(0))
      .withColumn("ts", lit(new java.sql.Timestamp(1700009999000L)))
    e.applyBatch(1, dels)
    val hwm = e.highWatermark(e.table.currentSnapshotId)
    e.compact(purgeTombstonesBelowLsn = hwm + 1) // tombstone rows now GONE
    assert(e.currentCells().filter(col("_op.v") === "D").count() === 0L)

    // value-level diff since `since`: every key visible then and absent now
    // must surface as a delete even though no tombstone cell survives
    val vanished = e.stateAt(since).select("repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet -- stateKeys(e)
    assert(vanished.nonEmpty)
    val feed = e.changesSince(since).collect()
      .map(r => (r.getString(r.fieldIndex("repo")),
        r.getString(r.fieldIndex("path"))) -> r.getString(r.fieldIndex("_op")))
      .toMap
    vanished.foreach { k =>
      assert(feed.get(k).contains("D"), s"purged delete of $k missing from feed")
    }
  }

  test("auto-compaction purges below highWatermark - lag and keeps newer tombstones") {
    val ev = Synth.events(spark, 3000, seed = 83)
    // lag covers the upper half of the LSN range: only OLD deletes purge
    val e = mk(mor = true, EngineConf(buckets = 8, morCompactThreshold = 2,
      tombstonePurgeLagLsn = 1500L))
    e.applyBatch(0, ev.filter(col("commit_lsn") < 1000))
    e.applyBatch(1, ev.filter(col("commit_lsn") >= 1000 && col("commit_lsn") < 2000))
    e.applyBatch(2, ev.filter(col("commit_lsn") >= 2000)) // threshold trips
    val line = e.highWatermark(e.table.currentSnapshotId) - 1500L
    val tombs = e.currentCells().select(col("_op.l").as("l"))
      .where(col("_op.v") === "D").collect().map(_.getLong(0))
    assert(tombs.nonEmpty, "recent tombstones must survive")
    assert(tombs.forall(_ >= line),
      s"tombstones below $line survived auto-compaction: ${tombs.filter(_ < line).toSeq}")
    // naive-fold equality still holds for the visible state
    val payload = Seq("commit", "lang", "content")
    val expected = TestOracle.finalState(ev.collect().toSeq, payload)
    val got = stateKeys(e)
    assert(got === expected.keySet)
  }

  test("the contract boundary: a sub-line event after the purge resurrects the key") {
    val e = mk(mor = false)
    e.applyBatch(0, oneEv(10, "U"))
    e.applyBatch(1, oneEv(20, "D")) // deleted at lsn 20
    assert(stateKeys(e).isEmpty)
    e.compact(purgeTombstonesBelowLsn = 21)
    // WITHOUT purge this lsn-15 update would LOSE to the lsn-20 tombstone
    // and stay invisible; after the purge it meets nothing and revives the
    // key — exactly why the line must sit below the source's replay bound
    e.applyBatch(2, oneEv(15, "U"))
    assert(stateKeys(e) === Set(("r1", "p1")))
  }

  test("subset purge-compaction never touches unselected buckets; a purged-empty bucket really empties") {
    val e = mk(mor = false)
    // two single-key buckets, found by probing the engine's own hash
    def bucketOf(path: String): Int = {
      import spark.implicits._
      Seq(("rX", path)).toDF("repo", "path").select(e.bucketCol).head().getInt(0)
    }
    val paths = (0 until 64).map(i => s"p$i")
    val pA = paths.find(bucketOf(_) != 0).get // NOT bucket 0 (the old bug
    // backfilled schema-id 0 as if it were a bucket id)
    val pB = paths.find(p => bucketOf(p) != bucketOf(pA)).get
    def ev(path: String, lsn: Long, op: String) =
      Seq(("rX", path, s"c$lsn", "scala", s"v$lsn", op, lsn, 0,
        new java.sql.Timestamp(1700000000000L + lsn)))
        .toDF("repo", "path", "commit", "lang", "content", "op",
          "commit_lsn", "seq", "ts")
    e.applyBatch(0, ev(pA, 10, "U").unionAll(ev(pB, 11, "U")))
    e.applyBatch(1, ev(pA, 20, "D")) // bucket A now holds ONLY a tombstone
    // purge-compact ONLY bucket A: bucket B must be untouched and visible,
    // bucket A's tombstone-only file must actually disappear
    e.compact(buckets = Some(Set(bucketOf(pA))), purgeTombstonesBelowLsn = 21)
    assert(stateKeys(e) === Set(("rX", pB)))
    assert(e.currentCells().count() === 1L) // only B's row remains anywhere
    // and the all-tombstone bucket was emptied even though it wrote no file
    assert(e.metaCount() === Some(1L))
  }

  test("a held DataFrame answers metadata aggregates from ITS snapshot, not a later head") {
    val e = mk(mor = false)
    e.applyBatch(0, Synth.events(spark, 1000, seed = 86).filter(col("op") =!= "D"))
    val held = e.currentState()
    val atHold = held.where(lit(true)).count() // rewrite-proof scan answer
    e.applyBatch(1, Synth.events(spark, 1000, seed = 87).filter(col("op") =!= "D")
      .withColumn("commit_lsn", col("commit_lsn") + 5000))
    // the held plan's files AND its metadata answer are both the old version
    assert(held.groupBy().count().head().getLong(0) === atHold,
      "held DataFrame leaked the newer snapshot through the metadata rewrite")
    assert(e.currentState().where(lit(true)).count() > atHold)
  }

  test("a no-op purge line does not flag the snapshot (feed refinement survives)") {
    val e = mk(mor = true, EngineConf(buckets = 8))
    val ev = Synth.events(spark, 1500, seed = 88) // deletes present
    e.applyBatch(0, ev)
    // line 0: nothing can be below it — the commit must NOT carry purge
    e.compact(purgeTombstonesBelowLsn = 0)
    val head = e.table.snapshot(e.table.currentSnapshotId)
    assert(!head.purge, "no-op purge must not degrade feed windows")
    // a line above the watermark on a delete-bearing table DOES flag
    e.applyBatch(1, Synth.events(spark, 500, seed = 89)
      .withColumn("commit_lsn", col("commit_lsn") + 9000))
    e.compact(purgeTombstonesBelowLsn =
      e.highWatermark(e.table.currentSnapshotId) + 1)
    assert(e.table.snapshot(e.table.currentSnapshotId).purge)
  }

  test("a feed-consumer mirror synced across a purge window equals the source") {
    val dir = SparkTestBase.tmpDir("tombgc-mirror")
    val src = new CdcEngine(spark,
      IceliteTable.create(s"$dir/src", Seq("repo", "path"), 8),
      EngineConf(buckets = 8))
    val mir = new CdcEngine(spark,
      IceliteTable.create(s"$dir/mirror", Seq("repo", "path"), 8),
      EngineConf(buckets = 8))
    val consumer = new graft.engine.FeedConsumer(src, mir)
    def visible(e: CdcEngine): Seq[String] = {
      val df = e.currentState()
      val cols = df.columns.filterNot(c => c == "_lsn" || c == "_seq").sorted
      df.select(cols.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
    }
    val ev = Synth.events(spark, 2000, seed = 84)
    src.applyBatch(0, ev.filter(col("commit_lsn") < 1000))
    consumer.sync() // mirror sees epoch-0 state, incl. keys deleted below
    src.applyBatch(1, ev.filter(col("commit_lsn") >= 1000)) // more deletes
    val hwm = src.highWatermark(src.table.currentSnapshotId)
    src.compact(purgeTombstonesBelowLsn = hwm + 1) // purge INSIDE the window
    assert(src.currentCells().filter(col("_op.v") === "D").count() === 0L)
    consumer.sync() // this window spans batch 1 AND the purge
    assert(visible(mir) === visible(src),
      "mirror diverged across a purged window")
  }

  test("SQL: CALL rewrite_data_files(purge_tombstones_below_lsn) purges") {
    val ev = Synth.events(spark, 1500, seed = 85)
    val e = mk(mor = false)
    e.applyBatch(0, ev)
    IceliteSql.register(spark, "tg", e)
    assert(e.currentCells().filter(col("_op.v") === "D").count() > 0L)
    val hwm = e.highWatermark(e.table.currentSnapshotId)
    spark.sql("CALL ice.system.rewrite_data_files('tg', " +
      s"purge_tombstones_below_lsn => ${hwm + 1})").collect()
    assert(e.currentCells().filter(col("_op.v") === "D").count() === 0L)
  }
}
