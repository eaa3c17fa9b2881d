package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf, FeedConsumer, IncrementalView}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** Bucket-count evolution (Iceberg partition-evolution analog): one online
  * commit rewrites the table under a new bucket count, the layout flips
  * atomically with the pointer, and everything downstream — time travel,
  * change feeds, mirrors, incremental views, point lookups, exactly-once
  * bookkeeping — keeps working across the boundary. */
class RebucketSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val N = 4000L

  def newEngine(buckets: Int, mor: Boolean = false): CdcEngine = {
    val dir = SparkTestBase.tmpDir("rebucket")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), buckets,
      mergeOnRead = mor)
    new CdcEngine(spark, t, EngineConf(buckets = buckets))
  }

  def stateSet(e: CdcEngine): Set[String] = {
    val df = e.currentState()
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail.toSeq: _*).collect().map(_.mkString("|")).toSet
  }

  def feedSet(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail.toSeq: _*).collect().map(_.mkString("|")).toSet
  }

  test("grow 8 -> 32: state identical, old snapshots readable, stale engine fails loudly") {
    val ev = Synth.events(spark, N, seed = 81)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine(8)
    val control = newEngine(8)
    engine.applyBatch(0, bs(0)); control.applyBatch(0, bs(0))
    engine.applyBatch(1, bs(1)); control.applyBatch(1, bs(1))
    val preSnap = engine.table.currentSnapshotId
    val preState = stateSet(engine)

    val e2 = engine.rebucket(32)
    assert(e2.table.currentBuckets === 32)
    assert(stateSet(e2) === preState, "a rebucket must not change visible state")
    // time travel reads the OLD layout under its own snapshot
    assert(e2.stateAt(preSnap).count() === preState.size)
    // ingest continues on the new layout
    e2.applyBatch(2, bs(2)); control.applyBatch(2, bs(2))
    assert(stateSet(e2) === stateSet(control))
    // exactly-once bookkeeping survived the rewrite
    assert(e2.applyBatch(1, bs(1)).skipped)
    // point lookup prunes in the NEW layout and still finds the row
    val k = e2.currentState().select("repo", "path").head()
    assert(e2.pointLookup(k.getString(0), k.getString(1)).count() === 1)
    // the stale pre-rebucket instance refuses every bucket-dependent op
    intercept[IllegalArgumentException] { engine.applyBatch(9, bs(0)) }
    intercept[IllegalArgumentException] { engine.changesSince(preSnap) }
    intercept[IllegalArgumentException] { engine.pointLookup(k.getString(0), k.getString(1)) }
  }

  test("shrink 16 -> 4: overlapping bucket-id regimes cannot leak old files") {
    val ev = Synth.events(spark, N, seed = 82)
    val bs = Synth.batches(ev, 2, N)
    val engine = newEngine(16)
    val control = newEngine(16)
    engine.applyBatch(0, bs(0)); control.applyBatch(0, bs(0))
    val pre = stateSet(engine)
    val e2 = engine.rebucket(4)
    // ids 0..3 exist in BOTH regimes; the full rebucket manifest must stop
    // the parent walk, or old-layout files for ids 4..15 would double-read
    assert(stateSet(e2) === pre)
    e2.applyBatch(1, bs(1)); control.applyBatch(1, bs(1))
    assert(stateSet(e2) === stateSet(control))
  }

  test("changesSince across a rebucket: exact diff, bucket filter in window-end layout") {
    val ev = Synth.events(spark, N, seed = 83)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine(8)
    val control = newEngine(8)
    engine.applyBatch(0, bs(0)); control.applyBatch(0, bs(0))
    val s0 = engine.table.currentSnapshotId
    val c0 = control.table.currentSnapshotId
    engine.applyBatch(1, bs(1)); control.applyBatch(1, bs(1))
    val s1 = engine.table.currentSnapshotId

    val e2 = engine.rebucket(32)
    // the crossing must be DETECTED, not survive by small-table luck: with
    // it undetected, old-regime lineage ids would prune new-layout reads
    assert(e2.table.windowCrossesRebucket(s1, e2.table.currentSnapshotId))
    assert(!e2.table.windowCrossesRebucket(s0, s1))
    // creation count stays frozen in table.json — it is the meaning of
    // legacy manifests' buckets = -1; the live layout rides on snapshots
    assert(e2.table.meta.buckets === 8)
    assert(e2.table.currentBuckets === 32)
    // a pure rebucket changes no values: the crossing window feeds NOTHING
    assert(e2.changesSince(s1).count() === 0,
      "rebucket must not redeliver unchanged rows")
    e2.applyBatch(2, bs(2)); control.applyBatch(2, bs(2))
    // crossing window (s0, current]: same change set as the non-rebucketed control
    assert(feedSet(e2.changesSince(s0)) === feedSet(control.changesSince(c0)))
    // caller bucket restriction is honored in the WINDOW-END (new) layout
    val full = e2.changesSince(s0)
    val some = Set(0, 1, 2, 3)
    val expected = feedSet(full.filter(
      pmod(xxhash64(col("repo"), col("path")), lit(32)).cast("int").isin(some.toSeq: _*)))
    assert(feedSet(e2.changesSince(s0, buckets = Some(some))) === expected)
    // a HISTORICAL window entirely before the rebucket still replays, pruned
    // in its own (old) layout, from the new engine
    assert(feedSet(e2.changesSince(s0, toSnapshotId = s1)) ===
      feedSet(control.changesSince(c0, toSnapshotId = c0 + 1)))
  }

  test("feed-consumer mirror and incremental view follow a rebucket") {
    val ev = Synth.events(spark, N, seed = 84)
    val bs = Synth.batches(ev, 2, N)
    val engine = newEngine(8)
    engine.applyBatch(0, bs(0))
    val mirror = newEngine(16) // layouts are per-table, mirror keeps its own
    new FeedConsumer(engine, mirror).sync()
    val viewDir = java.nio.file.Paths.get(SparkTestBase.tmpDir("rebucketview"))
    new IncrementalView(engine, viewDir,
      Seq("lang"), Seq("bytes" -> octet_length(col("content")))).refresh()

    val e2 = engine.rebucket(32)
    // a pure rebucket syncs zero rows into the mirror
    assert(new FeedConsumer(e2, mirror).sync() === 0L)
    e2.applyBatch(1, bs(1))
    new FeedConsumer(e2, mirror).sync()
    def visible(e: CdcEngine) = {
      val df = e.currentState()
      val cols = df.columns.filterNot(c => c == "_lsn" || c == "_seq").sorted
      df.select(cols.head, cols.tail.toSeq: _*).collect().map(_.mkString("|")).toSet
    }
    assert(visible(mirror) === visible(e2))
    // the view refreshes across the boundary and equals the full recompute
    val iv2 = new IncrementalView(e2, viewDir,
      Seq("lang"), Seq("bytes" -> octet_length(col("content"))))
    iv2.refresh()
    assert(iv2.view().collect().map(_.toString).sorted.toSeq ===
      iv2.aggregate(e2.currentState()).collect().map(_.toString).sorted.toSeq)
  }

  test("rollback across a rebucket restores the OLD layout atomically") {
    val ev = Synth.events(spark, N, seed = 86)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine(8)
    val control = newEngine(8)
    engine.applyBatch(0, bs(0)); control.applyBatch(0, bs(0))
    val s0 = engine.table.currentSnapshotId
    engine.applyBatch(1, bs(1))
    val e2 = engine.rebucket(32)
    e2.applyBatch(2, bs(2))
    e2.table.rollbackTo(s0)
    // the restore put the 8-bucket file set back, so the restore snapshot
    // must carry the 8-bucket layout — the 32-bucket engine is now stale
    assert(e2.table.currentBuckets === 8)
    intercept[IllegalArgumentException] { e2.changesSince(s0) }
    val e3 = new CdcEngine(spark, e2.table, EngineConf(buckets = 8))
    assert(stateSet(e3) === stateSet(control))
    val k = e3.currentState().select("repo", "path").head()
    assert(e3.pointLookup(k.getString(0), k.getString(1)).count() === 1)
  }

  test("merge-on-read: delta piles fold into the new layout; feeds stay exact") {
    val ev = Synth.events(spark, N, seed = 85)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine(8, mor = true)
    val control = newEngine(8, mor = true)
    engine.applyBatch(0, bs(0)); control.applyBatch(0, bs(0))
    engine.applyBatch(1, bs(1)); control.applyBatch(1, bs(1))
    val s1 = engine.table.currentSnapshotId
    val e2 = engine.rebucket(16)
    assert(stateSet(e2) === stateSet(control))
    assert(e2.changesSince(s1).count() === 0)
    e2.applyBatch(2, bs(2)); control.applyBatch(2, bs(2))
    assert(stateSet(e2) === stateSet(control))
    assert(feedSet(e2.changesSince(s1)) === feedSet(control.changesSince(s1)))
    assert(e2.applyBatch(0, bs(0)).skipped) // epochs preserved
  }
}
