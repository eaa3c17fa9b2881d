package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** Named refs (Iceberg tags): a tag pins a snapshot for time travel past
  * retention — expireSnapshots re-materializes it self-contained instead of
  * deleting it, vacuum treats its files as live, and dropping the tag
  * releases both. */
class TagsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def stateRows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
    df.collect().map(r => (r.getString(r.fieldIndex("repo")),
      r.getString(r.fieldIndex("path")), r.getLong(r.fieldIndex("_lsn")))).toSet

  private def replayTagged(mergeOnRead: Boolean): Unit = {
    val dir = SparkTestBase.tmpDir("tags")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = mergeOnRead)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
    val ev = Synth.events(spark, 3000, seed = 41)
    val batches = Synth.batches(ev, 6, 3000)
    batches.zipWithIndex.take(2).foreach { case (b, i) => engine.applyBatch(i.toLong, b) }

    val tagged = engine.tagSnapshot("v1")
    assert(t.tags === Map("v1" -> tagged))
    val want = stateRows(engine.stateAtTag("v1"))
    assert(want.nonEmpty)

    batches.zipWithIndex.drop(2).foreach { case (b, i) => engine.applyBatch(i.toLong, b) }
    if (mergeOnRead) engine.compact()

    // The tag survives expiry past it: chain truncated, tag off-chain.
    // MOR keeps last=1 (the compaction snapshot): any earlier MOR snapshot
    // in the kept chain still references the whole delta pile — including
    // the tagged snapshot's files — so nothing would ever become tag-only.
    // COW supersedes per batch, so a 2-deep chain already frees them.
    val expired = t.expireSnapshots(keepLast = if (mergeOnRead) 1 else 2)
    assert(expired.contains(tagged))
    assert(!t.isAncestor(tagged), "tagged snapshot should have left the chain")
    assert(stateRows(engine.stateAtTag("v1")) === want)

    // vacuum must not reclaim tag-referenced files — nor the tag's
    // off-chain pinned manifest
    t.vacuum(graceMillis = 0L)
    assert(stateRows(engine.stateAtTag("v1")) === want)
    val pinnedManifest = t.root.resolve("metadata").resolve(s"snap-$tagged.json")
    assert(java.nio.file.Files.exists(pinnedManifest))

    // current reads and exactly-once bookkeeping are unaffected
    assert(engine.currentState().count() > 0)
    batches.zipWithIndex.take(2).foreach { case (b, i) =>
      assert(engine.applyBatch(i.toLong, b).skipped, "expired epochs must stay committed")
    }

    // dropping the tag releases the pin: vacuum reclaims files only the
    // tagged snapshot referenced (superseded rewrites of later commits)
    assert(t.dropTag("v1"))
    assert(!t.dropTag("v1"))
    val reclaimed = t.vacuum(graceMillis = 0L)
    assert(reclaimed.nonEmpty, "dropping the tag should free tag-only files")
    assert(stateRows(engine.currentState()).nonEmpty)
    // the pinned manifest goes with the pin: no unreferenced snap-N.json
    // accumulates in metadata forever
    assert(reclaimed.exists(_.endsWith(s"snap-$tagged.json")),
      "vacuum should GC the now-unreferenced off-chain manifest")
    assert(!java.nio.file.Files.exists(pinnedManifest))
  }

  test("tag pins a snapshot through expire + vacuum until dropped (copy-on-write)") {
    replayTagged(mergeOnRead = false)
  }

  test("tag pins a snapshot through expire + vacuum until dropped (merge-on-read)") {
    replayTagged(mergeOnRead = true)
  }

  test("tag validation: bad names, unknown targets, re-tagging") {
    val dir = SparkTestBase.tmpDir("tags")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 4)
    val engine = new CdcEngine(spark, t, EngineConf(buckets = 4))
    intercept[IllegalArgumentException](t.tag("v1")) // empty table
    val ev = Synth.events(spark, 200, seed = 7)
    engine.applyBatch(0L, Synth.batches(ev, 1, 200).head)
    intercept[IllegalArgumentException](t.tag("bad name"))
    intercept[IllegalArgumentException](t.tag("v1", 999L)) // not an ancestor
    val id = t.tag("v1")
    assert(t.tag("v2", id) === id) // second name on the same snapshot
    engine.applyBatch(1L, Synth.batches(ev, 1, 200).head.limit(0))
    val id2 = t.tag("v1") // move v1 to the new current snapshot
    assert(id2 === t.currentSnapshotId && t.tags("v2") === id)
    intercept[IllegalArgumentException](t.snapshotForTag("nope"))
  }
}
