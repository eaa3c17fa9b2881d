package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.{Icelite, IceliteTable}
import graft.synth.Synth

/** Write-audit-publish (Iceberg's WAP / staged-snapshot workflow): a suspect
  * batch is fully MERGED and written as a snapshot that no reader can see,
  * audited against data-quality invariants in that staged view, and only
  * then published (pointer move) — or dropped, leaving the table as if the
  * batch never arrived. The CDC use: quarantine a possibly-poisoned upstream
  * batch without stalling the table, with exactly-once and the optimistic
  * concurrency protocol re-checked at publish time. */
class WapSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val N = 3000L

  def newEngine(mor: Boolean = false,
      conf: EngineConf = EngineConf(buckets = 8)): CdcEngine = {
    val dir = SparkTestBase.tmpDir("wap")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), conf.buckets,
      mergeOnRead = mor)
    new CdcEngine(spark, t, conf)
  }

  def stateSet(e: CdcEngine): Set[String] = {
    val df = e.currentState()
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail.toSeq: _*).collect().map(_.mkString("|")).toSet
  }

  def dataFiles(root: Path): Set[String] = {
    val d = root.resolve("data")
    if (!Files.exists(d)) return Set.empty
    val s = Files.walk(d)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    finally s.close()
  }

  test("staged batch is invisible until publish; published state = direct apply") {
    val ev = Synth.events(spark, N, seed = 71)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine()
    val control = newEngine()
    engine.applyBatch(0, bs(0)); control.applyBatch(0, bs(0))

    val visibleBefore = stateSet(engine)
    val staged = engine.stageBatch(1, bs(1))
    assert(!staged.skipped && staged.events > 0)
    // invisible everywhere: state, epoch bookkeeping, change feed, pointer
    assert(stateSet(engine) === visibleBefore)
    assert(engine.table.lastEpoch === 0L)
    assert(engine.changesSince(engine.table.currentSnapshotId).isEmpty)
    assert(!engine.table.isAncestor(staged.snapshotId))
    // ... but fully readable AS the staged view for the audit
    assert(engine.stateAt(staged.snapshotId).count() > visibleBefore.size)

    val audit = engine.auditStaged(staged.snapshotId,
      Map("content_present_or_tombstoned" -> col("_op").isin("I", "U")))
    assert(audit.values.forall(identity), s"audit should pass: $audit")

    val published = engine.publishStaged(staged.snapshotId)
    assert(published === staged.snapshotId)
    assert(engine.table.currentSnapshotId === published)
    assert(engine.table.lastEpoch === 1L)
    control.applyBatch(1, bs(1))
    assert(stateSet(engine) === stateSet(control))
    // exactly-once after publish: redelivery of the staged epoch is a no-op
    assert(engine.applyBatch(1, bs(1)).skipped)
    // and the pipeline continues normally on top of a published WAP commit
    engine.applyBatch(2, bs(2)); control.applyBatch(2, bs(2))
    assert(stateSet(engine) === stateSet(control))
  }

  test("failed audit -> dropStaged leaves the table bit-identical; corrected re-delivery applies") {
    val ev = Synth.events(spark, N, seed = 72)
    val bs = Synth.batches(ev, 2, N)
    val engine = newEngine()
    engine.applyBatch(0, bs(0))
    val filesBefore = dataFiles(engine.table.root)
    val pointerBefore = engine.table.currentSnapshotId
    val stateBefore = stateSet(engine)

    // poison the batch: null out every content (a broken upstream decoder)
    val poisoned = bs(1).withColumn("content",
      when(col("op").isin("I", "U"), lit(null).cast("string")).otherwise(col("content")))
    val staged = engine.stageBatch(1, poisoned)
    val audit = engine.auditStaged(staged.snapshotId, Map(
      "content_present" -> (col("_op") === "D" || col("content").isNotNull)))
    assert(audit("keys_unique") && audit("no_null_keys"))
    assert(!audit("content_present"), "the audit must catch the poisoned batch")

    val dropped = engine.dropStaged(staged.snapshotId)
    assert(dropped.nonEmpty, "staged data files should be reclaimed")
    assert(engine.table.currentSnapshotId === pointerBefore)
    assert(dataFiles(engine.table.root) === filesBefore)
    assert(stateSet(engine) === stateBefore)
    assert(!Files.exists(
      engine.table.root.resolve("metadata").resolve(s"snap-${staged.snapshotId}.json")))

    // the dropped epoch was never committed: the corrected batch APPLIES
    val fixed = engine.applyBatch(1, bs(1))
    assert(!fixed.skipped && fixed.events > 0)
    val control = newEngine()
    control.applyBatch(0, bs(0)); control.applyBatch(1, bs(1))
    assert(stateSet(engine) === stateSet(control))
  }

  test("publish conflicts when the chain advanced; re-stage resolves it") {
    val ev = Synth.events(spark, N, seed = 73)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine()
    engine.applyBatch(0, bs(0))
    val staged = engine.stageBatch(1, bs(1))
    engine.applyBatch(2, bs(2)) // the chain moves while the audit runs
    intercept[Icelite.CommitConflictException] {
      engine.publishStaged(staged.snapshotId)
    }
    // the staged merge is stale (it merged against pre-b2 state): re-stage
    engine.dropStaged(staged.snapshotId)
    val restaged = engine.stageBatch(1, bs(1))
    engine.publishStaged(restaged.snapshotId)
    val control = newEngine()
    control.applyBatch(0, bs(0)); control.applyBatch(2, bs(2)); control.applyBatch(1, bs(1))
    assert(stateSet(engine) === stateSet(control))
  }

  test("a staged snapshot is never clobbered by later chain commits (id allocation)") {
    val ev = Synth.events(spark, N, seed = 74)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine()
    engine.applyBatch(0, bs(0))
    val staged = engine.stageBatch(1, bs(1))
    val stagedRows = engine.stateAt(staged.snapshotId).count()
    val later = engine.applyBatch(2, bs(2))
    assert(later.snapshotId !== staged.snapshotId)
    // the staged manifest survived and still reads the same view
    assert(engine.stateAt(staged.snapshotId).count() === stagedRows)
  }

  test("a staged snapshot survives commits from a SECOND table instance on the same root") {
    // the id-allocation cache is per instance: instance B has never seen
    // A's staged id (a staged snapshot moves no pointer, so B's parent
    // doesn't reveal it) — B must probe the metadata dir and skip it, not
    // overwrite snap-N.json with REPLACE_EXISTING
    val dir = SparkTestBase.tmpDir("wap2i")
    val tA = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val eA = new CdcEngine(spark, tA, EngineConf(buckets = 8))
    val ev = Synth.events(spark, N, seed = 79)
    val bs = Synth.batches(ev, 3, N)
    eA.applyBatch(0, bs(0))
    // instance B initializes its id cache BEFORE A stages
    val tB = IceliteTable.createOrLoad(s"$dir/t", Seq("repo", "path"), 8)
    val eB = new CdcEngine(spark, tB, EngineConf(buckets = 8))
    eB.applyBatch(1, bs(1)) // fills B's maxSeenId from disk
    val staged = eA.stageBatch(2, bs(2))
    val stagedRows = eA.stateAt(staged.snapshotId).count()
    val later = eB.applyBatch(3, Synth.events(spark, 500, seed = 80))
    assert(later.snapshotId !== staged.snapshotId,
      "instance B must not re-allocate A's staged snapshot id")
    assert(eA.stateAt(staged.snapshotId).count() === stagedRows,
      "A's staged manifest must survive B's commit")
  }

  test("merge-on-read: stage defers compaction to publish; state equals direct apply") {
    val ev = Synth.events(spark, N, seed = 75)
    val bs = Synth.batches(ev, 4, N)
    def mk() = newEngine(mor = true,
      EngineConf(buckets = 8, morCompactThreshold = 2))
    val engine = mk()
    val control = mk()
    engine.applyBatch(0, bs(0)); control.applyBatch(0, bs(0))
    engine.applyBatch(1, bs(1)); control.applyBatch(1, bs(1))
    val filesBefore = dataFiles(engine.table.root)
    val staged = engine.stageBatch(2, bs(2))
    // stage appended delta files but ran no compaction (published file set
    // only grew — nothing was rewritten or removed under the live table)
    assert(filesBefore.subsetOf(dataFiles(engine.table.root)))
    engine.publishStaged(staged.snapshotId)
    control.applyBatch(2, bs(2))
    assert(stateSet(engine) === stateSet(control))
    engine.applyBatch(3, bs(3)); control.applyBatch(3, bs(3))
    assert(stateSet(engine) === stateSet(control))
  }
}
