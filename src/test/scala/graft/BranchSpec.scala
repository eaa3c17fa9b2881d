package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.{Icelite, IceliteTable}
import graft.synth.Synth

/** Writable branches (Iceberg branch refs): an ingest LANE of several
  * micro-batches is merged and committed onto a named ref in complete
  * isolation from main — state, epochs, change feeds all unchanged — then
  * audited and published as one atomic fast-forward, or abandoned. The
  * multi-batch generalization of write-audit-publish. The replay-equivalence
  * contract must hold THROUGH a branch: publish(fork + lane) ==
  * direct apply of the same batches, in any delivery order. */
class BranchSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val N = 3000L

  def newEngine(mor: Boolean = false,
      conf: EngineConf = EngineConf(buckets = 8)): CdcEngine = {
    val dir = SparkTestBase.tmpDir("branch")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), conf.buckets,
      mergeOnRead = mor)
    new CdcEngine(spark, t, conf)
  }

  def stateSet(e: CdcEngine): Set[String] = {
    val df = e.currentState()
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail.toSeq: _*).collect().map(_.mkString("|")).toSet
  }

  def branchStateSet(e: CdcEngine, name: String): Set[String] = {
    val df = e.stateAtBranch(name)
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail.toSeq: _*).collect().map(_.mkString("|")).toSet
  }

  def dataFiles(e: CdcEngine): Set[String] = {
    val d = e.table.root.resolve("data")
    if (!Files.exists(d)) return Set.empty
    val s = Files.walk(d)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    finally s.close()
  }

  test("branch lane is invisible until fast-forward; published == direct apply") {
    val ev = Synth.events(spark, N, seed = 91)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine()
    val control = newEngine()
    bs.zipWithIndex.foreach { case (b, i) => control.applyBatch(i, b) }

    engine.applyBatch(0, bs(0))
    val preFork = engine.table.currentSnapshotId
    val mainState = stateSet(engine)

    engine.createBranch("lane")
    val r1 = engine.applyBatchToBranch(1, bs(1), "lane")
    val r2 = engine.applyBatchToBranch(2, bs(2), "lane")
    assert(!r1.skipped && !r2.skipped && r1.events > 0)

    // invisible on main: state, pointer, epoch bookkeeping, change feed
    assert(stateSet(engine) === mainState)
    assert(engine.table.currentSnapshotId === preFork)
    assert(engine.table.lastEpoch === 0L)
    assert(engine.changesSince(preFork).isEmpty)
    // ...but the lane's view is the full three-batch state
    assert(branchStateSet(engine, "lane") === stateSet(control))

    val audit = engine.auditBranch("lane",
      Map("op_decoded" -> col("_op").isin("I", "U")))
    assert(audit.values.forall(identity), s"audit should pass: $audit")

    engine.publishBranch("lane")
    assert(stateSet(engine) === stateSet(control))
    assert(engine.table.branches.isEmpty)
    // the lane is ordinary history now: feeds from the pre-fork snapshot
    // deliver its changes, and its epochs are main's epochs
    assert(!engine.changesSince(preFork).isEmpty)
    assert(engine.applyBatch(1, bs(1)).skipped)
    assert(engine.applyBatch(2, bs(2)).skipped)
  }

  test("exactly-once is scoped per ref chain: lane dedups its own and fork-ancestry epochs") {
    val ev = Synth.events(spark, N, seed = 92)
    val bs = Synth.batches(ev, 2, N)
    val engine = newEngine()
    engine.applyBatch(0, bs(0))
    engine.createBranch("lane")
    assert(!engine.applyBatchToBranch(1, bs(1), "lane").skipped)
    // duplicate delivery within the lane
    assert(engine.applyBatchToBranch(1, bs(1), "lane").skipped)
    // epoch committed below the fork is already on the lane's chain
    assert(engine.applyBatchToBranch(0, bs(0), "lane").skipped)
    // and main still has NOT seen the lane's epoch
    assert(engine.table.lastEpoch === 0L)
  }

  test("publish conflicts when main advanced; re-fork replays the lane") {
    val ev = Synth.events(spark, N, seed = 93)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine()
    val control = newEngine()
    bs.zipWithIndex.foreach { case (b, i) => control.applyBatch(i, b) }

    engine.applyBatch(0, bs(0))
    engine.createBranch("lane")
    engine.applyBatchToBranch(1, bs(1), "lane")
    engine.applyBatch(2, bs(2)) // main moves past the fork
    intercept[Icelite.CommitConflictException] {
      engine.publishBranch("lane")
    }
    // recovery: re-fork from the new head and replay the lane — the ACI
    // merge makes the out-of-order arrival of batch 1 equivalent
    engine.abandonBranch("lane", vacuumGraceMillis = 0L) // single-writer test: reclaim now
    engine.createBranch("lane2")
    engine.applyBatchToBranch(1, bs(1), "lane2")
    engine.publishBranch("lane2")
    assert(stateSet(engine) === stateSet(control))
  }

  test("mid-lane schema evolution rides the branch and lands on main at publish") {
    val ev = Synth.events(spark, N, seed = 94)
    val bs = Synth.batches(ev, 2, N)
    val engine = newEngine()
    engine.applyBatch(0, bs(0))
    engine.createBranch("lane")
    val widened = bs(1).withColumn("stars",
      pmod(xxhash64(col("repo")), lit(1000)).cast("int"))
    engine.applyBatchToBranch(1, widened, "lane")
    // the branch sees the evolved schema, main does not
    assert(engine.stateAtBranch("lane").columns.contains("stars"))
    assert(!engine.currentState().columns.contains("stars"))
    engine.publishBranch("lane")
    val st = engine.currentState()
    assert(st.columns.contains("stars"))
    // rows untouched by the lane carry a null (column added, not rewritten)
    assert(st.filter(col("stars").isNull).count() > 0)
    assert(st.filter(col("stars").isNotNull).count() > 0)
  }

  test("merge-on-read lane: delta appends on the branch, compaction deferred to publish") {
    val ev = Synth.events(spark, N, seed = 95)
    val bs = Synth.batches(ev, 4, N)
    val engine = newEngine(mor = true,
      conf = EngineConf(buckets = 8, morCompactThreshold = 3))
    val control = newEngine(mor = true,
      conf = EngineConf(buckets = 8, morCompactThreshold = 3))
    bs.zipWithIndex.foreach { case (b, i) => control.applyBatch(i, b) }

    engine.applyBatch(0, bs(0))
    engine.createBranch("lane")
    (1 until 4).foreach(i => engine.applyBatchToBranch(i, bs(i), "lane"))
    // deferred maintenance: while the lane is unpublished, branch buckets
    // may exceed the compaction threshold
    val head = engine.table.snapshot(engine.table.branchHead("lane"))
    val maxFilesBranch = (0 until 8)
      .map(b => engine.table.bucketListOf(head, b).size).max
    assert(maxFilesBranch >= 3, s"lane should accumulate deltas, saw $maxFilesBranch")
    assert(branchStateSet(engine, "lane") === stateSet(control))

    engine.publishBranch("lane")
    assert(stateSet(engine) === stateSet(control))
    val cur = engine.table.currentSnapshot.get
    val maxFilesMain = (0 until 8)
      .map(b => engine.table.bucketListOf(cur, b).size).max
    assert(maxFilesMain < 3, s"publish should compact over-threshold buckets, saw $maxFilesMain")
  }

  test("expire pins the branch's fork ancestry; vacuum keeps lane files; abandon reclaims them") {
    val ev = Synth.events(spark, 6 * 1000L, seed = 96)
    val bs = Synth.batches(ev, 6, 6 * 1000L)
    val engine = newEngine()
    (0 until 3).foreach(i => engine.applyBatch(i, bs(i)))
    engine.createBranch("lane")
    engine.applyBatchToBranch(3, bs(3), "lane")
    engine.applyBatch(4, bs(4))
    engine.applyBatch(5, bs(5))

    // expected lane view: fork ancestry (b0-b2) + the lane batch (b3)
    val laneControl = newEngine()
    Seq(0, 1, 2, 3).foreach(i => laneControl.applyBatch(i, bs(i)))
    // expected main view: everything except the unpublished lane batch
    val mainControl = newEngine()
    Seq(0, 1, 2, 4, 5).foreach(i => mainControl.applyBatch(i, bs(i)))

    val expired = engine.table.expireSnapshots(keepLast = 1)
    assert(expired.nonEmpty)
    engine.table.vacuum(0L)

    // the branch survives retention: its fork base was re-materialized
    // self-contained and its files kept live through the ref
    assert(branchStateSet(engine, "lane") === stateSet(laneControl))
    assert(stateSet(engine) === stateSet(mainControl))
    // epochs below the (absorbed) fork are still deduped on the lane
    assert(engine.applyBatchToBranch(0, bs(0), "lane").skipped)
    // main moved past the fork, so the lane can no longer fast-forward
    intercept[Icelite.CommitConflictException] {
      engine.publishBranch("lane")
    }

    val before = dataFiles(engine)
    val reclaimed = engine.abandonBranch("lane", vacuumGraceMillis = 0L) // single-writer test: reclaim now
    assert(reclaimed.nonEmpty, "abandon should reclaim the lane's data files")
    assert(dataFiles(engine).size < before.size)
    assert(stateSet(engine) === stateSet(mainControl))
  }

  test("change feed windows can end at a branch head: pre-publish lane feed == post-publish feed") {
    val ev = Synth.events(spark, N, seed = 98)
    val bs = Synth.batches(ev, 3, N)
    val engine = newEngine()
    engine.applyBatch(0, bs(0))
    val fork = engine.table.currentSnapshotId
    engine.createBranch("lane")
    engine.applyBatchToBranch(1, bs(1), "lane")
    engine.applyBatchToBranch(2, bs(2), "lane")

    def feedSet(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val cols = df.columns.sorted
      df.select(cols.head, cols.tail.toSeq: _*).collect().map(_.mkString("|")).toSet
    }
    // a downstream can validate against the LANE before it is published...
    val preview = feedSet(engine.changesSince(fork,
      toSnapshotId = engine.table.branchHead("lane")))
    assert(preview.nonEmpty)
    engine.publishBranch("lane")
    // ...and the published feed over the same window is identical
    assert(feedSet(engine.changesSince(fork)) === preview)
  }

  test("streaming quarantine lane: the sink tails into a branch, exactly-once per ref") {
    val work = SparkTestBase.tmpDir("streambranch")
    val input = s"$work/in"
    val ev = Synth.events(spark, N, seed = 99)
    val engine = newEngine()
    val control = newEngine()
    // main is seeded with the first half; the suspect source (second half)
    // streams into the lane in two micro-batches
    val first = ev.filter(s"commit_lsn < ${N / 2}")
    val rest = ev.filter(s"commit_lsn >= ${N / 2}")
    engine.applyBatch(100, first)
    control.applyBatch(100, first)
    control.applyBatch(101, rest)
    engine.createBranch("lane")
    rest.filter(s"commit_lsn < ${3 * N / 4}").coalesce(1).write.mode("append").parquet(input)
    rest.filter(s"commit_lsn >= ${3 * N / 4}").coalesce(1).write.mode("append").parquet(input)

    val mainBefore = engine.table.currentSnapshotId
    val root = engine.table.root.toString
    val lane = Map("branch" -> "lane")
    SparkTestBase.runSink(SparkTestBase.fileTail(input, 1), s"$work/ckpt", root, lane)
    assert(engine.table.currentSnapshotId === mainBefore, "main moved during lane streaming")
    assert(engine.table.branchEpochs("lane") === Set(0L, 1L, 100L),
      "each micro-batch is one lane commit")
    // restart with no new input: per-ref exactly-once, no new lane commits
    val laneBefore = engine.table.branchHead("lane")
    SparkTestBase.runSink(SparkTestBase.fileTail(input), s"$work/ckpt", root, lane)
    assert(engine.table.branchHead("lane") === laneBefore)

    engine.publishBranch("lane")
    assert(stateSet(engine) === stateSet(control))
  }

  test("out-of-order delivery across a lane: publish(fork+lane) == sequential fold") {
    val ev = Synth.events(spark, N, seed = 97, dupPct = 5)
    val bs = Synth.batches(ev, 4, N, shuffleDelivery = true)
    val engine = newEngine()
    val control = newEngine()
    bs.zipWithIndex.foreach { case (b, i) => control.applyBatch(i, b) }

    engine.applyBatch(0, bs(0))
    engine.createBranch("lane")
    // lane receives its batches out of order, with duplicates
    engine.applyBatchToBranch(3, bs(3), "lane")
    engine.applyBatchToBranch(1, bs(1), "lane")
    engine.applyBatchToBranch(3, bs(3), "lane")
    engine.applyBatchToBranch(2, bs(2), "lane")
    engine.publishBranch("lane")
    assert(stateSet(engine) === stateSet(control))
  }
}
