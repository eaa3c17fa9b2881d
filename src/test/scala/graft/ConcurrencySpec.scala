package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf, FeedConsumer}
import graft.icelite.{Icelite, IceliteTable}
import graft.synth.Synth

/** Multi-writer concurrency: two INDEPENDENT CdcEngine/IceliteTable
  * instances over the same table root, committing interleaved epochs from
  * concurrent threads. The contract under contention:
  *
  *   - one winner per parent: the snapshot chain stays LINEAR (every
  *     non-root snapshot's parent is exactly one other chain snapshot);
  *   - zero lost or duplicated epochs: every epoch appears exactly once on
  *     the chain, and the final visible state equals a sequential replay;
  *   - losers re-merge, not clobber: a copy-on-write commit is a CAS
  *     against the snapshot the merge read (expectedParentId), so a
  *     concurrent writer's changes are never silently overwritten;
  *   - feeds stay coherent: a mirror synced after the storm equals the
  *     source.
  *
  * Atomicity model (Icelite.lockFor): within one JVM all instances over a
  * root share one commit lock — the sandbox stand-in for an Iceberg
  * catalog's atomic pointer swap; expectedParentId gives cross-process
  * writers the same optimistic conflict detection a real catalog provides.
  */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val futures = tasks.map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try t() catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(600, TimeUnit.SECONDS), "writers deadlocked")
    futures.foreach(_.get())
    if (!failures.isEmpty) throw failures.peek()
  }

  private def chainAssertions(t: IceliteTable, expectedEpochs: Set[Long]): Unit = {
    val chain = t.snapshotChain
    // linear chain, one winner per parent
    assert(chain.map(_.snapshotId).distinct.size === chain.size)
    chain.sliding(2).foreach {
      case List(a, b) => assert(b.parentId === a.snapshotId,
        s"chain not linear at ${b.snapshotId}")
      case _ =>
    }
    // zero lost, zero duplicated epochs
    val epochs = chain.map(_.batchEpoch).filter(_ >= 0)
    assert(epochs.size === epochs.distinct.size, "duplicated epoch on the chain")
    assert(epochs.toSet === expectedEpochs, "lost epoch(s)")
  }

  private def stateSet(e: CdcEngine): Seq[String] =
    e.currentState().collect().map(_.toString).sorted.toSeq

  for (mor <- Seq(false, true)) {
    val label = if (mor) "merge-on-read" else "copy-on-write"
    test(s"$label: two writer instances race interleaved epochs — no lost updates") {
      val dir = SparkTestBase.tmpDir(s"race-$mor")
      IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = mor)
      def engine() = new CdcEngine(spark, IceliteTable.load(s"$dir/t"),
        EngineConf(buckets = 8))
      val w1 = engine(); val w2 = engine()
      // overlapping keys across writers: lost updates would corrupt values,
      // not just counts. Batches collected once so executors don't race the
      // same lazy parquet scan plan.
      val ev = Synth.events(spark, 4000, seed = 71)
      val bs = Synth.batches(ev, 8, 4000).map(_.localCheckpoint(true))
      val evens = bs.indices.filter(_ % 2 == 0)
      val odds = bs.indices.filter(_ % 2 == 1)
      runConcurrently(Seq(
        () => evens.foreach(i => w1.applyBatch(i.toLong, bs(i))),
        () => odds.foreach(i => w2.applyBatch(i.toLong, bs(i)))))

      chainAssertions(w1.table, bs.indices.map(_.toLong).toSet)
      // final state equals a sequential replay (ACI merge: LWW on
      // (commit_lsn, seq) makes interleaving order irrelevant)
      val control = new CdcEngine(spark,
        IceliteTable.create(s"$dir/control", Seq("repo", "path"), 8, mergeOnRead = mor),
        EngineConf(buckets = 8))
      bs.zipWithIndex.foreach { case (b, i) => control.applyBatch(i.toLong, b) }
      assert(stateSet(w1) === stateSet(control), "racing writers diverged from sequential replay")
      // feeds stay coherent after the storm
      val mir = new CdcEngine(spark,
        IceliteTable.create(s"$dir/mirror", Seq("repo", "path"), 8),
        EngineConf(buckets = 8))
      new FeedConsumer(w1, mir).sync()
      def visible(e: CdcEngine) = {
        val df = e.currentState()
        val cols = df.columns.filterNot(c => c == "_lsn" || c == "_seq").sorted
        df.select(cols.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
      }
      assert(visible(mir) === visible(w1), "mirror diverged after concurrent ingest")
    }
  }

  for (mor <- Seq(false, true)) {
    val label = if (mor) "merge-on-read" else "copy-on-write"
    test(s"$label: pinned reader is isolated from a concurrent writer + compaction + vacuum") {
      val dir = SparkTestBase.tmpDir(s"snapiso-$mor")
      val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = mor)
      val writer = new CdcEngine(spark, t, EngineConf(buckets = 8))
      val reader = new CdcEngine(spark, IceliteTable.load(s"$dir/t"),
        EngineConf(buckets = 8))
      val ev = Synth.events(spark, 3000, seed = 73)
      val bs = Synth.batches(ev, 6, 3000).map(_.localCheckpoint(true))
      bs.take(2).zipWithIndex.foreach { case (b, i) => writer.applyBatch(i.toLong, b) }

      // pin a snapshot and take its reference image once
      val pinId = t.currentSnapshotId
      val reference = reader.stateAt(pinId).collect().map(_.toString).sorted.toSeq
      assert(reference.nonEmpty)

      // storm: the writer keeps committing, compacting and vacuuming (zero
      // grace — safe single-writer, and the pinned snapshot stays RETAINED)
      // while the reader re-materializes the pinned snapshot concurrently.
      // Iceberg's isolation contract: maintenance never rewrites or reclaims
      // a retained snapshot's files, so every re-read is byte-stable.
      // The latch pins the overlap: the reader's later re-reads are
      // GUARANTEED to run after at least one compact+vacuum has completed
      // (and concurrently with the writer's remaining commits), so the test
      // cannot pass vacuously by finishing its reads before maintenance ran.
      val mismatches = new AtomicInteger(0)
      val firstMaintenanceDone = new CountDownLatch(1)
      runConcurrently(Seq(
        () => bs.drop(2).zipWithIndex.foreach { case (b, i) =>
          writer.applyBatch((i + 2).toLong, b)
          if (i % 2 == 1) {
            writer.compact(); writer.table.vacuum(0L)
            firstMaintenanceDone.countDown()
          }
        },
        () => {
          def reRead(): Unit = {
            val again = reader.stateAt(pinId).collect().map(_.toString).sorted.toSeq
            if (again != reference) mismatches.incrementAndGet()
          }
          (1 to 2).foreach(_ => reRead())
          assert(firstMaintenanceDone.await(300, TimeUnit.SECONDS),
            "writer never compacted")
          (1 to 3).foreach(_ => reRead())
        }))
      assert(mismatches.get() === 0, "pinned read changed under concurrent maintenance")
      // and after the storm, time travel to the pin is still exact
      assert(reader.stateAt(pinId).collect().map(_.toString).sorted.toSeq === reference)

      // retention is the isolation boundary, and it fails LOUDLY: once the
      // pin is expired off the chain and vacuumed, re-reading it must raise,
      // never silently return wrong data
      t.expireSnapshots(keepLast = 1)
      t.vacuum(0L)
      intercept[Exception] { reader.stateAt(pinId).collect() }
    }
  }

  test("copy-on-write CAS: a stale writer conflicts instead of clobbering, then re-merges") {
    val dir = SparkTestBase.tmpDir("race-cas")
    val t1 = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 4)
    val t2 = IceliteTable.load(s"$dir/t")
    val sid = t1.ensureSchema(org.apache.spark.sql.types.StructType(Nil))
    val base = t1.commit(0L, sid, Map.empty, Nil, 0)
    // writer 1 pins its view, writer 2 commits first
    val pinned = t1.currentSnapshotId
    val s2 = t2.commit(1L, sid, Map.empty, Nil, 0)
    assert(s2.parentId === base.snapshotId)
    // the stale CAS must conflict — one winner per parent
    intercept[Icelite.CommitConflictException] {
      t1.commit(2L, sid, Map.empty, Nil, 0, expectedParentId = pinned)
    }
    // retry against the fresh head succeeds and the chain stays linear
    val s3 = t1.commit(2L, sid, Map.empty, Nil, 0,
      expectedParentId = t1.currentSnapshotId)
    assert(s3.parentId === s2.snapshotId)
    assert(t1.snapshotChain.map(_.batchEpoch).filter(_ >= 0) === List(0L, 1L, 2L))
  }

  test("same-epoch re-delivery race resolves to exactly one application") {
    val dir = SparkTestBase.tmpDir("race-epoch")
    IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    def engine() = new CdcEngine(spark, IceliteTable.load(s"$dir/t"),
      EngineConf(buckets = 8))
    val w1 = engine(); val w2 = engine()
    val b = Synth.events(spark, 1500, seed = 72).localCheckpoint(true)
    val appliedCount = new AtomicInteger(0)
    runConcurrently(Seq(
      () => (0 until 4).foreach { i =>
        if (!w1.applyBatch(i.toLong, b).skipped) appliedCount.incrementAndGet() },
      () => (0 until 4).foreach { i =>
        if (!w2.applyBatch(i.toLong, b).skipped) appliedCount.incrementAndGet() }))
    // each epoch applied at least once and present exactly once on-chain;
    // a racing duplicate either skips or no-ops idempotently into the SAME
    // chain snapshot (never a second application of the epoch)
    chainAssertions(w1.table, Set(0L, 1L, 2L, 3L))
    assert(appliedCount.get() >= 4)
    // state equals a single application of the batch
    val control = new CdcEngine(spark,
      IceliteTable.create(s"$dir/control", Seq("repo", "path"), 8),
      EngineConf(buckets = 8))
    control.applyBatch(0L, b)
    def payload(e: CdcEngine) = {
      val df = e.currentState()
      val cols = df.columns.filterNot(_.startsWith("_")).sorted
      df.select(cols.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
    }
    assert(payload(w1) === payload(control))
  }
}
