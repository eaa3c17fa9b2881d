package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.streaming.Trigger

import graft.engine.{AtomicTxn, CdcEngine, EngineConf}
import graft.icelite.{Icelite, IceliteCatalog, IceliteTable}
import graft.model.ChangeEvent
import graft.synth.Synth

/** Multi-table atomic commits through the versioned catalog: all-or-nothing
  * visibility across tables, torn-crash recovery, exactly-once transaction
  * replay, optimistic concurrency between coordinators, and cross-table
  * consistent time travel by catalog version. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** The dim-table side of the reference's dim+fact transaction. */
  private def repoAgg(batch: DataFrame): DataFrame = Synth.repoRollup(batch)

  private def mkPair(work: String): (CdcEngine, CdcEngine, IceliteCatalog) = {
    val files = new CdcEngine(spark,
      IceliteTable.create(s"$work/files", Seq("repo", "path"), 4),
      EngineConf(buckets = 4))
    val repos = new CdcEngine(spark,
      IceliteTable.create(s"$work/repos", Seq("repo"), 2),
      EngineConf(buckets = 2))
    val cat = IceliteCatalog.create(s"$work/cat")
    cat.registerTable("files", s"$work/files")
    cat.registerTable("repos", s"$work/repos")
    (files, repos, cat)
  }

  private def stateOf(e: CdcEngine, at: Long = -1L): Map[String, String] = {
    val df = if (at >= 0) e.stateAt(at) else e.currentState()
    df.collect().map { r =>
      val k = r.getString(r.fieldIndex("repo")) + "/" + r.getString(r.fieldIndex("path"))
      val c = r.fieldIndex("content")
      k -> (if (r.isNullAt(c)) null else r.getString(c))
    }.toMap
  }

  test("a crash BEFORE the catalog commit leaves nothing visible; recover sweeps the stages") {
    val work = SparkTestBase.tmpDir("cat-precrash")
    val (files, repos, cat) = mkPair(work)
    val ev = Synth.events(spark, 2000, seed = 401, repos = 10, pathsPerRepo = 40)
    AtomicTxn.commit(cat, 0L, Seq(("files", files, ev), ("repos", repos, repoAgg(ev))))
    val v1 = cat.version
    val (f1, r1) = (stateOf(files), stateOf(repos))

    // crash simulation: a second epoch is STAGED on both tables, but the
    // coordinator dies before its catalog commit
    val ev2 = Synth.events(spark, 800, seed = 402, repos = 10, pathsPerRepo = 40)
      .withColumn("commit_lsn", col("commit_lsn") + 2000L)
    files.stageBatch(1L, ev2)
    repos.stageBatch(1L, repoAgg(ev2))

    assert(cat.version === v1, "catalog must not have moved")
    assert(stateOf(files) === f1 && stateOf(repos) === r1,
      "no table state may be visible before the catalog commit")
    assert(files.table.stagedSnapshotIds.nonEmpty && repos.table.stagedSnapshotIds.nonEmpty)

    val (published, dropped) = AtomicTxn.recover(cat,
      Map("files" -> files, "repos" -> repos), sweepOrphans = true)
    assert(published === 0 && dropped === 2, s"got ($published, $dropped)")
    assert(files.table.stagedSnapshotIds.isEmpty && repos.table.stagedSnapshotIds.isEmpty)
    // the swept epoch was never committed, so redelivery must apply fully
    AtomicTxn.commit(cat, 1L, Seq(("files", files, ev2), ("repos", repos, repoAgg(ev2))))
    assert(stateOf(files) !== f1)
  }

  test("a crash AFTER the catalog commit is already atomic to catalog readers; recover completes the publishes") {
    val work = SparkTestBase.tmpDir("cat-torn")
    val (files, repos, cat) = mkPair(work)
    val ev = Synth.events(spark, 2000, seed = 411, repos = 10, pathsPerRepo = 40)
    AtomicTxn.commit(cat, 0L, Seq(("files", files, ev), ("repos", repos, repoAgg(ev))))
    val ev2 = Synth.events(spark, 800, seed = 412, repos = 10, pathsPerRepo = 40)
      .withColumn("commit_lsn", col("commit_lsn") + 2000L)

    // run the protocol by hand, dying between the catalog commit (step 2)
    // and the publishes (step 3) — with only ONE table published (torn)
    val sFiles = files.stageBatch(1L, ev2).snapshotId
    val sRepos = repos.stageBatch(1L, repoAgg(ev2)).snapshotId
    cat.commitTxn(1L, Map("files" -> sFiles, "repos" -> sRepos))
    files.publishStaged(sFiles) // repos' publish never happens

    // catalog readers see the FULL transaction despite the torn publish:
    // the pinned ids resolve on both tables (staged snapshots read by id)
    val refs = cat.refs()
    val fCat = stateOf(files, refs("files").snapshotId)
    val rCat = stateOf(repos, refs("repos").snapshotId)
    assert(fCat.nonEmpty && rCat.nonEmpty)
    // consistency invariant across the pair: the rollup's content (row
    // count per repo in the LAST batch that touched it) matches a recount
    // over the same batches — both tables reflect epochs 0 AND 1
    assert(rCat.keySet.map(_.stripSuffix("/rollup")) === fCat.keySet.map(_.split("/")(0)))
    // the repos table's own pointer is still at epoch 0 (publish pending)
    assert(stateOf(repos) !== rCat)

    val (published, dropped) = AtomicTxn.recover(cat,
      Map("files" -> files, "repos" -> repos))
    assert(published === 1 && dropped === 0, s"got ($published, $dropped)")
    assert(stateOf(repos) === rCat, "recovery must fast-forward the lagging pointer")
    assert(AtomicTxn.recover(cat, Map("files" -> files, "repos" -> repos)) === ((0, 0)),
      "recover must be idempotent")
  }

  test("a publish failure after the catalog commit keeps the pinned stages; recover completes them") {
    val work = SparkTestBase.tmpDir("cat-publishfail")
    val (files, repos0, cat) = mkPair(work)
    // the repos engine fails its first publish — after commitTxn succeeded
    var failNext = true
    val repos = new CdcEngine(spark, repos0.table, repos0.conf) {
      override def publishStaged(stagedId: Long): Long =
        if (failNext) { failNext = false; throw new IllegalStateException("publish died") }
        else super.publishStaged(stagedId)
    }
    val ev = Synth.events(spark, 2000, seed = 415, repos = 10, pathsPerRepo = 40)
    intercept[IllegalStateException](
      AtomicTxn.commit(cat, 0L, Seq(("files", files, ev), ("repos", repos, repoAgg(ev)))))
    val pinned = cat.refs()("repos").snapshotId
    assert(cat.versionOfTxn(0L).nonEmpty, "the transaction committed before the failure")
    assert(repos.table.stagedSnapshotIds.contains(pinned),
      "the stage the catalog pins was dropped by the failure handler")
    AtomicTxn.recover(cat, Map("files" -> files, "repos" -> repos))
    // every table shows the batch, at exactly the snapshot the catalog pins
    Seq(files, repos).zip(Seq("files", "repos")).foreach { case (e, name) =>
      assert(e.table.currentSnapshotId === cat.refs()(name).snapshotId, name)
      assert(e.table.committedEpochs.contains(0L) && stateOf(e).nonEmpty, name)
    }
  }

  test("a foreign txn committed but unpublished when we stage is completed, not superseded") {
    val work = SparkTestBase.tmpDir("cat-foreign")
    val (files, repos, cat0) = mkPair(work)
    val control = new CdcEngine(spark,
      IceliteTable.create(s"$work/control", Seq("repo", "path"), 4), EngineConf(buckets = 4))
    val evs = (0 until 3).map(i => Synth.events(spark, 800, seed = 421 + i, repos = 10,
      pathsPerRepo = 40).withColumn("commit_lsn", col("commit_lsn") + 1000L * i))
    evs.zipWithIndex.foreach { case (ev, i) => control.applyBatch(i.toLong, ev) }
    AtomicTxn.commit(cat0, 0L, Seq(("files", files, evs(0)), ("repos", repos, repoAgg(evs(0)))))
    // another process commits txn 1 right after our publishPending and
    // dies before publishing it: its stages are pinned, the heads lag
    var foreignDone = false
    val cat = new IceliteCatalog(cat0.root) {
      override def versionOfTxn(txnId: Long): Option[Long] = {
        if (!foreignDone) {
          foreignDone = true
          commitTxn(1L, Map(
            "files" -> files.stageBatch(1L, evs(1)).snapshotId,
            "repos" -> repos.stageBatch(1L, repoAgg(evs(1))).snapshotId))
        }
        super.versionOfTxn(txnId)
      }
    }
    AtomicTxn.commit(cat, 2L, Seq(("files", files, evs(2)), ("repos", repos, repoAgg(evs(2)))))
    assert(foreignDone)
    Seq(files, repos).zip(Seq("files", "repos")).foreach { case (e, name) =>
      assert(e.table.committedEpochs === Set(0L, 1L, 2L), name)
      assert(e.table.currentSnapshotId === cat.refs()(name).snapshotId, name)
      assert(e.table.stagedSnapshotIds.isEmpty, name)
    }
    assert(stateOf(files) === stateOf(control), "both txns' rows must be visible")
  }

  test("a compaction that loses its race after a publish fails neither publishStaged nor the txn") {
    val work = SparkTestBase.tmpDir("cat-lostrace")
    var lose = 0
    def racing(name: String): CdcEngine = new CdcEngine(spark,
      IceliteTable.create(s"$work/$name", Seq("repo", "path"), 4, mergeOnRead = true),
      EngineConf(buckets = 4, morCompactThreshold = 2)) {
      override def compact(buckets: Option[Set[Int]], sortBy: Seq[String], maxFileRows: Long,
          purgeTombstonesBelowLsn: Long, zorderBy: Seq[String]): Long =
        if (lose > 0) { lose -= 1; throw new Icelite.CommitConflictException("lost the race") }
        else super.compact(buckets, sortBy, maxFileRows, purgeTombstonesBelowLsn, zorderBy)
    }
    def maxFiles(e: CdcEngine): Int =
      e.table.bucketFilesOf(e.table.currentSnapshot.get).values.map(_.size).max
    val evs = (0 until 3).map(i => Synth.events(spark, 800, seed = 431 + i, repos = 10,
      pathsPerRepo = 40).withColumn("commit_lsn", col("commit_lsn") + 1000L * i))

    // write-audit-publish: the publish crosses the threshold, its compaction loses
    val wap = racing("wap")
    wap.applyBatch(0L, evs(0))
    lose = 1
    val published = wap.publishStaged(wap.stageBatch(1L, evs(1)).snapshotId)
    assert(lose === 0, "the crossing must have tried to compact")
    assert(published === wap.table.currentSnapshotId)
    assert(wap.table.committedEpochs === Set(0L, 1L) && maxFiles(wap) === 2)
    wap.applyBatch(2L, evs(2))
    assert(maxFiles(wap) === 1, "the next batch must compact the still-over buckets")

    // the same through a catalog transaction, whose commit point has passed
    val files = racing("files")
    val cat = IceliteCatalog.create(s"$work/cat")
    cat.registerTable("files", s"$work/files")
    AtomicTxn.commit(cat, 0L, Seq(("files", files, evs(0))))
    lose = 1
    AtomicTxn.commit(cat, 1L, Seq(("files", files, evs(1))))
    assert(lose === 0, "the crossing must have tried to compact")
    assert(files.table.currentSnapshotId === cat.refs()("files").snapshotId)
    assert(files.table.committedEpochs === Set(0L, 1L) && files.table.stagedSnapshotIds.isEmpty)
    AtomicTxn.commit(cat, 2L, Seq(("files", files, evs(2))))
    assert(maxFiles(files) === 1, "the next txn must compact the still-over buckets")
  }

  test("txns keep committing after retention expires the snapshot the catalog pins") {
    val work = SparkTestBase.tmpDir("cat-expiredpin")
    // compaction after each publish moves the head past the pin, and
    // retainSnapshots = 1 then expires the pinned snapshot off the chain
    val files = new CdcEngine(spark,
      IceliteTable.create(s"$work/files", Seq("repo", "path"), 4, mergeOnRead = true),
      EngineConf(buckets = 4, morCompactThreshold = 2, retainSnapshots = 1))
    val control = new CdcEngine(spark,
      IceliteTable.create(s"$work/control", Seq("repo", "path"), 4), EngineConf(buckets = 4))
    val cat = IceliteCatalog.create(s"$work/cat")
    cat.registerTable("files", s"$work/files")
    (0 until 3).foreach { i =>
      val ev = Synth.events(spark, 800, seed = 441 + i, repos = 10, pathsPerRepo = 40)
        .withColumn("commit_lsn", col("commit_lsn") + 1000L * i)
      control.applyBatch(i.toLong, ev)
      AtomicTxn.commit(cat, i.toLong, Seq(("files", files, ev)))
      assert(files.table.committedEpochs.contains(i.toLong), s"txn $i")
    }
    assert(cat.versionOfTxn(2L).nonEmpty && files.table.stagedSnapshotIds.isEmpty)
    assert(stateOf(files) === stateOf(control))
  }

  test("a NEXT-epoch commit straight after a torn crash completes the predecessor first") {
    val work = SparkTestBase.tmpDir("cat-torn2")
    val (files, repos, cat) = mkPair(work)
    val engines = Seq(("files", files), ("repos", repos))
    val ev = Synth.events(spark, 1500, seed = 415, repos = 8, pathsPerRepo = 30)
    AtomicTxn.commit(cat, 0L, Seq(("files", files, ev), ("repos", repos, repoAgg(ev))))

    // txn 1 catalog-commits but NO table publishes (coordinator dies)
    val ev2 = Synth.events(spark, 800, seed = 416, repos = 8, pathsPerRepo = 30)
      .withColumn("commit_lsn", col("commit_lsn") + 1500L)
    val s1 = engines.map { case (n, e) =>
      n -> e.stageBatch(1L, if (n == "files") ev2 else repoAgg(ev2)).snapshotId
    }.toMap
    cat.commitTxn(1L, s1)

    // a restarted caller goes straight to epoch 2 WITHOUT calling recover:
    // the coordinator must publish txn 1 before staging, or epoch 1's rows
    // would be silently fast-forwarded past
    val ev3 = Synth.events(spark, 800, seed = 417, repos = 8, pathsPerRepo = 30)
      .withColumn("commit_lsn", col("commit_lsn") + 2300L)
    AtomicTxn.commit(cat, 2L,
      Seq(("files", files, ev3), ("repos", repos, repoAgg(ev3))))
    val oracle = TestOracle.finalState(
      ev.unionByName(ev2).unionByName(ev3).collect().toSeq,
      Seq("commit", "lang", "content"))
    assert(stateOf(files).keySet === oracle.keySet.map { case (r, p) => s"$r/$p" },
      "epoch 1's rows must not be lost to the torn crash")
    assert(cat.committedTxns() === Set(0L, 1L, 2L))
  }

  test("recover is a no-op when a published pin was retention-expired off the chain") {
    val work = SparkTestBase.tmpDir("cat-retained")
    val (files, repos, cat) = mkPair(work)
    val engines = Map("files" -> files, "repos" -> repos)
    val ev = Synth.events(spark, 1200, seed = 418, repos = 8, pathsPerRepo = 30)
    AtomicTxn.commit(cat, 0L, Seq(("files", files, ev), ("repos", repos, repoAgg(ev))))
    // maintenance advances the files chain past the pinned snapshot, then
    // retention expires the pinned id off the chain entirely
    files.compact()
    files.table.expireSnapshots(keepLast = 1)
    assert(!files.table.isAncestor(cat.refs()("files").snapshotId))
    assert(AtomicTxn.recover(cat, engines) === ((0, 0)),
      "an expired published pin is not a pending publish")
  }

  test("duplicate table names in a transaction are rejected loudly") {
    val work = SparkTestBase.tmpDir("cat-dup")
    val (files, repos, cat) = mkPair(work)
    val ev = Synth.events(spark, 300, seed = 419, repos = 4, pathsPerRepo = 10)
    intercept[IllegalArgumentException] {
      AtomicTxn.commit(cat, 0L, Seq(
        ("files", files, ev), ("files", files, ev), ("repos", repos, repoAgg(ev))))
    }
  }

  test("transaction replay is exactly-once: same epoch, same version, no new snapshots") {
    val work = SparkTestBase.tmpDir("cat-replay")
    val (files, repos, cat) = mkPair(work)
    val ev = Synth.events(spark, 1500, seed = 421, repos = 8, pathsPerRepo = 30)
    val writes = Seq(("files", files, ev), ("repos", repos, repoAgg(ev)))
    val v = AtomicTxn.commit(cat, 7L, writes)
    val (f1, r1) = (stateOf(files), stateOf(repos))
    val chainLens = (files.table.snapshotChain.size, repos.table.snapshotChain.size)

    val v2 = AtomicTxn.commit(cat, 7L, writes) // duplicate delivery
    assert(v2 === v, "replay must return the original catalog version")
    assert(cat.version === v, "no new catalog version")
    assert((files.table.snapshotChain.size, repos.table.snapshotChain.size) === chainLens,
      "no new table snapshots")
    assert(stateOf(files) === f1 && stateOf(repos) === r1)
    assert(files.table.stagedSnapshotIds.isEmpty && repos.table.stagedSnapshotIds.isEmpty,
      "replay must not leak staged snapshots")
  }

  test("two coordinators race: CAS serializes them, both transactions land, none is lost") {
    val work = SparkTestBase.tmpDir("cat-race")
    val (files, repos, cat) = mkPair(work)
    val evA = Synth.events(spark, 1200, seed = 431, repos = 8, pathsPerRepo = 30)
    val evB = Synth.events(spark, 1200, seed = 432, repos = 8, pathsPerRepo = 30)
      .withColumn("commit_lsn", col("commit_lsn") + 1200L)
    val engines = Map("files" -> files, "repos" -> repos)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val fa = Future(AtomicTxn.commit(cat, 100L,
      Seq(("files", files, evA), ("repos", repos, repoAgg(evA)))))
    val fb = Future(AtomicTxn.commit(cat, 101L,
      Seq(("files", files, evB), ("repos", repos, repoAgg(evB)))))
    val (va, vb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    pool.shutdown()

    assert(va !== vb, "each transaction gets its own catalog version")
    assert(cat.committedTxns() === Set(100L, 101L))
    // final files state = LWW fold of BOTH batches (evB's lsns are higher
    // on colliding keys) — nothing lost to the race
    val oracle = TestOracle.finalState(
      evA.unionByName(evB).collect().toSeq, Seq("commit", "lang", "content"))
    val got = stateOf(files)
    assert(got.keySet === oracle.keySet.map { case (r, p) => s"$r/$p" })
    assert(files.table.stagedSnapshotIds.isEmpty && repos.table.stagedSnapshotIds.isEmpty,
      "the race loser must have dropped its stale stages")
    AtomicTxn.recover(cat, engines) // and recovery agrees nothing is pending
    assert(cat.version >= 4) // 2 DDL + 2 txns
  }

  test("the version CAS detects a foreign committer: stale expectedVersion raises") {
    val work = SparkTestBase.tmpDir("cat-cas")
    val (files, repos, cat) = mkPair(work)
    val ev = Synth.events(spark, 800, seed = 451, repos = 6, pathsPerRepo = 20)
    val stale = cat.version
    // a "foreign" committer (another process in production) moves HEAD
    AtomicTxn.commit(cat, 0L, Seq(("files", files, ev), ("repos", repos, repoAgg(ev))))
    val sid = files.stageBatch(1L, ev.withColumn("commit_lsn", col("commit_lsn") + 800L))
      .snapshotId
    intercept[graft.icelite.CatalogConflictException] {
      cat.commitTxn(1L, Map("files" -> sid), expectedVersion = stale)
    }
    files.dropStaged(sid)
    assert(cat.committedTxns() === Set(0L), "the conflicted txn must not have landed")
  }

  test("streaming foreachBatch transaction: one epoch per micro-batch, exactly-once across full redelivery") {
    val work = SparkTestBase.tmpDir("cat-stream")
    val (files, repos, cat) = mkPair(work)
    val input = s"$work/in"
    val ev = Synth.events(spark, 3000, seed = 461, repos = 10, pathsPerRepo = 40)
    (0 until 3).foreach(i => ev.filter(s"commit_lsn % 3 = $i").coalesce(1)
      .write.mode("append").parquet(input))
    // the checkpointed micro-batch id IS the transaction id: Structured
    // Streaming's replayed-batch contract composes with the catalog's
    // exactly-once txn ledger, across BOTH tables at once
    def run(ckpt: String): Unit = {
      val q = spark.readStream.schema(ChangeEvent.schema)
        .option("maxFilesPerTrigger", 1).parquet(input)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          AtomicTxn.commit(cat, id, Seq(("files", files, b), ("repos", repos, repoAgg(b))))
          ()
        }.start()
      q.awaitTermination()
    }
    run(s"$work/ckpt1")
    val v1 = cat.version
    val (f1, r1) = (stateOf(files), stateOf(repos))
    val oracle = TestOracle.finalState(ev.collect().toSeq, Seq("commit", "lang", "content"))
    assert(f1.keySet === oracle.keySet.map { case (r, p) => s"$r/$p" })
    assert(cat.committedTxns() === Set(0L, 1L, 2L))

    // FULL redelivery (fresh checkpoint, same input): every micro-batch
    // replays, every transaction no-ops — no version moves, no state drift
    run(s"$work/ckpt2")
    assert(cat.version === v1, "replayed stream must commit nothing")
    assert(stateOf(files) === f1 && stateOf(repos) === r1)
  }

  test("schema evolution rides the transaction: an added column lands atomically with the other table") {
    val work = SparkTestBase.tmpDir("cat-evolve")
    val (files, repos, cat) = mkPair(work)
    val ev1 = Synth.events(spark, 1200, seed = 481, repos = 8, pathsPerRepo = 30)
    AtomicTxn.commit(cat, 0L, Seq(("files", files, ev1), ("repos", repos, repoAgg(ev1))))
    assert(!files.currentState().columns.contains("stars"))

    // epoch 1 widens the files schema (new payload column) mid-txn
    val ev2 = Synth.events(spark, 800, seed = 482, repos = 8, pathsPerRepo = 30)
      .withColumn("commit_lsn", col("commit_lsn") + 1200L)
      .withColumn("stars", (col("commit_lsn") % 5).cast("int"))
    AtomicTxn.commit(cat, 1L, Seq(("files", files, ev2), ("repos", repos, repoAgg(ev2))))

    val refs = cat.refs()
    val head = files.stateAt(refs("files").snapshotId)
    assert(head.columns.contains("stars"), "the added column must be visible at the pin")
    assert(head.filter(col("stars").isNotNull).count() > 0)
    // and the PREVIOUS catalog version still reads with the OLD schema
    val old = cat.refs(cat.versionOfTxn(0L).get)
    assert(!files.stateAt(old("files").snapshotId).columns.contains("stars"),
      "cross-table time travel must keep the pre-evolution schema")
  }

  test("plain SQL reads the table set consistently through catalog pins") {
    val work = SparkTestBase.tmpDir("cat-sql")
    val (files, repos, cat) = mkPair(work)
    val engines = Map("files" -> files, "repos" -> repos)
    val ev1 = Synth.events(spark, 1500, seed = 471, repos = 8, pathsPerRepo = 30)
    val ev2 = Synth.events(spark, 1500, seed = 472, repos = 8, pathsPerRepo = 30)
      .withColumn("commit_lsn", col("commit_lsn") + 1500L)
    val vTxn1 = AtomicTxn.commit(cat, 0L,
      Seq(("files", files, ev1), ("repos", repos, repoAgg(ev1))))
    val (f1, r1) = (stateOf(files), stateOf(repos))
    AtomicTxn.commit(cat, 1L,
      Seq(("files", files, ev2), ("repos", repos, repoAgg(ev2))))

    // pins of the OLD catalog version -> cross-table time travel in SQL
    val pins = graft.sql.IceliteSql.registerCatalog(spark, cat, engines, vTxn1)
    assert(pins.keySet === Set("files", "repos"))
    val nFiles = spark.sql(
      s"SELECT count(*) AS n FROM ice.files VERSION AS OF ${pins("files")}")
      .collect()(0).getLong(0)
    assert(nFiles === f1.size)
    val gotRepos = spark.sql(
      s"SELECT repo, content FROM ice.repos VERSION AS OF ${pins("repos")}")
      .collect().map(r => s"${r.getString(0)}/rollup" -> r.getString(1)).toMap
    assert(gotRepos === r1)
    // a cross-table SQL join at the consistent pair: every repo the files
    // table knows is present in the rollup at the SAME catalog version
    val orphans = spark.sql(
      s"""SELECT count(*) AS n FROM
         |  (SELECT DISTINCT repo FROM ice.files VERSION AS OF ${pins("files")}) f
         |  LEFT ANTI JOIN
         |  (SELECT repo FROM ice.repos VERSION AS OF ${pins("repos")}) r
         |  ON f.repo = r.repo""".stripMargin).collect()(0).getLong(0)
    assert(orphans === 0L, "consistent pins must leave no cross-table orphans")
  }

  test("changeWindows: txn-aligned cross-table incremental feeds between catalog versions") {
    val work = SparkTestBase.tmpDir("cat-win")
    val (files, repos, cat) = mkPair(work)
    val ev1 = Synth.events(spark, 1500, seed = 491, repos = 8, pathsPerRepo = 30)
    val ev2 = Synth.events(spark, 1000, seed = 492, repos = 8, pathsPerRepo = 30)
      .withColumn("commit_lsn", col("commit_lsn") + 1500L)
    val v1 = AtomicTxn.commit(cat, 0L,
      Seq(("files", files, ev1), ("repos", repos, repoAgg(ev1))))
    AtomicTxn.commit(cat, 1L,
      Seq(("files", files, ev2), ("repos", repos, repoAgg(ev2))))

    val wins = cat.changeWindows(v1)
    // both bounds are catalog pins — never half a transaction
    assert(wins("files") === (cat.refs(v1)("files").snapshotId, cat.refs()("files").snapshotId))
    assert(wins("repos") === (cat.refs(v1)("repos").snapshotId, cat.refs()("repos").snapshotId))
    // the drained diff covers EXACTLY the keys whose visible value changed
    for ((name, e) <- Seq(("files", files), ("repos", repos))) {
      val (from, to) = wins(name)
      val changed = e.changesSince(from, toSnapshotId = to)
        .select("repo", "path").collect()
        .map(r => s"${r.getString(0)}/${r.getString(1)}").toSet
      assert(changed.nonEmpty, s"$name window must feed rows")
      val before = stateOf(e, from); val after = stateOf(e, to)
      val differing = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(differing.subsetOf(changed),
        s"$name: a changed key escaped the window feed")
      ((before.keySet ++ after.keySet) -- changed).foreach(k =>
        assert(before.get(k) === after.get(k), s"$name: unchanged key $k drifted"))
    }
    // a table enrolled AFTER fromVersion bootstraps from -1
    IceliteTable.create(s"$work/extra", Seq("repo"), 2)
    cat.registerTable("extra", s"$work/extra")
    assert(cat.changeWindows(v1)("extra")._1 === -1L)
  }

  test("expireVersions trims catalog history but carries the exactly-once ledger") {
    val work = SparkTestBase.tmpDir("cat-expire")
    val (files, repos, cat) = mkPair(work)
    val writes = (0 until 3).map { i =>
      val ev = Synth.events(spark, 600, seed = 500 + i, repos = 6, pathsPerRepo = 20)
        .withColumn("commit_lsn", col("commit_lsn") + i * 600L)
      AtomicTxn.commit(cat, i.toLong,
        Seq(("files", files, ev), ("repos", repos, repoAgg(ev))))
      ev
    }
    val head = cat.version
    val refsBefore = cat.refs()
    val expired = cat.expireVersions(keepLast = 2)
    assert(expired.nonEmpty && cat.history.size === 2)
    assert(cat.version === head && cat.refs() === refsBefore,
      "expiry must not move HEAD or its pins")
    // the ledger survives the re-root: every txn id still answers,
    // including DDL-version-adjacent ones carried across
    assert(cat.committedTxns() === Set(0L, 1L, 2L))
    // replaying an EXPIRED transaction is still a no-op
    val v = AtomicTxn.commit(cat, 0L,
      Seq(("files", files, writes(0)), ("repos", repos, repoAgg(writes(0)))))
    assert(cat.version === head, "replay of an expired txn must commit nothing")
    assert(v >= 1)
    // expired version files are gone from disk
    expired.foreach(ev0 => assert(
      !java.nio.file.Files.exists(cat.root.resolve(s"cat-$ev0.json"))))
  }

  test("a reader that cannot write the HEAD hint still reads the healed version") {
    val work = SparkTestBase.tmpDir("cat-ro")
    val (_, _, cat) = mkPair(work)
    val v = cat.version
    // a committer died between its version file and the HEAD hint
    val head = java.nio.file.Paths.get(s"$work/cat/HEAD")
    java.nio.file.Files.writeString(head, (v - 1).toString)
    val readOnly = new IceliteCatalog(java.nio.file.Paths.get(s"$work/cat")) {
      override protected def writeHeadHint(version: Long): Unit =
        throw new java.nio.file.AccessDeniedException(head.toString)
    }
    assert(readOnly.version === v)
    assert(readOnly.refs().keySet === Set("files", "repos"))
    assert(java.nio.file.Files.readString(head).trim === (v - 1).toString)
    assert(cat.version === v) // a writer still heals the hint
    assert(java.nio.file.Files.readString(head).trim === v.toString)
  }

  test("catalog versions give cross-table consistent time travel") {
    val work = SparkTestBase.tmpDir("cat-tt")
    val (files, repos, cat) = mkPair(work)
    val ev1 = Synth.events(spark, 1500, seed = 441, repos = 8, pathsPerRepo = 30)
    val ev2 = Synth.events(spark, 1500, seed = 442, repos = 8, pathsPerRepo = 30)
      .withColumn("commit_lsn", col("commit_lsn") + 1500L)
    val vTxn1 = AtomicTxn.commit(cat, 0L,
      Seq(("files", files, ev1), ("repos", repos, repoAgg(ev1))))
    val (f1, r1) = (stateOf(files), stateOf(repos)) // the post-txn1 pair
    AtomicTxn.commit(cat, 1L,
      Seq(("files", files, ev2), ("repos", repos, repoAgg(ev2))))
    assert(stateOf(files) !== f1, "txn2 must have changed the files table")

    // resolve BOTH tables through the old catalog version: exactly the
    // consistent pair a reader saw between the transactions
    val old = cat.refs(vTxn1)
    assert(stateOf(files, old("files").snapshotId) === f1)
    assert(stateOf(repos, old("repos").snapshotId) === r1)
    // and the version history records the txn ids in order
    assert(cat.history.map(_.txnId).filter(_ >= 0) === List(1L, 0L))
    // the inspection DataFrame mirrors it: one row per (version, table),
    // HEAD pins matching refs(), SQL-queryable like engine.inspect tables
    val hdf = cat.historyDf(spark)
    assert(hdf.columns.toSeq === Seq("version", "parent_version", "txn_id",
      "commit_millis", "table_name", "snapshot_id", "table_root"))
    val headPins = hdf.filter(col("version") === cat.version)
      .collect().map(r => r.getString(4) -> r.getLong(5)).toMap
    assert(headPins === cat.refs().map { case (n, r) => n -> r.snapshotId })
    assert(hdf.filter(col("txn_id") === 0L).select("version").distinct().count() === 1)
  }
}
