package graft

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{AtomicTxn, CdcEngine, EngineConf}
import graft.icelite.{IceliteCatalog, IceliteTable}
import graft.tools.RaceWriter

/** The cross-PROCESS concurrency proof: every race in ConcurrencySpec /
  * CatalogSpec runs between threads of one JVM, where `Icelite.lockFor`
  * already serializes commits — so those tests cannot distinguish a real
  * filesystem CAS from the lock. Here each writer is a FORKED JVM
  * (ProcessBuilder -> graft.tools.RaceWriter), so the only serialization
  * available is the on-disk protocol itself: exclusive manifest creation,
  * the per-parent pointer-claim CAS, marker-file staged registry, and the
  * exclusive catalog-version create. Reference analog: two concurrent
  * `ingestion.py` runs serialized by Postgres (README.md:253-258) — the
  * guarantee a lake-format engine must supply itself.
  *
  * Invariants asserted after every race, directly on the shared dirs:
  * zero lost commits, zero duplicated epochs, and (for the Spark modes)
  * final visible state identical to a SEQUENTIAL single-writer replay of
  * the same deterministic epochs.
  */
class CrossProcessSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork one RaceWriter JVM (inherits this test JVM's classpath). */
  private def fork(mode: String, args: Seq[String], xmx: String): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx" + xmx) ++ addOpens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.RaceWriter", mode) ++ args
    new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
  }

  private def await(ps: Seq[Process], timeoutSec: Long): Seq[String] = {
    val outs = ps.map { p =>
      val out = new String(p.getInputStream.readAllBytes())
      assert(p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS),
        s"race writer did not finish within ${timeoutSec}s:\n$out")
      (p.exitValue(), out)
    }
    outs.foreach { case (code, out) =>
      assert(code == 0, s"race writer failed (exit $code):\n$out")
      assert(out.contains("RACE_OK"), s"race writer missing RACE_OK:\n$out")
    }
    outs.map(_._2)
  }

  test("two OS processes racing raw commits: every epoch lands exactly once") {
    val dir = SparkTestBase.tmpDir("graft-xproc-raw")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 4)
    // pre-register schema id 0 so writers need no schema race to start
    t.ensureSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("repo",
        org.apache.spark.sql.types.StringType))))
    val n = 60
    val outs = await(Seq(
      fork("raw", Seq(s"$dir/t", "1", n.toString), "256m"),
      fork("raw", Seq(s"$dir/t", "2", n.toString), "256m")), 120)
    val t2 = IceliteTable.load(s"$dir/t") // fresh instance, no warm caches
    val chain = t2.snapshotChain
    // zero lost updates: both writers' full epoch sets are on ONE chain
    val expected = (0 until n).map(i => 100000L + i).toSet ++
      (0 until n).map(i => 200000L + i).toSet
    assert(t2.committedEpochs == expected)
    // zero duplicates: each epoch committed exactly one snapshot
    val epochs = chain.map(_.batchEpoch).filter(_ >= 0)
    assert(epochs.size == epochs.distinct.size && epochs.size == 2 * n)
    assert(t2.currentSnapshot.get.totalRows == 2L * n)
    // the contention was real: at least one loser had to retry
    val conflicts = outs.map(_.split("conflicts=")(1).trim.toInt).sum
    assert(conflicts > 0, s"no pointer-claim conflict ever fired: $outs")
  }

  test("two OS processes racing applyBatch MERGEs + cross-redelivery " +
      "equal a sequential replay (copy-on-write)") {
    val dir = SparkTestBase.tmpDir("graft-xproc-cow")
    IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val (nEvents, nEpochs) = (24000L, 6)
    // writer 1: epochs 0,2,4 then re-delivers 1,3; writer 2: 1,3,5 then 0,2
    await(Seq(
      fork("cow", Seq(s"$dir/t", "1", "0,2,4", "1,3", nEvents.toString,
        nEpochs.toString), "3g"),
      fork("cow", Seq(s"$dir/t", "2", "1,3,5", "0,2", nEvents.toString,
        nEpochs.toString), "3g")), 600)

    val raced = IceliteTable.load(s"$dir/t")
    val racedEpochs = raced.snapshotChain.map(_.batchEpoch).filter(_ >= 0)
    assert(racedEpochs.sorted == (0 until nEpochs).map(_.toLong).toList,
      s"each epoch must commit exactly once, got $racedEpochs")

    // sequential single-writer oracle over the same deterministic batches
    val seqT = IceliteTable.create(s"$dir/seq", Seq("repo", "path"), 8)
    val seqE = new CdcEngine(spark, seqT, EngineConf(buckets = 8))
    (0 until nEpochs).foreach(e =>
      seqE.applyBatch(e, RaceWriter.epochBatch(spark, e, nEvents, nEpochs)))

    val racedE = new CdcEngine(spark, raced, EngineConf(buckets = 8))
    val cols = Seq("repo", "path", "commit", "lang", "content", "_lsn", "_seq")
    val a = racedE.currentState().selectExpr(cols: _*)
    val b = seqE.currentState().selectExpr(cols: _*)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "raced state diverged from the sequential replay")
  }

  test("two OS-process coordinators racing multi-table catalog transactions") {
    val dir = SparkTestBase.tmpDir("graft-xproc-txn")
    IceliteTable.create(s"$dir/files", Seq("repo", "path"), 8)
    IceliteTable.create(s"$dir/repos", Seq("repo"), 4)
    val cat = IceliteCatalog.create(s"$dir/cat")
    cat.registerTable("files", s"$dir/files")
    cat.registerTable("repos", s"$dir/repos")
    val (nEvents, nEpochs) = (16000L, 6)
    await(Seq(
      fork("txn", Seq(dir, "1", "0,1,2", nEvents.toString, nEpochs.toString), "3g"),
      fork("txn", Seq(dir, "2", "3,4,5", nEvents.toString, nEpochs.toString), "3g")), 600)

    val cat2 = IceliteCatalog.load(s"$dir/cat")
    // every txn exactly once on the version chain (2 DDL + 6 txn versions)
    val txns = cat2.history.map(_.txnId).filter(_ >= 0)
    assert(txns.size == txns.distinct.size && txns.toSet ==
      (0 until nEpochs).map(_.toLong).toSet,
      s"catalog txn ledger corrupted: $txns")
    assert(cat2.version == 2 + nEpochs)
    // no pending publishes, no stage leaks on either table
    val files = new CdcEngine(spark, IceliteTable.load(s"$dir/files"),
      EngineConf(buckets = 8))
    val repos = new CdcEngine(spark, IceliteTable.load(s"$dir/repos"),
      EngineConf(buckets = 4))
    assert(AtomicTxn.recover(cat2,
      Map("files" -> files, "repos" -> repos), sweepOrphans = true) == (0, 0),
      "recover found pending publishes or orphaned stages after the race")
    // each table's pinned ref is its current head (publishes all completed)
    val refs = cat2.refs()
    assert(refs("files").snapshotId == files.table.currentSnapshotId)
    assert(refs("repos").snapshotId == repos.table.currentSnapshotId)

    // sequential oracle: same epochs, one coordinator, fresh catalog
    val seqFiles = new CdcEngine(spark,
      IceliteTable.create(s"$dir/sf", Seq("repo", "path"), 8), EngineConf(buckets = 8))
    val seqRepos = new CdcEngine(spark,
      IceliteTable.create(s"$dir/sr", Seq("repo"), 4), EngineConf(buckets = 4))
    val seqCat = IceliteCatalog.create(s"$dir/scat")
    seqCat.registerTable("files", s"$dir/sf")
    seqCat.registerTable("repos", s"$dir/sr")
    (0 until nEpochs).foreach { e =>
      val b = RaceWriter.epochBatch(spark, e, nEvents, nEpochs)
      AtomicTxn.commit(seqCat, e,
        Seq(("files", seqFiles, b), ("repos", seqRepos, graft.synth.Synth.repoRollup(b))))
    }
    val fcols = Seq("repo", "path", "commit", "lang", "content", "_lsn")
    assert(files.currentState().selectExpr(fcols: _*)
      .exceptAll(seqFiles.currentState().selectExpr(fcols: _*)).isEmpty)
    val rcols = Seq("repo", "content", "_lsn")
    assert(repos.currentState().selectExpr(rcols: _*)
      .exceptAll(seqRepos.currentState().selectExpr(rcols: _*)).isEmpty)
  }
}
