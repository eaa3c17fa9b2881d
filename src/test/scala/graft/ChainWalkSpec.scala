package graft

import java.nio.file.{Files, Paths}

import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** Metadata-read complexity of the chain questions, counted in manifest
  * parses (`IceliteTable.manifestReads`): a feed window is walked once, a
  * branch publish or abandon does not walk main once per lane snapshot,
  * and vacuum walks the chain once. Tiny batches on merge-on-read tables;
  * a cached read is counted on its second call, after one warming call. */
class ChainWalkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def engine(name: String, commits: Int): CdcEngine = {
    val dir = SparkTestBase.tmpDir(name)
    val e = new CdcEngine(spark,
      IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true),
      EngineConf(buckets = 8))
    (0 until commits).foreach(i => e.applyBatch(i, batch(i)))
    e
  }

  private def batch(i: Int) =
    Synth.events(spark, 40, seed = 700 + i, repos = 4, pathsPerRepo = 10)
      .withColumn("commit_lsn", org.apache.spark.sql.functions.col("commit_lsn") + 40L * i)

  private def reads(e: CdcEngine)(f: => Any): Long = {
    val before = e.table.manifestReads
    f
    e.table.manifestReads - before
  }

  /** Reads of `f`'s second call; the first warms the caches. */
  private def warmReads(e: CdcEngine)(f: => Any): Long = { f; reads(e)(f) }

  // A 24-snapshot main that only the read-only tests (feeds, vacuum) use;
  // the tests that move refs work on file copies of it, or on a table of
  // their own.
  private lazy val main = engine("chainwalk-main", 24)

  /** An engine over a file copy of `main` (manifests list paths relative
    * to the table root), without replaying its 24 commits. */
  private def copyOfMain(name: String): CdcEngine = {
    val from = main.table.root
    val to = Paths.get(SparkTestBase.tmpDir(name), "t")
    Using.resource(Files.walk(from)) { paths =>
      paths.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    }
    new CdcEngine(spark, IceliteTable.load(to.toString), EngineConf(buckets = 8))
  }

  /** Reads of `read(since)` at windows of 8 and 16 snapshots ending at the head. */
  private def windowReads(read: Long => Any): Seq[Long] = {
    val ids = main.table.snapshotChain.map(_.snapshotId)
    assert(ids.size === 24)
    Seq(8, 16).map(w => warmReads(main)(read(ids(ids.size - 1 - w))))
  }

  test("changesSince walks its window once: <= 2 more reads per extra window snapshot") {
    val head = main.table.currentSnapshotId
    val r = windowReads(since => main.changesSince(since, toSnapshotId = head))
    assert(r(1) - r(0) <= 2 * 8, s"changesSince read $r manifests at W = 8, 16")
  }

  test("changelogSince walks its window once: <= 2 more reads per extra window snapshot") {
    val head = main.table.currentSnapshotId
    val r = windowReads(since => main.changelogSince(since, toSnapshotId = head))
    assert(r(1) - r(0) <= 2 * 8, s"changelogSince read $r manifests at W = 8, 16")
  }

  test("a warm fileGroupsAddedSince reads its window walk and two endpoints") {
    val ids = main.table.snapshotChain.map(_.snapshotId)
    val since = ids(ids.size - 1 - 8)
    val r = warmReads(main)(main.table.fileGroupsAddedSince(since))
    assert(r <= 12, s"fileGroupsAddedSince read $r manifests at W = 8")
  }

  test("publishing a lane reads the same count on a short and a long main") {
    def publishReads(e: CdcEngine): Long = {
      e.createBranch("lane")
      (0 until 4).foreach(i => e.applyBatchToBranch(100L + i, batch(100 + i), "lane"))
      reads(e)(e.publishBranch("lane"))
    }
    val (shortMain, longMain) = (engine("chainwalk-short", 8), copyOfMain("chainwalk-long"))
    assert(shortMain.table.snapshotChain.size === 8)
    assert(longMain.table.snapshotChain.size === 24)
    val (short, long) = (publishReads(shortMain), publishReads(longMain))
    assert(math.abs(long - short) <= 2,
      s"publish read $short manifests on an 8-snapshot main, $long on a 24-snapshot one")
  }

  test("abandonBranch grows by <= 2 reads per lane snapshot") {
    val e = copyOfMain("chainwalk-abandon")
    assert(e.table.snapshotChain.size === 24)
    def abandonReads(name: String, lane: Int): Long = {
      e.createBranch(name)
      (0 until lane).foreach(i => e.applyBatchToBranch(200L + i, batch(200 + i), name))
      reads(e)(e.abandonBranch(name, vacuumGraceMillis = 0L))
    }
    val (l2, l6) = (abandonReads("two", 2), abandonReads("six", 6))
    assert(l6 - l2 <= 2 * 4, s"abandon read $l2 manifests at L = 2, $l6 at L = 6")
  }

  test("vacuum with no refs reads each chain manifest at most once") {
    assert(main.table.branches.isEmpty && main.table.tags.isEmpty)
    val n = main.table.snapshotChain.size
    assert(n === 24)
    val vacuum = warmReads(main)(main.table.vacuum())
    assert(vacuum <= n, s"vacuum read $vacuum manifests on a $n-snapshot chain")
  }
}
