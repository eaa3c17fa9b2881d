package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** The state readers plan from one snapshot and share one rule for which
  * buckets need the LWW merge: a head read parses the head manifest once,
  * and a bucket whose files are all final state (one file, or every file
  * `merged`) is read as written by every reader. */
class StateReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def morEngine(name: String, buckets: Int): CdcEngine = {
    val dir = SparkTestBase.tmpDir(name)
    new CdcEngine(spark,
      IceliteTable.create(s"$dir/t", Seq("repo", "path"), buckets, mergeOnRead = true),
      EngineConf(buckets = buckets))
  }

  /** Manifest parses of `f`'s second call; the first warms the caches. */
  private def warmReads(e: CdcEngine)(f: => Any): Long = {
    f
    val before = e.table.manifestReads
    f
    e.table.manifestReads - before
  }

  private def plansMerge(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.nonEmpty

  /** One key's update: a new `content`, every other column carried forward. */
  private def update(repo: String, path: String, lsn: Long): DataFrame =
    Seq((repo, path, lsn, 0, "U", "PATCHED"))
      .toDF("repo", "path", "commit_lsn", "seq", "op", "content")
      .withColumn("ts", timestamp_seconds(lit(1700000000L)))

  test("a warm head read parses one manifest") {
    val e = morEngine("stateread-reads", 4)
    val ev = Synth.events(spark, 400, seed = 141, repos = 4, pathsPerRepo = 20)
    e.applyBatch(0, ev.filter(col("commit_lsn") < 200))
    e.applyBatch(1, ev.filter(col("commit_lsn") >= 200))
    // the head commit touched every bucket: a pending delta in each
    val head = e.table.currentSnapshot.get
    assert(head.bucketDelta.keySet === (0 until 4).map(_.toString).toSet)
    assert(head.bucketDelta.valuesIterator.forall(_.size === 2))
    val k = e.currentState().select("repo", "path").head()
    val (repo, path) = (k.getString(0), k.getString(1))
    val reads = Seq(
      "currentState" -> warmReads(e)(e.currentState()),
      "pointLookup" -> warmReads(e)(e.pointLookup(repo, path)),
      "scanWhere" -> warmReads(e)(e.scanWhere(Seq(("lang", Some("py"), Some("py"))))),
      "scanLsnRange" -> warmReads(e)(e.scanLsnRange(0L, Long.MaxValue)))
    assert(reads.forall(_._2 == 1L), s"manifest parses per warm head read: $reads")
  }

  test("a bucket of merged files is read as written until a delta lands in it") {
    val e = morEngine("stateread-merge", 1)
    val ev = Synth.events(spark, 300, seed = 142, repos = 3, pathsPerRepo = 30)
      .filter(col("op") =!= "D")
    e.applyBatch(0, ev)
    e.compact(maxFileRows = 10)
    val split = e.table.bucketFilesOf(e.table.currentSnapshot.get)("0")
    assert(split.size > 1 && split.forall(_.merged))
    val keys = e.currentState().select("repo", "path").orderBy("repo", "path")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val ((r1, p1), (r2, p2)) = (keys(0), keys(1))
    assert(!plansMerge(e.currentState()))
    assert(!plansMerge(e.pointLookup(r1, p1)))
    assert(!plansMerge(e.scanLsnRange(0L, Long.MaxValue)))

    e.applyBatch(1, update(r1, p1, 1000000L))
    assert(plansMerge(e.currentState()))
    assert(plansMerge(e.scanLsnRange(0L, Long.MaxValue)))
    val hit = e.pointLookup(r1, p1)
    assert(plansMerge(hit))
    assert(hit.select("content").as[String].collect().toSeq === Seq("PATCHED"))
    // the fingerprint proves the delta misses the other key: no merge
    val miss = e.pointLookup(r2, p2)
    assert(!plansMerge(miss))
    assert(miss.drop("content_sha256").collect().toSeq === e.currentState()
      .filter(col("repo") === r2 && col("path") === p2).drop("content_sha256")
      .collect().toSeq)
  }
}
