package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{fileTail, runSink}
import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** End-to-end Structured Streaming: file-source tail -> icelite sink MERGE,
  * with checkpoint resume and exactly-once no-op re-runs. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("streamed ingest equals naive fold; re-run without new input is a no-op") {
    val work = SparkTestBase.tmpDir("stream")
    val input = s"$work/in"
    val ckpt = s"$work/ckpt"
    val N = 4000L
    val ev = Synth.events(spark, N, seed = 21, repos = 20, pathsPerRepo = 50)

    // wave 1: two files -> two micro-batches (maxFilesPerTrigger=1)
    ev.filter(s"commit_lsn < ${N / 2}").coalesce(1).write.mode("append").parquet(input)
    ev.filter(s"commit_lsn >= ${N / 2}").coalesce(1).write.mode("append").parquet(input)
    val table = IceliteTable.create(s"$work/t", Seq("repo", "path"), 8)
    val engine = new CdcEngine(spark, table, EngineConf(buckets = 8))
    runSink(fileTail(input, 1), ckpt, table.root.toString)
    assert(table.currentSnapshotId >= 1) // at least two batch commits

    // no new input: stream restart must not produce a new snapshot
    val before = table.currentSnapshotId
    runSink(fileTail(input), ckpt, table.root.toString)
    assert(table.currentSnapshotId === before, "exactly-once violated on empty re-run")

    // wave 2: later lsn range, resume from the same checkpoint
    Synth.events(spark, N + 1000, seed = 21, repos = 20, pathsPerRepo = 50)
      .filter(s"commit_lsn >= $N").coalesce(1).write.mode("append").parquet(input)
    runSink(fileTail(input), ckpt, table.root.toString)

    val all = Synth.events(spark, N + 1000, seed = 21, repos = 20, pathsPerRepo = 50)
    val oracle = TestOracle.finalState(all.collect().toSeq, Seq("commit", "lang", "content"))
    val got = engine.currentState().collect().map { r =>
      (r.getString(r.fieldIndex("repo")), r.getString(r.fieldIndex("path"))) -> r
    }.toMap
    assert(got.keySet === oracle.keySet)
    for ((k, ks) <- oracle) {
      val r = got(k)
      assert(r.getLong(r.fieldIndex("_lsn")) === ks.lsn, s"lsn at $k")
      val c = if (r.isNullAt(r.fieldIndex("content"))) null else r.getString(r.fieldIndex("content"))
      assert(c === ks.cols.getOrElse("content", null).asInstanceOf[String], s"content at $k")
    }
  }

  test("streaming into a merge-on-read table: same fold, delta appends, exactly-once") {
    val work = SparkTestBase.tmpDir("streammor")
    val input = s"$work/in"
    val N = 3000L
    val ev = Synth.events(spark, N, seed = 27, repos = 20, pathsPerRepo = 50)
    ev.filter(s"commit_lsn < ${N / 2}").coalesce(1).write.mode("append").parquet(input)
    ev.filter(s"commit_lsn >= ${N / 2}").coalesce(1).write.mode("append").parquet(input)
    val table = IceliteTable.create(s"$work/t", Seq("repo", "path"), 8, mergeOnRead = true)
    val engine = new CdcEngine(spark, table, EngineConf(buckets = 8))
    runSink(fileTail(input, 1), s"$work/ckpt", table.root.toString)
    // two streamed batches appended deltas (no bucket rewrites)
    assert(table.bucketFilesOf(table.currentSnapshot.get).values.exists(_.size >= 2))
    val before = table.currentSnapshotId
    runSink(fileTail(input), s"$work/ckpt", table.root.toString)
    assert(table.currentSnapshotId === before, "exactly-once violated on empty re-run")
    val oracle = TestOracle.finalState(ev.collect().toSeq, Seq("commit", "lang", "content"))
    val got = engine.currentState().collect().map { r =>
      (r.getString(r.fieldIndex("repo")), r.getString(r.fieldIndex("path"))) -> r
    }.toMap
    assert(got.keySet === oracle.keySet)
    for ((k, ks) <- oracle)
      assert(got(k).getLong(got(k).fieldIndex("_lsn")) === ks.lsn, s"lsn at $k")
  }
}
