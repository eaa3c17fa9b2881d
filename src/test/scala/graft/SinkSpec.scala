package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase.{fileTail, runSink}
import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.streaming.sink.IceliteSinkProvider
import graft.synth.Synth

/** The table as a first-class Structured Streaming SINK
  * (`writeStream.format("icelite")`): stock-API ingest with exactly-once
  * from the epoch ledger alone, create-if-missing, engine knobs as options,
  * and mid-stream maintenance adoption. */
class SinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def assertMatchesOracle(engine: CdcEngine,
      all: org.apache.spark.sql.DataFrame): Unit = {
    val oracle = TestOracle.finalState(all.collect().toSeq, Seq("commit", "lang", "content"))
    val got = engine.currentState().collect().map { r =>
      (r.getString(r.fieldIndex("repo")), r.getString(r.fieldIndex("path"))) -> r
    }.toMap
    assert(got.keySet === oracle.keySet)
    for ((k, ks) <- oracle) {
      val r = got(k)
      assert(r.getLong(r.fieldIndex("_lsn")) === ks.lsn, s"lsn at $k")
      val c = if (r.isNullAt(r.fieldIndex("content"))) null
              else r.getString(r.fieldIndex("content"))
      assert(c === ks.cols.getOrElse("content", null).asInstanceOf[String], s"content at $k")
    }
  }

  test("format(icelite) ingest: create-if-missing, equals naive fold, exactly-once") {
    val work = SparkTestBase.tmpDir("sink")
    val input = s"$work/in"; val ckpt = s"$work/ckpt"; val root = s"$work/t"
    val N = 4000L
    val ev = Synth.events(spark, N, seed = 121, repos = 20, pathsPerRepo = 50)
    ev.filter(s"commit_lsn < ${N / 2}").coalesce(1).write.mode("append").parquet(input)
    ev.filter(s"commit_lsn >= ${N / 2}").coalesce(1).write.mode("append").parquet(input)

    // no table yet: keyCols creates it
    runSink(fileTail(input, 1), ckpt, root,
      Map("keyCols" -> "repo,path", "buckets" -> "8"))
    val table = IceliteTable.load(root)
    assert(table.meta.keyCols === List("repo", "path"))
    assert(table.currentBuckets === 8)
    assert(table.currentSnapshotId >= 1, "two micro-batches must have committed")

    // empty re-run from the same checkpoint: no new snapshot
    val before = table.currentSnapshotId
    runSink(fileTail(input), ckpt, root)
    assert(table.currentSnapshotId === before, "exactly-once violated on empty re-run")

    // a replayed epoch (crash between sink write and checkpoint advance)
    // is skipped by the engine's ledger — no sink-side bookkeeping needed
    val engine = new CdcEngine(spark, table, EngineConf(buckets = 8))
    val replay = engine.applyBatch(0, ev.filter(s"commit_lsn < ${N / 2}"))
    assert(replay.skipped, "epoch 0 must already be in the ledger")
    assert(table.currentSnapshotId === before)

    // wave 2 resumes from the checkpoint
    val all = Synth.events(spark, N + 1000, seed = 121, repos = 20, pathsPerRepo = 50)
    all.filter(s"commit_lsn >= $N").coalesce(1).write.mode("append").parquet(input)
    runSink(fileTail(input), ckpt, root)
    assertMatchesOracle(engine, all)
  }

  test("merge-on-read create with auto-compaction, all through options") {
    val work = SparkTestBase.tmpDir("sinkmor")
    val input = s"$work/in"; val root = s"$work/t"
    val N = 3000L
    val ev = Synth.events(spark, N, seed = 127, repos = 20, pathsPerRepo = 50)
    (0 until 3).foreach(i =>
      ev.filter(s"commit_lsn >= ${i * N / 3} and commit_lsn < ${(i + 1) * N / 3}")
        .coalesce(1).write.mode("append").parquet(input))
    runSink(fileTail(input, 1), s"$work/ckpt", root,
      Map("keyCols" -> "repo,path", "buckets" -> "4", "mergeOnRead" -> "true",
        "morCompactThreshold" -> "2"))
    val table = IceliteTable.load(root)
    assert(table.meta.mergeOnRead)
    // threshold 2 with 3 delta batches: every bucket stays under the pile cap
    val head = table.currentSnapshot.get
    assert(table.bucketFilesOf(head).values.forall(_.size <= 2),
      "auto-compaction must bound the delta pile")
    assertMatchesOracle(new CdcEngine(spark, table, EngineConf(buckets = 4)), ev)
  }

  test("size-tiered maintenance through options: a big first wave becomes the base, later piles fold minor") {
    val work = SparkTestBase.tmpDir("sinktier")
    val input = s"$work/in"; val root = s"$work/t"
    // wave 0 is large (the base after the first, base-less, full rewrite);
    // waves 1..5 are small churn whose piles stay under half the base
    val seed = Synth.events(spark, 3000, seed = 137, repos = 20, pathsPerRepo = 50)
    seed.coalesce(1).write.mode("append").parquet(input)
    val churn = Synth.events(spark, 500, seed = 138, repos = 20, pathsPerRepo = 50)
      .selectExpr("repo", "path", "commit", "lang", "content", "op",
        "commit_lsn + 3000 AS commit_lsn", "seq", "ts")
    (0 until 5).foreach(i =>
      churn.filter(s"commit_lsn % 5 = $i").coalesce(1)
        .write.mode("append").parquet(input))
    runSink(fileTail(input, 1), s"$work/ckpt", root,
      Map("keyCols" -> "repo,path", "buckets" -> "4", "mergeOnRead" -> "true",
        "morCompactThreshold" -> "2", "morMinorRatio" -> "0.5"))
    val table = IceliteTable.load(root)
    val head = table.currentSnapshot.get
    val files = table.bucketFilesOf(head)
    // the pile stayed bounded, a base formed, and BOTH tiers fired: a
    // maintenance commit (batchEpoch -1) that writes an UNMERGED file is a
    // minor fold (full rewrites emit only merged files), one that writes a
    // merged file is a major round
    assert(files.values.forall(_.count(!_.merged) <= 2),
      "tiered maintenance must bound the delta pile")
    assert(files.values.flatten.exists(_.merged), "a base must have formed")
    val maint = table.snapshotChain.filter(_.batchEpoch == -1L)
    assert(maint.exists(_.bucketDelta.values.flatten.exists(f => !f.merged)),
      "expected at least one MINOR maintenance round")
    assert(maint.exists(_.bucketDelta.values.flatten.exists(_.merged)),
      "expected at least one MAJOR maintenance round")
    val all = seed.unionByName(churn)
    assertMatchesOracle(new CdcEngine(spark, table, EngineConf(buckets = 4)), all)
  }

  test("maintenance between waves is adopted: rebucket mid-stream") {
    val work = SparkTestBase.tmpDir("sinkrb")
    val input = s"$work/in"; val ckpt = s"$work/ckpt"; val root = s"$work/t"
    val N = 3000L
    val ev = Synth.events(spark, N, seed = 131, repos = 20, pathsPerRepo = 50)
    ev.filter(s"commit_lsn < ${N / 2}").coalesce(1).write.mode("append").parquet(input)
    runSink(fileTail(input), ckpt, root, Map("keyCols" -> "repo,path", "buckets" -> "4"))
    val table = IceliteTable.load(root)
    new CdcEngine(spark, table, EngineConf(buckets = 4)).rebucket(16)
    // wave 2 through the SAME checkpoint: the sink reloads the table per
    // batch and must adopt the evolved layout, not crash on it
    ev.filter(s"commit_lsn >= ${N / 2}").coalesce(1).write.mode("append").parquet(input)
    runSink(fileTail(input), ckpt, root)
    val after = IceliteTable.load(root)
    assert(after.currentBuckets === 16)
    assertMatchesOracle(new CdcEngine(spark, after, EngineConf(buckets = 16)), ev)
  }

  test("misuse fails loudly: partitionBy, Complete mode, missing path/keyCols") {
    val p = new IceliteSinkProvider
    val work = SparkTestBase.tmpDir("sinkerr")
    val existing = IceliteTable.create(s"$work/t", Seq("repo", "path"), 4)
    existing.root.toString // touch
    val part = intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, Map("path" -> s"$work/t"), Seq("repo"), OutputMode.Append())
    }
    assert(part.getMessage.contains("partitionBy"))
    val complete = intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, Map("path" -> s"$work/t"), Nil, OutputMode.Complete())
    }
    assert(complete.getMessage.contains("Complete"))
    val nopath = intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, Map.empty, Nil, OutputMode.Append())
    }
    assert(nopath.getMessage.contains("path"))
    val nokeys = intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, Map("path" -> s"$work/absent"), Nil, OutputMode.Append())
    }
    assert(nokeys.getMessage.contains("keyCols"))
  }
}
