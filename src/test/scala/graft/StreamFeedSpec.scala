package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.streaming.feed.CdfSource
import graft.synth.Synth

/** The table as a Structured Streaming SOURCE (`icelite-feed`): snapshot-id
  * offsets, pinned replayable windows, checkpoint-resumed exactly-once
  * delivery of the change feed. */
class StreamFeedSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def shifted(n: Long, seed: Long, by: Long): DataFrame =
    Synth.events(spark, n, seed = seed)
      .withColumn("commit_lsn", org.apache.spark.sql.functions.col("commit_lsn") + by)

  private def drain(feed: DataFrame, outDir: String, ckpt: String): Unit = {
    val q = feed.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
  }

  test("changes stream: bootstrap + incremental windows, checkpoint-resumed, no duplicates") {
    val dir = SparkTestBase.tmpDir("feedstream")
    val root = s"$dir/t"
    val engine = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8), EngineConf(buckets = 8))
    engine.applyBatch(0, Synth.events(spark, 1000, seed = 61))
    val sid0 = engine.table.currentSnapshotId
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    def feed = spark.readStream.format("icelite-feed").option("path", root).load()

    // stage A — bootstrap: the first micro-batch is changesSince(-1, head],
    // i.e. a full conservative redelivery of the visible state
    drain(feed, out, ckpt)
    val stageA = rowsOf(spark.read.parquet(out))
    assert(stageA === rowsOf(engine.changesSince(-1L, toSnapshotId = sid0)))

    // stage B — an incremental window: restart from the checkpoint, commit
    // one more batch; exactly the (sid0, sid1] diff is appended
    engine.applyBatch(1, shifted(1000, seed = 62, by = 1000))
    val sid1 = engine.table.currentSnapshotId
    drain(feed, out, ckpt)
    val stageB = rowsOf(spark.read.parquet(out))
    assert(stageB === (stageA ++
      rowsOf(engine.changesSince(sid0, toSnapshotId = sid1))).sorted)

    // stage C — nothing new committed: a re-run appends nothing (the offset
    // is the head snapshot id; equal offsets mean no batch)
    drain(feed, out, ckpt)
    assert(rowsOf(spark.read.parquet(out)) === stageB)

    // stage D — mid-stream REBUCKET: the source adopts the new layout (the
    // engine wrapper is rebuilt per call) and the next window is exact
    val engine16 = engine.rebucket(16)
    engine16.applyBatch(2, shifted(600, seed = 63, by = 2000))
    val sid2 = engine16.table.currentSnapshotId
    drain(feed, out, ckpt)
    assert(rowsOf(spark.read.parquet(out)) === (stageB ++
      rowsOf(engine16.changesSince(sid1, toSnapshotId = sid2))).sorted)
  }

  test("changelog stream delivers CDF image rows for a pinned start") {
    val dir = SparkTestBase.tmpDir("feedstream-cdf")
    val root = s"$dir/t"
    val engine = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8, mergeOnRead = true),
      EngineConf(buckets = 8))
    engine.applyBatch(0, Synth.events(spark, 800, seed = 71))
    val sid0 = engine.table.currentSnapshotId
    engine.applyBatch(1, shifted(800, seed = 72, by = 800))
    val sid1 = engine.table.currentSnapshotId
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val feed = spark.readStream.format("icelite-feed")
      .option("path", root).option("mode", "changelog")
      .option("sinceSnapshot", sid0).load()
    assert(feed.schema.fieldNames.contains("_change_type"))
    drain(feed, out, ckpt)
    assert(rowsOf(spark.read.parquet(out)) ===
      rowsOf(engine.changelogSince(sid0, toSnapshotId = sid1)))
  }

  test("push-based replication: streaming feed + foreachBatch MERGE mirrors the table") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = SparkTestBase.tmpDir("feedstream-repl")
    val root = s"$dir/src"
    val source = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8), EngineConf(buckets = 8))
    val mirror = new CdcEngine(spark,
      IceliteTable.create(s"$dir/mirror", Seq("repo", "path"), 8), EngineConf(buckets = 8))
    source.applyBatch(0, Synth.events(spark, 900, seed = 81))
    // the push twin of FeedConsumer.sync: each micro-batch is one feed
    // window; the stamp must be strictly increasing across windows (the
    // batchId is), and the epoch = batchId makes crash re-runs idempotent
    def replicate(): Unit = {
      val q = spark.readStream.format("icelite-feed").option("path", root).load()
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: DataFrame, id: Long) =>
          val envelope = Set("_op", "_lsn", "_seq", "_ts", "content_sha256")
          val payload = df.columns.filterNot(c =>
            envelope.contains(c) || c == "repo" || c == "path")
          mirror.applyBatch(id, df.select(
            Seq(col("repo"), col("path")) ++ payload.map(col) ++ Seq(
              col("_op").as("op"), lit(id).as("commit_lsn"),
              lit(0).as("seq"), col("_ts").as("ts")): _*))
          ()
        }.start()
      try { q.processAllAvailable() } finally q.stop()
    }
    def visible(e: CdcEngine): Seq[String] = rowsOf(e.currentState()
      .select("repo", "path", "commit", "lang", "content", "_op", "_ts", "content_sha256"))
    replicate()
    assert(visible(mirror) === visible(source), "mirror diverged after bootstrap")
    source.applyBatch(1, shifted(900, seed = 82, by = 900))
    source.applyBatch(2, shifted(400, seed = 83, by = 1800))
    replicate()
    assert(visible(mirror) === visible(source), "mirror diverged after incremental windows")
    // tombstone-GC purge inside the next window: the stream's changesSince
    // synthesizes deletes for the GC'd keys (Snapshot.purge), so the mirror
    // must stay equal even though no tombstone cell survives at the source
    source.applyBatch(3, shifted(400, seed = 84, by = 2600))
    source.compact(purgeTombstonesBelowLsn =
      source.highWatermark(source.table.currentSnapshotId) + 1)
    assert(source.currentCells().filter(col("_op.v") === "D").count() === 0L)
    replicate()
    assert(visible(mirror) === visible(source), "mirror diverged across a purge window")
  }

  test("declarative replication: feed source straight into the icelite sink, no foreachBatch") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = SparkTestBase.tmpDir("feedstream-decl")
    val root = s"$dir/src"
    val source = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8), EngineConf(buckets = 8))
    val mirrorRoot = s"$dir/mirror"
    IceliteTable.create(mirrorRoot, Seq("repo", "path"), 8)
    source.applyBatch(0, Synth.events(spark, 900, seed = 85))
    // _window_end (the window's end snapshot id) is constant per batch and
    // strictly increasing across windows — exactly the LWW stamp the mirror
    // MERGE needs, so the whole pipeline is source -> select -> sink
    val pipe = spark.readStream.format("icelite-feed")
      .option("path", root).option("stampWindowEnd", true).load()
      .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"),
        col("_op").as("op"), col("_window_end").as("commit_lsn"),
        lit(0).as("seq"), col("_ts").as("ts"))
    def replicate(): Unit = {
      val q = pipe.writeStream.format("icelite")
        .option("path", mirrorRoot).option("checkpointLocation", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }
    def visible(e: CdcEngine): Seq[String] = rowsOf(e.currentState()
      .select("repo", "path", "commit", "lang", "content", "_op", "_ts", "content_sha256"))
    replicate()
    val mirror = new CdcEngine(spark,
      IceliteTable.load(mirrorRoot), EngineConf(buckets = 8))
    assert(visible(mirror) === visible(source), "mirror diverged after bootstrap")
    // two more source snapshots (updates + fresh keys), one checkpointed
    // restart: exactly the missed windows apply, in order
    source.applyBatch(1, shifted(900, seed = 86, by = 900))
    source.applyBatch(2, shifted(400, seed = 87, by = 1800))
    replicate()
    val mirror2 = new CdcEngine(spark,
      IceliteTable.load(mirrorRoot), EngineConf(buckets = 8))
    assert(visible(mirror2) === visible(source), "mirror diverged after incremental windows")
    // idle re-run: no new source snapshot, the mirror chain does not grow
    val head = mirror2.table.currentSnapshotId
    replicate()
    assert(IceliteTable.load(mirrorRoot).currentSnapshotId === head,
      "idle re-run committed to the mirror")
  }

  test("mid-stream schema evolution fails the stream loudly; a restart adopts it") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = SparkTestBase.tmpDir("feedstream-evolve")
    val root = s"$dir/t"
    val engine = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8), EngineConf(buckets = 8))
    engine.applyBatch(0, Synth.events(spark, 500, seed = 91))
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    def feed = spark.readStream.format("icelite-feed").option("path", root).load()
    // one RUNNING query across the evolution: bootstrap drains under the
    // original schema, then a new payload column arrives — the running
    // stream must FAIL loudly (pinned schema), not silently drop columns
    // or corrupt the sink
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = feed.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        engine.applyBatch(1, shifted(500, seed = 92, by = 500)
          .withColumn("reviewer", concat(lit("rev-"), col("commit_lsn") % 7)))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(e.getMessage.contains("schema evolved mid-stream"), s"got: ${e.getMessage}")
    // a RESTARTED stream (fresh plan, fresh pinned schema, same checkpoint)
    // adopts the evolved schema and delivers the missed window exactly once
    // (the sink is a collector: the parquet sink's _spark_metadata log is
    // per-output-dir and would not survive an output switch)
    assert(feed.schema.fieldNames.contains("reviewer"))
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q2 = feed.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized { got ++= df.collect().map(_.toString) }; ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    val sid1 = engine.table.currentSnapshotId
    val expected = engine.changesSince(engine.table.snapshot(sid1).parentId,
      toSnapshotId = sid1)
    assert(got.synchronized(got.sorted.toSeq) === rowsOf(expected))
  }

  test("maxSnapshotsPerTrigger drains a deep backlog in bounded windows") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = SparkTestBase.tmpDir("feedstream-paced")
    val root = s"$dir/src"
    val source = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8), EngineConf(buckets = 8))
    (0 until 6).foreach(i => source.applyBatch(i, shifted(300, seed = 100 + i, by = 300L * i)))
    val mirror = new CdcEngine(spark,
      IceliteTable.create(s"$dir/mirror", Seq("repo", "path"), 8), EngineConf(buckets = 8))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("icelite-feed")
      .option("path", root).option("maxSnapshotsPerTrigger", 2).load()
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val envelope = Set("_op", "_lsn", "_seq", "_ts", "content_sha256")
        val payload = df.columns.filterNot(c =>
          envelope.contains(c) || c == "repo" || c == "path")
        val res = mirror.applyBatch(id, df.select(
          Seq(col("repo"), col("path")) ++ payload.map(col) ++ Seq(
            col("_op").as("op"), lit(id).as("commit_lsn"),
            lit(0).as("seq"), col("_ts").as("ts")): _*))
        batchSizes.synchronized { batchSizes += res.events }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // 6 committed snapshots at 2 per trigger = exactly 3 bounded windows...
    assert(batchSizes.synchronized(batchSizes.size) === 3,
      s"expected 3 paced windows, got ${batchSizes.synchronized(batchSizes.toList)}")
    // ...whose mirror-fold equals the source's visible state
    def visible(e: CdcEngine): Seq[String] = rowsOf(e.currentState()
      .select("repo", "path", "commit", "lang", "content", "_op", "_ts", "content_sha256"))
    assert(visible(mirror) === visible(source), "paced mirror diverged")
  }

  test("maxSnapshotsPerTrigger walks the backlog once: walk reads equal the backlog at k = 1") {
    val dir = SparkTestBase.tmpDir("feedstream-walk")
    val root = s"$dir/src"
    val source = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8), EngineConf(buckets = 8))
    (0 until 12).foreach(i => source.applyBatch(i, shifted(40, seed = 300 + i, by = 40L * i)))
    val chain = source.table.snapshotChain.map(_.snapshotId)
    assert(chain.size >= 12)
    val feed = new CdfSource(spark.sqlContext,
      Map("path" -> root, "maxSnapshotsPerTrigger" -> "1"))
    def offset(): Long = feed.getOffset.get.json.toLong
    // one trigger per snapshot, oldest first — each walk re-walking the
    // remaining backlog would read chain.size * (chain.size + 1) / 2
    assert(chain.map(_ => offset()) === chain)
    assert(feed.backlogWalkReads === chain.size.toLong,
      s"the walk should read each of the ${chain.size} backlog manifests once, " +
        s"read ${feed.backlogWalkReads}")
    // commits after the drain extend the walk by their own suffix only
    source.applyBatch(12, shifted(40, seed = 312, by = 480L))
    source.applyBatch(13, shifted(40, seed = 313, by = 520L))
    val head = source.table.currentSnapshotId
    assert(Seq(offset(), offset()).last === head)
    assert(feed.backlogWalkReads === chain.size + 2L)
  }

  test("maxSnapshotsPerTrigger behind an expiring source: the next offset is a retained snapshot") {
    val dir = SparkTestBase.tmpDir("feedstream-expire")
    val root = s"$dir/src"
    val source = new CdcEngine(spark,
      IceliteTable.create(root, Seq("repo", "path"), 8), EngineConf(buckets = 8))
    (0 until 10).foreach(i => source.applyBatch(i, shifted(40, seed = 400 + i, by = 40L * i)))
    val feed = new CdfSource(spark.sqlContext,
      Map("path" -> root, "maxSnapshotsPerTrigger" -> "1"))
    var last = feed.getOffset.get
    last = feed.getOffset.get
    // the offset handed out next must name a manifest that still exists,
    // and its window must resolve (getBatch walks it on the driver)
    def step(): Unit = {
      val next = feed.getOffset.get
      val id = next.json.toLong
      assert(source.table.hasSnapshot(id), s"offset $id names an expired snapshot")
      assert(feed.getBatch(Some(last), next).schema === feed.schema)
      last = next
    }
    // expiry with no commit: the head is unchanged, so the stepper does not
    // walk again, yet the backlog it cached starts at an expired id
    source.table.expireSnapshots(7)
    step()
    // a commit, then expiry: the walk from the new head stops at the head
    // walked last, above ids expiry deleted
    source.applyBatch(10, shifted(40, seed = 410, by = 400L))
    source.table.expireSnapshots(3)
    step()
    // the drain still ends at the head
    val head = source.table.currentSnapshotId
    (0 until 3).foreach(_ => if (last.json.toLong != head) step())
    assert(last.json.toLong === head)
  }

  test("stream over a never-written table fails loudly at start") {
    val dir = SparkTestBase.tmpDir("feedstream-empty")
    IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val e = intercept[Exception] {
      spark.readStream.format("icelite-feed").option("path", s"$dir/t").load()
    }
    assert(e.getMessage.contains("no snapshot"), s"got: ${e.getMessage}")
  }
}
