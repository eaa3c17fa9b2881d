package graft

import org.apache.spark.sql.functions.{col, struct, to_json}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.model.ChangeEvent
import graft.streaming.CdcStream
import graft.streaming.binlog.{BinlogClient, BinlogServer}
import graft.synth.Synth

/** The network (Kafka-shaped) source end-to-end: a [[BinlogServer]] on
  * loopback TCP, tailed through the `cdc-binlog` DataSource V2
  * MicroBatchStream and `CdcStream.binlogEvents` into the `icelite` sink.
  * Every record crosses a real socket; the server counts records served,
  * so the specs can assert each offset range was fetched exactly once
  * (replayable source + checkpointed offsets + idempotent sink that pins
  * its batch = exactly-once, measured, not argued). */
class BinlogSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val PARTS = 3

  /** Drain `server` through the sink into the table at `root`. */
  private def tail(server: BinlogServer, root: String, ckpt: String,
      maxRecordsPerTrigger: Long = 0L, options: Map[String, String] = Map.empty): Unit =
    SparkTestBase.runSink(
      CdcStream.binlogEvents(spark, server.address, server.port, maxRecordsPerTrigger),
      ckpt, root, options)

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** Publish events to the server partitioned by key hash (a producer's
    * partitioner), in (commit_lsn, seq) order within the publishing loop. */
  private def publish(server: BinlogServer, jsonByKeyHash: Seq[(Int, String)]): Unit =
    jsonByKeyHash.foreach { case (p, j) => server.append(p, j) }

  private def eventsAsJson(n: Long): Seq[(Int, String)] = {
    import spark.implicits._
    val ev = Synth.events(spark, n, seed = 33, repos = 15, pathsPerRepo = 40)
    ev.select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(col("repo"), col("path")),
          org.apache.spark.sql.functions.lit(PARTS)).as("p"),
        to_json(struct(ev.columns.map(col).toSeq: _*)).as("j"))
      .orderBy(col("j")) // deterministic publish order; LWW is order-insensitive
      .as[(Int, String)].collect().toSeq
  }

  test("network tail equals naive fold; admission control batches; resume fetches only the delta") {
    val work = SparkTestBase.tmpDir("binlog")
    val server = new BinlogServer(PARTS)
    try {
      val N = 3000L
      val all = eventsAsJson(N)
      val (w1, w2) = (all.take(2000), all.drop(2000))

      publish(server, w1)
      val table = IceliteTable.create(s"$work/t", Seq("repo", "path"), 8)
      val engine = new CdcEngine(spark, table, EngineConf(buckets = 8))

      // Admission control: 700 records/trigger over 2000 published -> >= 3
      // micro-batches, each its own epoch-keyed snapshot commit.
      tail(server, table.root.toString, s"$work/ckpt", maxRecordsPerTrigger = 700)
      assert(table.currentSnapshotId >= 2, "admission control should split the drain")
      assert(server.recordsServed === w1.size.toLong,
        "each wave-1 record must cross the wire exactly once")

      // Publish the delta; resume from the same checkpoint: the source must
      // fetch ONLY the new offsets (recordsServed grows by exactly |w2|).
      publish(server, w2)
      tail(server, table.root.toString, s"$work/ckpt")
      assert(server.recordsServed === all.size.toLong,
        "resume must fetch only the published delta")

      // Replay equivalence vs the independent sequential fold.
      val oracle = TestOracle.finalState(
        Synth.events(spark, N, seed = 33, repos = 15, pathsPerRepo = 40).collect().toSeq,
        Seq("commit", "lang", "content"))
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

      // Clean re-run with no new input: no fetch, no snapshot.
      val (snapBefore, servedBefore) = (table.currentSnapshotId, server.recordsServed)
      tail(server, table.root.toString, s"$work/ckpt")
      assert(table.currentSnapshotId === snapBefore, "empty re-run must not commit")
      assert(server.recordsServed === servedBefore, "empty re-run must not fetch")
    } finally server.stop()
  }

  test("batch read snapshots the log; payloads survive the wire byte-exact") {
    val server = new BinlogServer(2)
    try {
      val payloads = Seq(
        (0, "plain"),
        (0, "multi\nline\twith\ttabs"),
        (1, "unicode é中文 😀 and \"quotes\""),
        (1, ""))
      payloads.foreach { case (p, s) => server.append(p, s) }

      val df = spark.read.format("cdc-binlog")
        .option("host", server.address).option("port", server.port).load()
      val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
      assert(rows === Set((0, 0L, "plain"), (0, 1L, "multi\nline\twith\ttabs"),
        (1, 0L, "unicode é中文 😀 and \"quotes\""), (1, 1L, "")))

      // remote producer path: PUBLISH over the socket assigns the next offset
      val client = new BinlogClient(server.address, server.port)
      try {
        assert(client.publish(0, "via-socket") === 2L)
        assert(client.latest().toSeq === Seq(3L, 2L))
        // EMPTY payloads over the wire: an empty base64 token is a trailing
        // empty split field — the unkeyed form must store an empty record
        // (not error), and the keyed form must keep the KEY as the key (not
        // silently reparse as an unkeyed record whose payload is the key)
        assert(client.publish(0, "") === 3L)
        assert(client.publish(1, "the-key", "") === 2L)
        assert(client.fetch(0, 3L, 4L).toSeq === Seq((3L, "")))
        assert(client.fetch(1, 2L, 3L).toSeq === Seq((2L, "")))
        server.append(1, "the-key", "replaces")
        server.compact(1) // keyed empty record participates in compaction
        assert(client.fetch(1, 3L, 4L).toSeq === Seq((3L, "replaces")))
      } finally client.close()
    } finally server.stop()
  }

  test("unparseable wire payloads reach the quarantine with their raw bytes; parsed rows apply") {
    val work = SparkTestBase.tmpDir("binlogdlq")
    val server = new BinlogServer(1)
    try {
      // two valid events bracketing garbage that from_json cannot parse
      val ev = eventsAsJson(2L).map(_._2)
      server.append(0, ev.head)
      server.append(0, "this is not json {")
      server.append(0, ev(1))
      val table = IceliteTable.create(s"$work/t", Seq("repo", "path"), 8)
      val engine = new CdcEngine(spark, table, EngineConf(buckets = 8))
      tail(server, table.root.toString, s"$work/ckpt",
        options = Map("dlqDir" -> s"$work/dlq"))
      // the parsed rows merged; the garbage landed in the engine's epoch
      // quarantine with partition, offset, and the raw text for
      // replay-after-fix; source metadata is never payload
      val state = engine.currentState()
      assert(state.count() === 2)
      assert(!state.columns.exists(_.startsWith(ChangeEvent.SourcePrefix)),
        s"source metadata stored as payload: ${state.columns.mkString(", ")}")
      val r = spark.read.parquet(s"$work/dlq/epoch=0").collect()
      assert(r.length === 1)
      val row = r.head
      assert(row.getAs[Int]("__src_partition") === 0)
      assert(row.getAs[Long]("__src_offset") === 1L)
      assert(row.getAs[String](ChangeEvent.RawCol) === "this is not json {")
      assert(row.getAs[String]("_reason") === "unparseable")
      // redelivery from a fresh checkpoint overwrites idempotently
      val t2 = IceliteTable.create(s"$work/t2", Seq("repo", "path"), 8)
      tail(server, t2.root.toString, s"$work/ckpt2", options = Map("dlqDir" -> s"$work/dlq2"))
      assert(spark.read.parquet(s"$work/dlq2/epoch=0").count() === 1)
      assert(new CdcEngine(spark, t2, EngineConf(buckets = 8)).currentState().count() === 2)
    } finally server.stop()
  }

  test("malformed wire commands get an ERR verdict; the handler and connection survive") {
    val server = new BinlogServer(1)
    try {
      server.append(0, "x")
      val sock = new java.net.Socket(server.address, server.port)
      try {
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream))
        out.println("FETCH 0") // missing args
        assert(in.readLine().startsWith("ERR"))
        out.println("PUBLISH 99 cGF5bG9hZA==") // partition out of range
        assert(in.readLine().startsWith("ERR"))
        out.println("FETCH 0 0 1") // the SAME connection still works
        val block = java.nio.ByteBuffer.allocate(13).putLong(0L).putInt(1).put("x".getBytes("UTF-8"))
        assert(in.readLine() === "B " + java.util.Base64.getEncoder.encodeToString(block.array()))
        assert(in.readLine() === "END")
      } finally sock.close()
    } finally server.stop()
  }

  test("retention: offsets stay stable across truncation; out-of-range reads fail loudly") {
    val server = new BinlogServer(1)
    try {
      (0 until 10).foreach(i => server.append(0, s"r$i"))
      assert(server.truncate(0, 4) === 4L)
      assert(server.earliest.toSeq === Seq(4L) && server.latest.toSeq === Seq(10L))
      // appended offsets continue from the same high-water mark
      assert(server.append(0, "r10") === 10L)

      val client = new BinlogClient(server.address, server.port)
      try {
        assert(client.earliest().toSeq === Seq(4L))
        // surviving records keep their pre-truncation offsets
        assert(client.fetch(0, 4, 6).toSeq === Seq((4L, "r4"), (5L, "r5")))
        // below log-start and past high-water both refuse, not return garbage
        assert(intercept[IllegalStateException](client.fetch(0, 3, 6).toSeq)
          .getMessage.contains("truncated"))
        assert(intercept[IllegalStateException](client.fetch(0, 9, 12).toSeq)
          .getMessage.contains("high-water"))
        // remote retention enforcement + clamping to the high-water mark
        assert(client.truncate(0, 99) === 11L)
      } finally client.close()

      // batch read of a truncated (now empty) log plans zero partitions
      assert(spark.read.format("cdc-binlog")
        .option("host", server.address).option("port", server.port)
        .load().count() === 0L)
    } finally server.stop()
  }

  test("compaction keeps the last record per key at its original offset; the log goes sparse") {
    val server = new BinlogServer(1)
    try {
      server.append(0, "k1", "v1a") // 0
      server.append(0, "k2", "v2a") // 1
      server.append(0, null, "unkeyed") // 2 — must always survive
      server.append(0, "k1", "v1b") // 3
      server.append(0, "k2", "v2b") // 4
      server.append(0, "k1", "v1c") // 5
      assert(server.compact(0) === 3) // unkeyed@2, v2b@4, v1c@5 survive
      assert(server.earliest.toSeq === Seq(0L) && server.latest.toSeq === Seq(6L))

      val client = new BinlogClient(server.address, server.port)
      try {
        // survivors keep their pre-compaction offsets; the interior is sparse
        assert(client.fetch(0, 0, 6).toSeq ===
          Seq((2L, "unkeyed"), (4L, "v2b"), (5L, "v1c")))
        // a range whose interior was fully compacted away returns empty, not error
        assert(client.fetch(0, 0, 2).toSeq === Seq.empty)
        // keyed publish over the socket; appends continue past compaction
        assert(client.publish(0, "k2", "v2c") === 6L)
        assert(client.compact(0) === 3) // v2b loses to v2c; unkeyed/v1c keep
        assert(client.fetch(0, 4, 7).toSeq === Seq((5L, "v1c"), (6L, "v2c")))
      } finally client.close()
    } finally server.stop()
  }

  test("compacted-log replay equals full-log replay (LWW merge over a compacted topic)") {
    import spark.implicits._
    val work = SparkTestBase.tmpDir("binlog-compact")
    val server = new BinlogServer(PARTS)
    try {
      // Full-row events only (no carry-forward nulls except tombstones):
      // compaction keeps just the last record per key, so any state an
      // earlier record carried exclusively would be lost — exactly why
      // Debezium topics carry full-row images. Published keyed by (repo,
      // path) in (commit_lsn, seq) order, the WAL order a producer has.
      val ev = Synth.events(spark, 4000L, seed = 55, repos = 12, pathsPerRepo = 30)
        .filter(col("op") === "D" ||
          (col("commit").isNotNull && col("lang").isNotNull && col("content").isNotNull))
      val rows = ev.select(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(col("repo"), col("path")),
            org.apache.spark.sql.functions.lit(PARTS)).as("p"),
          org.apache.spark.sql.functions.concat_ws("|", col("repo"), col("path")).as("k"),
          to_json(struct(ev.columns.map(col).toSeq: _*)).as("j"),
          col("commit_lsn"), col("seq"))
        .orderBy(col("commit_lsn"), col("seq"))
        .select(col("p"), col("k"), col("j")).as[(Int, String, String)].collect()
      rows.foreach { case (p, k, j) => server.append(p, k, j) }

      def drain(dir: String): Map[(String, String), (Long, String)] = {
        val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
        val e = new CdcEngine(spark, t, EngineConf(buckets = 8))
        tail(server, t.root.toString, s"$dir/ckpt")
        e.currentState().collect().map { r =>
          (r.getString(r.fieldIndex("repo")), r.getString(r.fieldIndex("path"))) ->
            (r.getLong(r.fieldIndex("_lsn")),
              if (r.isNullAt(r.fieldIndex("content"))) null
              else r.getString(r.fieldIndex("content")))
        }.toMap
      }

      val full = drain(s"$work/full")
      val before = (0 until PARTS).map(p => server.latest(p) - server.earliest(p)).sum
      (0 until PARTS).foreach(p => server.compact(p))
      val after = (0 until PARTS).map(p => p -> server.compact(p)).map(_._2.toLong).sum
      assert(after < before, "compaction must drop superseded records")

      val compacted = drain(s"$work/compacted")
      assert(compacted === full,
        "replaying the compacted log must reproduce the full-log state")
    } finally server.stop()
  }

  test("streams start at earliest after truncation; a checkpoint below log-start fails fast") {
    val work = SparkTestBase.tmpDir("binlog-ret")
    val server = new BinlogServer(PARTS)
    try {
      val all = eventsAsJson(1200L)
      publish(server, all.take(800))

      // Drain wave 1, then retention truncates a prefix of every partition.
      val table = IceliteTable.create(s"$work/t", Seq("repo", "path"), 8)
      val engine = new CdcEngine(spark, table, EngineConf(buckets = 8))
      tail(server, table.root.toString, s"$work/ckpt")
      val applied = engine.currentState().count()
      (0 until PARTS).foreach(p => server.truncate(p, server.latest(p) / 2))

      // The consumer's checkpoint is AT the high-water mark (>= log-start),
      // so resume after publishing more is unaffected by the truncation.
      publish(server, all.drop(800))
      tail(server, table.root.toString, s"$work/ckpt")
      assert(engine.currentState().count() >= applied)

      // A FRESH stream must start at earliest (not 0): it drains without an
      // out-of-range fetch and sees only the retained suffix.
      val t2 = IceliteTable.create(s"$work/t2", Seq("repo", "path"), 8)
      val servedBefore = server.recordsServed
      tail(server, t2.root.toString, s"$work/ckpt2")
      val retained = (0 until PARTS).map(p => server.latest(p) - server.earliest(p)).sum
      assert(server.recordsServed - servedBefore === retained,
        "fresh stream must fetch exactly the retained records")

      // Truncate PAST the first consumer's checkpoint: resuming must fail
      // with the data-loss message, not silently skip the gap.
      publish(server, all.take(10)) // ensure there is new input to trigger a batch
      (0 until PARTS).foreach(p => server.truncate(p, server.latest(p)))
      val err = intercept[Exception] {
        tail(server, t2.root.toString, s"$work/ckpt2")
      }
      assert(messages(err).exists(_.contains("data loss")), s"got: ${messages(err)}")
    } finally server.stop()
  }

  test("block-framed fetch returns exactly the appended records, gaps included") {
    val server = new BinlogServer(1)
    try {
      // more records than two FETCH blocks, including empty and spacey
      // payloads; fetched whole, then again after compaction left gaps
      val n = BinlogServer.BatchRecs * 2 + 37
      val appended = (0 until n).map { i =>
        val key = s"k${i % 50}"
        val payload = s"payload $i é"
        (server.append(0, key, payload), key, payload)
      } :+ ((server.append(0, ""), null, ""))
      val c = new BinlogClient(server.address, server.port)
      try {
        assert(c.fetch(0, 0, n + 1).toVector === appended.map(r => (r._1, r._3)))
        server.compact(0)
        // survivors: the last record of each of the 50 keys, plus the
        // unkeyed empty record, in offset order
        val lastPerKey = appended.filter(_._2 != null).groupBy(_._2).values.map(_.last._1).toSet
        val survivors = appended.filter(r => r._2 == null || lastPerKey(r._1))
          .map(r => (r._1, r._3))
        assert(survivors.size === 51)
        assert(c.fetch(0, 0, n + 1).toVector === survivors)
      } finally c.close()
    } finally server.stop()
  }

  test("sharded broker fleet: owner-routed fetches reassemble the full log") {
    // two servers, each owning p % 2 == idx (the brokers option's owner rule):
    // the source's merged control plane + routing must yield exactly the
    // single-server result through the stock streaming path
    val all = eventsAsJson(4000)
    val shard0 = new BinlogServer(PARTS)
    val shard1 = new BinlogServer(PARTS)
    try {
      all.foreach { case (p, j) =>
        (if (p % 2 == 0) shard0 else shard1).append(p, j)
      }
      val work = SparkTestBase.tmpDir("binlog-shard")
      val t = IceliteTable.create(s"$work/t", Seq("repo", "path"), 8)
      val engine = new CdcEngine(spark, t, EngineConf(buckets = 8))
      SparkTestBase.runSink(CdcStream.shardedBinlogEvents(spark,
        s"${shard0.address}:${shard0.port},${shard1.address}:${shard1.port}"),
        s"$work/ckpt", t.root.toString)
      // oracle: single unsharded server, fresh table
      val single = new BinlogServer(PARTS)
      try {
        all.foreach { case (p, j) => single.append(p, j) }
        val t2 = IceliteTable.create(s"$work/t2", Seq("repo", "path"), 8)
        val e2 = new CdcEngine(spark, t2, EngineConf(buckets = 8))
        tail(single, t2.root.toString, s"$work/ckpt2")
        val cols = Seq("repo", "path", "commit", "lang", "content", "_lsn")
        val a = engine.currentState().selectExpr(cols: _*)
        val b = e2.currentState().selectExpr(cols: _*)
        assert(a.count() === b.count())
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          "sharded tail diverged from single-broker tail")
        // every shard actually served its owned partitions
        assert(shard0.recordsServed > 0 && shard1.recordsServed > 0)
      } finally single.stop()
    } finally { shard0.stop(); shard1.stop() }
  }

  test("brokers that disagree on the partition count fail loudly, batch and stream alike") {
    val work = SparkTestBase.tmpDir("binlog-shape")
    val two = new BinlogServer(2)
    val three = new BinlogServer(3)
    try {
      (0 until 2).foreach(p => two.append(p, s"two-$p"))
      (0 until 3).foreach(p => three.append(p, s"three-$p"))
      val brokers = s"${two.address}:${two.port},${three.address}:${three.port}"
      // a merged offset vector would silently lose the third partition
      val batch = intercept[Exception] {
        spark.read.format("cdc-binlog").option("brokers", brokers).load().count()
      }
      assert(messages(batch).exists(_.contains("disagree on partition count")),
        s"got: ${messages(batch)}")
      val stream = intercept[Exception] {
        SparkTestBase.runSink(CdcStream.shardedBinlogEvents(spark, brokers),
          s"$work/ckpt", s"$work/t", Map("keyCols" -> "repo,path", "buckets" -> "4"))
      }
      assert(messages(stream).exists(_.contains("disagree on partition count")),
        s"got: ${messages(stream)}")
    } finally { two.stop(); three.stop() }
  }
}
