package graft.tools

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.model.ChangeEvent
import graft.streaming.CdcStream
import graft.streaming.sink.IceliteSink.drain
import graft.synth.Synth

/** End-to-end demo/smoke driver for the CDC engine: generates a change
  * stream as parquet files, tails it with Structured Streaming through the
  * `icelite` sink into an icelite table, prints the resulting state, then
  * delivers MORE files — including a full re-delivery of old ones — and
  * resumes from checkpoint, demonstrating exactly-once + incremental merge.
  *
  * Run: sbt "runMain graft.tools.CdcDemo [workDir]"
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("cdcdemo").toString)
    val spark = graft.SparkEntry.session(8)

    val input = s"$work/stream"
    val ckpt = s"$work/ckpt"
    val tableDir = s"$work/table"
    val table = IceliteTable.createOrLoad(tableDir, Seq("repo", "path"), buckets = 16)
    val resumed = table.currentSnapshotId >= 0
    // Adopt the table's CURRENT layout: a previous run ends with an online
    // rebucket to 64, and a restarted tail must follow the layout it finds.
    // statsCols: harvest per-file lang bounds on merged writes, so the
    // SQL-procedures segment's sort-order rewrite + WHERE pushdown probe
    // can show manifest-level file skipping on this very table
    val engine = new CdcEngine(spark, table,
      EngineConf(buckets = table.currentBuckets, statsCols = Seq("lang")))
    // the stream feeds the same table with the same settings
    def tail(maxFilesPerTrigger: Int = 0): Unit = {
      val r = spark.readStream.schema(ChangeEvent.schema)
      drain((if (maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", maxFilesPerTrigger)
        else r).parquet(input), tableDir, ckpt, Map("statsCols" -> "lang"))
    }

    println(s"== work dir: $work")
    if (resumed) {
      // ---- RESUME probe (run on a dir a previous invocation completed):
      // redeliver wave 1 in full — LWW must absorb the replay with zero row
      // drift — then prove a no-input run commits nothing.
      val preRows = engine.currentState().count()
      println(s"== RESUME on existing table: snap=${table.currentSnapshotId} " +
        s"buckets=${table.currentBuckets} rows=$preRows")
      Synth.events(spark, 20000, seed = 7, repos = 50, hotPct = 40)
        .coalesce(1).write.mode("append").parquet(input)
      tail()
      val postRows = engine.currentState().count()
      val snapAfter = table.currentSnapshotId
      tail()
      println(s"== redelivery probe: rows $preRows -> $postRows " +
        (if (postRows == preRows) "(unchanged, LWW absorbed the replay)" else "(BUG!)") +
        s"; no-input re-run: snapshot $snapAfter -> ${table.currentSnapshotId}" +
        (if (snapAfter == table.currentSnapshotId) " (no-op, exactly-once holds)"
         else " (BUG!)"))
      spark.stop()
      return
    }
    // wave 1: 20k events as two files
    val ev = Synth.events(spark, 20000, seed = 7, repos = 50, hotPct = 40)
    ev.filter("commit_lsn < 10000").coalesce(1).write.mode("append").parquet(input)
    ev.filter("commit_lsn >= 10000").coalesce(1).write.mode("append").parquet(input)
    tail(maxFilesPerTrigger = 1)
    val s1 = engine.currentState()
    println(s"== after wave 1: snapshot=${table.currentSnapshotId} rows=${s1.count()}")
    s1.orderBy("repo", "path").show(5, truncate = false)

    // wave 2: 5k more events (later LSNs) + resume
    Synth.events(spark, 25000, seed = 7, repos = 50, hotPct = 40)
      .filter("commit_lsn >= 20000").coalesce(1).write.mode("append").parquet(input)
    tail()
    val s2 = engine.currentState()
    println(s"== after wave 2: snapshot=${table.currentSnapshotId} rows=${s2.count()}")

    // re-run with NO new input: must be a no-op (no new snapshot)
    val before = table.currentSnapshotId
    tail()
    println(s"== idempotent re-run: snapshot ${before} -> ${table.currentSnapshotId}" +
      (if (before == table.currentSnapshotId) " (no-op, exactly-once holds)" else " (BUG!)"))

    println("== snapshot chain (epoch, schemaId, buckets touched, lineage rows):")
    table.snapshotChain.foreach { s =>
      println(f"   snap ${s.snapshotId}%3d epoch=${s.batchEpoch}%3d schema=${s.schemaId} " +
        f"lineage=${s.lineage.size} events=${s.lineage.map(_.events).sum}")
    }
    println("== metrics.jsonl:")
    val m = table.root.resolve("metrics.jsonl")
    if (java.nio.file.Files.exists(m)) print(java.nio.file.Files.readString(m))

    // ---- round-2 surface: merge-on-read + incremental feeds + point read
    val morT = IceliteTable.createOrLoad(s"$work/mor", Seq("repo", "path"),
      buckets = 16, mergeOnRead = true)
    val mor = new CdcEngine(spark, morT, EngineConf(buckets = 16, morCompactThreshold = 8))
    mor.applyBatch(0, ev.filter("commit_lsn < 10000"))
    val snapA = morT.currentSnapshotId
    mor.applyBatch(1, ev.filter("commit_lsn >= 10000"))
    val deltaFiles = mor.filesAddedSince(snapA).size
    println(s"== merge-on-read: ${morT.currentFiles().size} files total, " +
      s"appendedSince(snap $snapA) reads only $deltaFiles delta files, " +
      s"${mor.appendedSince(snapA).count()} changed rows")
    println(s"== changesSince(snap $snapA): ${mor.changesSince(snapA).count()} rows (value-level diff)")
    val clog = mor.changelogSince(snapA).groupBy("_change_type").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"== changelogSince(snap $snapA): $clog (CDF pre/post images)")
    val k = mor.currentState().select("repo", "path").head()
    println(s"== pointLookup(${k.getString(0)}, ${k.getString(1)}): " +
      s"${mor.pointLookup(k.getString(0), k.getString(1)).count()} row (bucket-pruned)")
    val preCompact = morT.currentFiles().size
    mor.compact()
    println(s"== compaction: $preCompact files -> ${morT.currentFiles().size} " +
      s"(state rows=${mor.currentState().count()})")

    // ---- round-3 surface: RESTORE (bad-batch recovery) — metadata-only,
    // history-preserving, and incremental readers follow it
    val preRollback = mor.currentState().count()
    morT.rollbackTo(snapA)
    val postRollback = mor.currentState().count()
    val reDelivered = mor.applyBatch(1, ev.filter("commit_lsn >= 10000"))
    println(s"== rollbackTo(snap $snapA): $preRollback -> $postRollback rows " +
      s"(matches snap-$snapA state: ${postRollback == mor.stateAt(snapA).count()}); " +
      s"re-delivering the rolled-back epoch is " +
      (if (reDelivered.skipped) "still a no-op (exactly-once holds)" else "re-applied (BUG!)"))

    // ---- round-3 surface: change-feed consumer — a mirror table built
    // ONLY from changesSince feeds must equal the source's visible state
    val mirror = new CdcEngine(spark,
      IceliteTable.createOrLoad(s"$work/mirror", Seq("repo", "path"), buckets = 16),
      EngineConf(buckets = 16))
    val consumer = new graft.engine.FeedConsumer(engine, mirror)
    val applied = consumer.sync()
    def visibleRows(e: CdcEngine) = {
      val df = e.currentState()
      val cols = df.columns.filterNot(c => c == "_lsn" || c == "_seq").sorted
      df.select(cols.toSeq.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted.toSeq
    }
    val inSync = visibleRows(mirror) == visibleRows(engine)
    println(s"== feed consumer: applied $applied rows; mirror " +
      (if (inSync) "MATCHES source visible state" else "DIVERGED (BUG!)") +
      s"; re-sync applies ${consumer.sync()} rows (idempotent)")

    // ---- round-3 surface: incrementally maintained materialized view —
    // bootstrap is a full recompute, every later refresh costs
    // O(changed keys + touched groups), not O(state)
    import org.apache.spark.sql.functions.{col, octet_length}
    val iv = new graft.engine.IncrementalView(engine,
      java.nio.file.Paths.get(s"$work/view"),
      Seq("lang"), Seq("bytes" -> octet_length(col("content"))))
    iv.refresh()
    val groups = iv.view().count()
    // a sparse late wave touches few keys; the refresh reads only those
    Synth.events(spark, 26000, seed = 7, repos = 50, hotPct = 40)
      .filter("commit_lsn >= 25000").coalesce(1).write.mode("append").parquet(input)
    tail()
    val touched = iv.refresh()
    def canonView(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val viewOk = canonView(iv.view()) ==
      canonView(iv.aggregate(engine.currentState()))
    println(s"== incremental view: $groups lang groups; sparse wave refresh " +
      s"merged $touched delta group rows; view " +
      (if (viewOk) "MATCHES full recompute" else "DIVERGED (BUG!)") +
      s"; in-sync refresh merges ${iv.refresh()} (no-op)")

    // ---- round-3 surface: write-audit-publish — a poisoned batch is fully
    // merged into a STAGED snapshot, caught by the audit, and dropped with
    // the table untouched; the corrected batch then stages, audits clean
    // and publishes
    import org.apache.spark.sql.functions.{lit, when}
    val wapEpoch = engine.table.lastEpoch + 1
    val good = Synth.events(spark, 2000, seed = 9, repos = 50, hotPct = 40)
    // a broken upstream decoder: every set content is garbage
    val poisoned = good.withColumn("content",
      when(col("content").isNotNull, lit("\u0000CORRUPT")).otherwise(col("content")))
    // the invariant: content, when set, carries the source format
    val wellFormed = Map("content_well_formed" ->
      (col("content").isNull || col("content").startsWith("content:")))
    val preWapRows = engine.currentState().count()
    val stagedBad = engine.stageBatch(wapEpoch, poisoned)
    val audit = engine.auditStaged(stagedBad.snapshotId, wellFormed)
    val caught = !audit("content_well_formed")
    engine.dropStaged(stagedBad.snapshotId)
    val untouched = engine.currentState().count() == preWapRows &&
      engine.table.lastEpoch == wapEpoch - 1
    val stagedGood = engine.stageBatch(wapEpoch, good)
    val auditOk = engine.auditStaged(stagedGood.snapshotId, wellFormed)
      .values.forall(identity)
    engine.publishStaged(stagedGood.snapshotId)
    println(s"== write-audit-publish: poisoned batch staged as snap ${stagedBad.snapshotId}, " +
      (if (caught) "audit CAUGHT it" else "audit MISSED it (BUG!)") + ", dropped " +
      (if (untouched) "with table untouched" else "but table changed (BUG!)") +
      s"; corrected batch re-staged under the SAME epoch $wapEpoch, audit " +
      (if (auditOk) "clean" else "failed (BUG!)") +
      s", published as snap ${engine.table.currentSnapshotId}")

    // ---- round-3 surface: writable branches — a two-batch ingest lane
    // merges in isolation, is audited as a unit, and fast-forwards into
    // main atomically; a downstream mirror can even pre-sync against the
    // LANE (changesSince window ending at the branch head) before publish
    val forkAt = engine.table.currentSnapshotId
    val laneE1 = engine.table.lastEpoch + 1
    engine.createBranch("lane")
    engine.applyBatchToBranch(laneE1, Synth.events(spark, 1500, seed = 11, repos = 50), "lane")
    engine.applyBatchToBranch(laneE1 + 1, Synth.events(spark, 1500, seed = 12, repos = 50), "lane")
    val mainFrozen = engine.table.currentSnapshotId == forkAt &&
      engine.changesSince(forkAt).isEmpty
    val laneFeed = engine.changesSince(forkAt,
      toSnapshotId = engine.table.branchHead("lane")).count()
    val laneAudit = engine.auditBranch("lane", wellFormed).values.forall(identity)
    engine.publishBranch("lane")
    val lanePublished = engine.changesSince(forkAt).count()
    println(s"== branch lane: 2 batches on 'lane' with main " +
      (if (mainFrozen) "FROZEN at" else "MOVED past (BUG!)") + s" snap $forkAt; " +
      s"pre-publish feed from the lane: $laneFeed rows; audit " +
      (if (laneAudit) "clean" else "failed (BUG!)") +
      s"; fast-forward published -> main feed now $lanePublished rows " +
      s"(head snap ${engine.table.currentSnapshotId})")

    // ---- round-3 surface: online bucket evolution — rewrite the table
    // under 4x the buckets in one commit; feeds see NO changes, the mirror
    // stays in sync, and ingest continues on the new layout
    val preRebucket = engine.table.currentSnapshotId
    val preRows = engine.currentState().count()
    val engine32 = engine.rebucket(64)
    val feedRows = engine32.changesSince(preRebucket).count()
    val mirrorDelta = new graft.engine.FeedConsumer(engine32, mirror).sync()
    println(s"== rebucket 16 -> 64: rows $preRows -> ${engine32.currentState().count()}" +
      s" (unchanged), changesSince across the boundary feeds $feedRows rows" +
      s" (exact diff), mirror re-sync applies $mirrorDelta; " +
      s"new layout = ${engine32.table.currentBuckets} buckets")

    // ---- round-4 surface: the NETWORK source — publish a change stream to
    // an in-process TCP binlog (Kafka-shaped: partitioned, offset-addressed,
    // replayable), tail it through the cdc-binlog DSv2 connector into a
    // fresh table, then prove exactly-once over the wire: a second
    // AvailableNow run with no new offsets fetches nothing and commits
    // nothing; compaction then shrinks the log and a full re-tail from a
    // FRESH checkpoint reproduces the same state (LWW absorbs the gaps).
    locally {
      import org.apache.spark.sql.functions.{col, hash, lit, pmod, struct, to_json, concat_ws}
      val server = new graft.streaming.binlog.BinlogServer(4)
      try {
        val evB = Synth.events(spark, 8000, seed = 91, repos = 30, pathsPerRepo = 40)
          .filter(col("op") === "D" ||
            (col("commit").isNotNull && col("lang").isNotNull && col("content").isNotNull))
        val rows = evB.select(
            (pmod(hash(col("repo"), col("path")), lit(4))).as("p"),
            concat_ws("|", col("repo"), col("path")).as("k"),
            to_json(struct(evB.columns.toSeq.map(col): _*)).as("j"),
            col("commit_lsn"), col("seq"))
          .orderBy(col("commit_lsn"), col("seq"))
          .select("p", "k", "j").collect()
        rows.foreach(r => server.append(r.getInt(0), r.getString(1), r.getString(2)))

        val netT = IceliteTable.create(s"$work/nettable", Seq("repo", "path"), 16)
        val netE = new CdcEngine(spark, netT, EngineConf(buckets = 16))
        drain(CdcStream.binlogEvents(spark, server.address, server.port,
          maxRecordsPerTrigger = 3000), netT.root.toString, s"$work/netckpt")
        val netRows = netE.currentState().count()
        val (snapB, servedB) = (netT.currentSnapshotId, server.recordsServed)
        drain(CdcStream.binlogEvents(spark, server.address, server.port),
          netT.root.toString, s"$work/netckpt")
        val netExactlyOnce = netT.currentSnapshotId == snapB &&
          server.recordsServed == servedB

        val beforeCompact = (0 until 4).map(p => server.latest(p) - server.earliest(p)).sum
        val afterCompact = (0 until 4).map(server.compact).map(_.toLong).sum
        val net2 = new CdcEngine(spark,
          IceliteTable.create(s"$work/nettable2", Seq("repo", "path"), 16),
          EngineConf(buckets = 16))
        drain(CdcStream.binlogEvents(spark, server.address, server.port),
          net2.table.root.toString, s"$work/netckpt2")
        val replayEqual = net2.currentState().count() == netRows
        println(s"== network source: tailed ${rows.length} events over TCP -> " +
          s"$netRows rows; no-input re-run " +
          (if (netExactlyOnce) "fetched nothing, committed nothing (exactly-once holds)"
           else "COMMITTED (BUG!)") +
          s"; compaction $beforeCompact -> $afterCompact records, compacted re-tail " +
          (if (replayEqual) "matches" else "DIVERGES (BUG!)"))
      } finally server.stop()
    }

    // ---- round-4 surface: INSPECTION metadata tables — the table-format
    // metadata surface (snapshots/history/refs/files/partitions/lineage/
    // metrics/orphans) registered as SQL views, plus the vacuum dry-run
    // contract: the report IS the delete set, and it drains to empty.
    locally {
      val insp = engine32.inspect
      insp.register("tbl")
      val kinds = spark.sql(
        "SELECT kind, count(*) AS n FROM tbl_snapshots GROUP BY kind ORDER BY kind")
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
      val hot = spark.sql(
        "SELECT bucket, rows FROM tbl_partitions ORDER BY rows DESC, bucket LIMIT 1").head()
      val lineageEvents = spark.sql("SELECT sum(events) FROM tbl_lineage").head().getLong(0)
      val predicted = insp.orphans().count()
      val reclaimed = engine32.table.vacuum(0L).size
      val drained = insp.orphans().count()
      println(s"== inspect: snapshot kinds {$kinds}; hottest bucket ${hot.getInt(0)} " +
        s"(${hot.getLong(1)} rows); lineage accounts $lineageEvents events; " +
        s"vacuum dry-run named $predicted files, vacuum reclaimed $reclaimed — " +
        (if (reclaimed.toLong == predicted && drained == 0L)
          "dry-run exact, orphan set drained"
         else "DRY-RUN MISMATCH (BUG!)"))
    }

    // ---- round-4 surface: the SQL read path — `ice.*` relations resolved
    // by the Catalyst rule, with snapshot time travel, against the same
    // table the whole demo built.
    locally {
      graft.sql.IceliteSql.register(spark, "demo", engine32)
      val sqlNow = spark.sql("SELECT count(*) FROM ice.demo").head().getLong(0)
      val dfNow = engine32.currentState().count()
      val chain = engine32.table.snapshotChain
      val past = chain(chain.size / 2).snapshotId
      val sqlPast = spark.sql(s"SELECT count(*) FROM ice.demo VERSION AS OF $past")
        .head().getLong(0)
      val dfPast = engine32.stateAt(past).count()
      val snaps = spark.sql("SELECT count(*) FROM ice.demo.snapshots").head().getLong(0)
      val described = spark.sql("DESCRIBE EXTENDED ice.demo").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val listed = spark.sql("SHOW TABLES IN ice").collect().map(_.getString(1))
      println(s"== sql catalog: DESCRIBE EXTENDED ice.demo -> buckets=" +
        s"${described("Buckets")}, mode=${described("Write Mode")}, head=" +
        s"${described("Current Snapshot")}; SHOW TABLES IN ice lists " +
        s"[${listed.mkString(", ")}]")
      println(s"== sql surface: SELECT count(*) FROM ice.demo = $sqlNow " +
        (if (sqlNow == dfNow) "(matches the DataFrame read)" else "(MISMATCH — BUG!)") +
        s"; VERSION AS OF $past = $sqlPast " +
        (if (sqlPast == dfPast) "(matches stateAt)" else "(MISMATCH — BUG!)") +
        s"; ice.demo.snapshots lists $snaps snapshots")
    }

    // ---- round-4 surface: SQL maintenance procedures — `CALL
    // ice.system.<proc>(...)` (Iceberg's stored-procedure verbs) against
    // the registered demo table: tag the head, compact, vacuum dry-run.
    locally {
      val head = engine32.table.currentSnapshotId
      val tagged = spark.sql("CALL ice.system.create_tag('demo', 'demo-head')")
        .head().getLong(1)
      // sort-order rewrite: cluster each bucket by lang and split into
      // range-disjoint files, so the engine's statsCols bounds become a
      // file-skip index the SQL WHERE below is pruned by
      val comp = spark.sql("CALL ice.system.rewrite_data_files('demo', " +
        "sort_by => 'lang', max_file_rows => 64)").head()
      val totalFiles = engine32.table.currentFiles().size
      val prunedQ = spark.sql(
        "SELECT repo, path, lang FROM ice.demo WHERE lang = 'py'")
      val prunedFiles = prunedQ.inputFiles.length
      val prunedRows = prunedQ.count()
      val expectRows = engine32.currentState()
        .where(org.apache.spark.sql.functions.col("lang") === "py").count()
      // expire everything but the compacted head + its parent, then the
      // dry-run names the mid-chain snapshots' now-unreferenced files and
      // the real vacuum must reclaim exactly that set
      val expired = spark.sql("CALL ice.system.expire_snapshots('demo', retain_last => 2)")
        .count()
      val predicted = spark.sql(
        "CALL ice.system.remove_orphan_files('demo', grace_millis => 0, dry_run => true)")
        .count()
      val reclaimed = spark.sql(
        "CALL ice.system.remove_orphan_files('demo', grace_millis => 0, dry_run => false)")
        .count()
      val procs = spark.sql("SHOW PROCEDURES IN ice.system").count()
      println(s"== sql procedures: create_tag pinned snapshot $tagged " +
        (if (tagged == head) "(= head)" else "(MISMATCH — BUG!)") +
        s"; rewrite_data_files(sort_by => 'lang') ${comp.getInt(1)} -> " +
        s"${comp.getInt(2)} files (snapshot ${comp.getLong(0)}); " +
        s"expire_snapshots dropped $expired; " +
        s"dry-run names $predicted files, vacuum reclaimed $reclaimed " +
        (if (predicted == reclaimed) "— dry-run exact" else "(MISMATCH — BUG!)") +
        s"; $procs procedures listed")
      println(s"== sql stats pruning: WHERE lang = 'py' opened $prunedFiles " +
        s"of $totalFiles files " +
        (if (prunedFiles < totalFiles) "(manifest bounds pruned the scan)"
         else "(NO PRUNING — BUG!)") +
        s", $prunedRows rows " +
        (if (prunedRows == expectRows) "(matches the DataFrame filter)"
         else "(MISMATCH — BUG!)"))
    }

    // ---- round-4 surface: row-level SQL DML — UPDATE / DELETE / MERGE
    // INTO / INSERT INTO as engine MERGE commits (non-batch epoch, LWW
    // stamp above the high watermark), against the registered demo table.
    locally {
      val top = spark.sql("SELECT lang, count(*) AS c FROM ice.demo " +
        "WHERE lang IS NOT NULL GROUP BY lang ORDER BY c DESC, lang").head()
      val lang = top.getString(0)
      val del = spark.sql(s"DELETE FROM ice.demo WHERE lang = '$lang'")
        .head().getLong(0)
      val left = spark.sql(s"SELECT count(*) FROM ice.demo WHERE lang = '$lang'")
        .head().getLong(0)
      val upd = spark.sql(
        "UPDATE ice.demo SET content = concat('patched:', path) WHERE lang IS NULL")
        .head().getLong(0)
      val k = spark.sql("SELECT repo, path FROM ice.demo ORDER BY repo, path LIMIT 1").head()
      spark.sql("SELECT * FROM (VALUES " +
        s"('${k.getString(0)}', '${k.getString(1)}', 'merged-body'), " +
        "('merge-repo', 'merge-path', 'fresh-body')) AS v(repo, path, content)")
        .createOrReplaceTempView("demo_dml_src")
      val merged = spark.sql("""
        MERGE INTO ice.demo AS t USING demo_dml_src AS s
        ON t.repo = s.repo AND t.path = s.path
        WHEN MATCHED THEN UPDATE SET content = s.content
        WHEN NOT MATCHED THEN INSERT (repo, path, content)
          VALUES (s.repo, s.path, s.content)""").head().getLong(0)
      val mergedOk = spark.sql("SELECT content FROM ice.demo " +
        s"WHERE repo = '${k.getString(0)}' AND path = '${k.getString(1)}'")
        .head().getString(0) == "merged-body" &&
        spark.sql("SELECT count(*) FROM ice.demo WHERE repo = 'merge-repo'")
          .head().getLong(0) == 1
      val ins = spark.sql(
        "INSERT INTO ice.demo (repo, path, content) VALUES ('ins-repo', 'ins-path', 'i')")
        .head().getLong(0)
      println(s"== sql dml: DELETE FROM removed $del '$lang' rows " +
        (if (left == 0) "(re-count 0)" else "(MISMATCH — BUG!)") +
        s"; UPDATE touched $upd NULL-lang rows; MERGE INTO applied $merged " +
        (if (merged == 2 && mergedOk) "(1 update + 1 insert, verified)"
         else "(MISMATCH — BUG!)") +
        s"; INSERT INTO added $ins row — all four are engine MERGE epochs")
    }

    // ---- round-4 surface: the table as a streaming SINK
    // (`writeStream.format("icelite")`) — stock-API ingest, create-if-
    // missing, exactly-once from the epoch ledger alone.
    locally {
      val sinkIn = s"$work/sink-in"; val sinkT = s"$work/sink-t"
      Synth.events(spark, 2000, seed = 77).coalesce(2)
        .write.mode("overwrite").parquet(sinkIn)
      def sink(): Unit = drain(spark.readStream.schema(ChangeEvent.schema).parquet(sinkIn),
        sinkT, s"$work/sink-ckpt", Map("keyCols" -> "repo,path", "buckets" -> "16"))
      sink()
      val t = IceliteTable.load(sinkT)
      val rows = new CdcEngine(spark, t, EngineConf(buckets = t.currentBuckets))
        .currentState().count()
      val snapBefore = t.currentSnapshotId
      sink()
      println(s"== streaming sink: format(\"icelite\") created the table and merged " +
        s"2000 events -> $rows visible rows; idle re-run committed " +
        s"${t.currentSnapshotId - snapBefore} snapshots " +
        (if (t.currentSnapshotId == snapBefore) "(exactly-once holds)" else "(BUG!)"))
    }

    // ---- round-4 surface: the table AS a streaming source (`icelite-feed`)
    // — snapshot-id offsets, checkpointed windows; a second drain with no
    // new commits must deliver nothing (exactly-once at the source side).
    locally {
      val feedOut = s"$work/feedstream-out"; val feedCkpt = s"$work/feedstream-ckpt"
      def drainFeed(): Unit = {
        val q = spark.readStream.format("icelite-feed")
          .option("path", engine32.table.root.toString).load()
          .writeStream.format("parquet").option("path", feedOut)
          .option("checkpointLocation", feedCkpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      drainFeed()
      val bootstrap = spark.read.parquet(feedOut).count()
      val expected = engine32.changesSince(-1L).count()
      drainFeed()
      val after = spark.read.parquet(feedOut).count()
      println(s"== feed stream: bootstrap drained $bootstrap change rows " +
        (if (bootstrap == expected) "(= the full visible feed)" else "(MISMATCH — BUG!)") +
        s"; idle re-drain appended ${after - bootstrap} " +
        (if (after == bootstrap) "(exactly-once holds)" else "(DUPLICATES — BUG!)"))
    }

    // ---- round-4 surface: MULTI-TABLE atomic transactions through the
    // versioned catalog — stage both tables' MERGEs, flip one catalog
    // version, publish; then prove a torn crash (catalog committed, one
    // publish missing) is invisible to catalog readers and healed by
    // recover(), and that replaying a committed txn moves nothing.
    locally {
      import org.apache.spark.sql.functions.col
      val filesE = new CdcEngine(spark,
        IceliteTable.create(s"$work/cat-files", Seq("repo", "path"), 16),
        EngineConf(buckets = 16))
      val reposE = new CdcEngine(spark,
        IceliteTable.create(s"$work/cat-repos", Seq("repo"), 4),
        EngineConf(buckets = 4))
      val cat = graft.icelite.IceliteCatalog.create(s"$work/cat")
      cat.registerTable("files", s"$work/cat-files")
      cat.registerTable("repos", s"$work/cat-repos")
      def rollup(b: org.apache.spark.sql.DataFrame) = Synth.repoRollup(b)
      val engines = Map("files" -> filesE, "repos" -> reposE)
      val evC = Synth.events(spark, 4000, seed = 83, repos = 20, pathsPerRepo = 40)
      val v1 = graft.engine.AtomicTxn.commit(cat, 0L,
        Seq(("files", filesE, evC), ("repos", reposE, rollup(evC))))
      val replayV = graft.engine.AtomicTxn.commit(cat, 0L,
        Seq(("files", filesE, evC), ("repos", reposE, rollup(evC))))
      // torn crash: txn 1 catalog-commits but only ONE table publishes
      val evC2 = Synth.events(spark, 1500, seed = 84, repos = 20, pathsPerRepo = 40)
        .withColumn("commit_lsn", col("commit_lsn") + 4000L)
      val sF = filesE.stageBatch(1L, evC2).snapshotId
      val sR = reposE.stageBatch(1L, rollup(evC2)).snapshotId
      cat.commitTxn(1L, Map("files" -> sF, "repos" -> sR))
      filesE.publishStaged(sF) // reposE's publish "crashes"
      val refs = cat.refs()
      val catConsistent = // catalog readers resolve BOTH tables at txn 1
        filesE.stateAt(refs("files").snapshotId).count() > 0 &&
          reposE.stateAt(refs("repos").snapshotId).count() > 0 &&
          refs("repos").snapshotId == sR
      val (published, dropped) = graft.engine.AtomicTxn.recover(cat, engines)
      val healed = reposE.table.isAncestor(sR)
      println(s"== catalog txn: 2 tables committed atomically at version $v1; " +
        s"replaying the txn returned version $replayV " +
        (if (replayV == v1) "(no-op, exactly-once holds)" else "(BUG!)") +
        s"; torn-crash probe: catalog readers " +
        (if (catConsistent) "stayed consistent" else "TORE (BUG!)") +
        s", recover() published $published/1 pending " +
        (if (healed && published == 1 && dropped == 0) "(healed)" else "(BUG!)"))
    }
    spark.stop()
  }
}
