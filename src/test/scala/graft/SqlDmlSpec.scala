package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.sql.IceliteSql
import graft.synth.Synth

/** Row-level SQL DML (graft.sql.IceliteDml): UPDATE / DELETE / MERGE INTO /
  * INSERT INTO over `ice.*` tables, executed as engine MERGE commits —
  * LWW, lineage, time travel, feeds and exactly-once all apply to SQL
  * writes because they ARE applyBatch commits (non-batch epoch). */
class SqlDmlSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private var n = 0
  private def freshTable(events: Int = 1000, seed: Long): (CdcEngine, String) =
    synchronized {
      n += 1
      val name = s"dml$n"
      val dir = SparkTestBase.tmpDir(s"sqldml-$name")
      val engine = new CdcEngine(spark,
        IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8), EngineConf(buckets = 8))
      engine.applyBatch(0, Synth.events(spark, events, seed = seed))
      IceliteSql.register(spark, name, engine)
      (engine, name)
    }

  private def count(sql: String): Long = spark.sql(sql).head().getLong(0)

  test("DELETE removes matching rows, is time-travel-reversible, no-op when empty") {
    val (engine, t) = freshTable(seed = 101)
    val before = count(s"SELECT count(*) FROM ice.$t")
    val scala0 = count(s"SELECT count(*) FROM ice.$t WHERE lang = 'scala'")
    assert(scala0 > 0)
    val sid = engine.table.currentSnapshotId

    val res = spark.sql(s"DELETE FROM ice.$t WHERE lang = 'scala'")
    assert(res.columns === Array("num_affected_rows"))
    assert(res.head().getLong(0) === scala0)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE lang = 'scala'") === 0)
    assert(count(s"SELECT count(*) FROM ice.$t") === before - scala0)
    // the delete is one snapshot: time travel still sees the rows
    assert(count(s"SELECT count(*) FROM ice.$t VERSION AS OF $sid WHERE lang = 'scala'")
      === scala0)
    // an empty row set commits nothing (no empty snapshots)
    val head = engine.table.currentSnapshotId
    assert(spark.sql(s"DELETE FROM ice.$t WHERE lang = 'scala'").head().getLong(0) === 0)
    assert(engine.table.currentSnapshotId === head)
    // aliased target, alias-qualified condition
    val py = count(s"SELECT count(*) FROM ice.$t WHERE lang = 'py'")
    assert(spark.sql(s"DELETE FROM ice.$t AS x WHERE x.lang = 'py'")
      .head().getLong(0) === py)
  }

  test("UPDATE assigns listed columns, carries the rest forward; NULL means unchanged") {
    val (_, t) = freshTable(seed = 102)
    // restrict to non-null commit cells: a NULL assignment value would
    // carry forward (asserted below), not overwrite
    val where = "lang = 'py' AND commit IS NOT NULL"
    val beforeMap = spark.sql(
      s"SELECT repo, path, commit, content FROM ice.$t WHERE $where")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3)))
      .toMap
    assert(beforeMap.nonEmpty)

    val res = spark.sql(
      s"UPDATE ice.$t SET content = concat('X-', commit) WHERE $where")
    assert(res.head().getLong(0) === beforeMap.size)
    val after = spark.sql(
      s"SELECT repo, path, commit, content FROM ice.$t WHERE $where")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3)))
      .toMap
    assert(after.keySet === beforeMap.keySet)
    after.foreach { case (k, (commit, content)) =>
      assert(commit === beforeMap(k)._1, s"unassigned column changed for $k")
      assert(content === s"X-$commit", s"assignment missed for $k")
    }
    // the CDC wire contract: a NULL payload cell means "unchanged"
    spark.sql(s"UPDATE ice.$t SET content = NULL WHERE $where")
    val afterNull = spark.sql(
      s"SELECT count(*) FROM ice.$t WHERE $where AND content LIKE 'X-%'")
    assert(afterNull.head().getLong(0) === beforeMap.size, "NULL must carry forward")
  }

  test("UPDATE rejects key, envelope and unknown columns") {
    val (_, t) = freshTable(200, seed = 103)
    val key = intercept[AnalysisException] {
      spark.sql(s"UPDATE ice.$t SET repo = 'x'")
    }
    assert(key.getMessage.contains("MERGE identity"), key.getMessage)
    val unknown = intercept[AnalysisException] {
      spark.sql(s"UPDATE ice.$t SET nosuch = 'x'")
    }
    assert(unknown.getMessage.contains("batch reconciliation"), unknown.getMessage)
    val envelope = intercept[AnalysisException] {
      spark.sql(s"UPDATE ice.$t SET _lsn = 1")
    }
    assert(envelope.getMessage.contains("engine-managed"), envelope.getMessage)
  }

  test("INSERT INTO: positional, column list, upsert on existing key, dup guard") {
    val (_, t) = freshTable(300, seed = 104)
    // positional over (repo, path, commit, lang, content)
    spark.sql(s"INSERT INTO ice.$t VALUES ('r-new', 'p-1', 'c1', 'scala', 'body-1')")
    assert(count(s"SELECT count(*) FROM ice.$t WHERE repo = 'r-new' AND path = 'p-1'") === 1)
    // explicit column list: unlisted payload is NULL
    spark.sql(s"INSERT INTO ice.$t (repo, path, content) VALUES ('r-new', 'p-2', 'b2')")
    val r2 = spark.sql(
      s"SELECT lang, content FROM ice.$t WHERE repo = 'r-new' AND path = 'p-2'").head()
    assert(r2.isNullAt(0) && r2.getString(1) === "b2")
    // a key-unique table has no append-duplicates: INSERT on an existing key upserts
    val total = count(s"SELECT count(*) FROM ice.$t")
    spark.sql(s"INSERT INTO ice.$t VALUES ('r-new', 'p-1', 'c1b', 'scala', 'body-1b')")
    assert(count(s"SELECT count(*) FROM ice.$t") === total)
    assert(spark.sql(s"SELECT content FROM ice.$t WHERE repo = 'r-new' AND path = 'p-1'")
      .head().getString(0) === "body-1b")
    // two rows inserting the same key in one statement: nondeterministic -> loud
    val dup = intercept[AnalysisException] {
      spark.sql(s"INSERT INTO ice.$t VALUES ('d', 'x', 'c', 'l', 'a'), ('d', 'x', 'c', 'l', 'b')")
    }
    assert(dup.getMessage.contains("more than once"), dup.getMessage)
    // INSERT OVERWRITE is not a CDC operation
    val ow = intercept[AnalysisException] {
      spark.sql(s"INSERT OVERWRITE ice.$t VALUES ('o', 'o', 'c', 'l', 'v')")
    }
    assert(ow.getMessage.contains("INSERT OVERWRITE"), ow.getMessage)
  }

  test("MERGE INTO: matched UPDATE + not-matched INSERT (the canonical upsert)") {
    val (_, t) = freshTable(800, seed = 105)
    val existing = spark.sql(
      s"SELECT repo, path, commit, lang FROM ice.$t " +
        "WHERE commit IS NOT NULL ORDER BY repo, path LIMIT 100")
    val updates = existing.withColumn("content", concat(lit("merged-"), col("commit")))
    val inserts = spark.range(50).selectExpr(
      "concat('mrepo-', id) AS repo", "concat('mpath-', id) AS path",
      "'mc' AS commit", "'rs' AS lang", "concat('fresh-', id) AS content")
    updates.unionByName(inserts).createOrReplaceTempView("dml_src")

    val res = spark.sql(s"""
      MERGE INTO ice.$t AS tg USING dml_src AS s
      ON tg.repo = s.repo AND tg.path = s.path
      WHEN MATCHED THEN UPDATE SET content = s.content
      WHEN NOT MATCHED THEN INSERT (repo, path, commit, lang, content)
        VALUES (s.repo, s.path, s.commit, s.lang, s.content)""")
    assert(res.head().getLong(0) === 150)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE content LIKE 'merged-%'") === 100)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE repo LIKE 'mrepo-%'") === 50)
    // matched rows kept their unassigned columns
    assert(count(s"SELECT count(*) FROM ice.$t " +
      "WHERE content LIKE 'merged-%' AND content != concat('merged-', commit)") === 0)
  }

  test("MERGE INTO: conditional actions, UPDATE SET *, DELETE, NOT MATCHED BY SOURCE") {
    val (_, t) = freshTable(200, seed = 106)
    // source = half the current keys, with rewritten payload and a kill flag
    spark.sql(s"SELECT repo, path, commit, lang, 'rewritten' AS content, " +
        s"(pmod(hash(repo, path), 4) = 0) AS kill " +
        s"FROM ice.$t ORDER BY repo, path LIMIT 100")
      .createOrReplaceTempView("dml_src2")
    val srcTotal = count("SELECT count(*) FROM dml_src2")
    val kills = count("SELECT count(*) FROM dml_src2 WHERE kill")
    val total = count(s"SELECT count(*) FROM ice.$t")

    val res = spark.sql(s"""
      MERGE INTO ice.$t AS tg USING dml_src2 AS s
      ON tg.repo = s.repo AND tg.path = s.path
      WHEN MATCHED AND s.kill THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    // every row was touched: srcTotal matched (kill or update), rest deleted
    assert(res.head().getLong(0) === total)
    assert(count(s"SELECT count(*) FROM ice.$t") === srcTotal - kills)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE content != 'rewritten'") === 0)
  }

  test("MERGE cardinality violation fails loudly") {
    val (_, t) = freshTable(100, seed = 107)
    spark.sql(s"SELECT repo, path, 'v1' AS content FROM ice.$t LIMIT 1")
      .unionAll(spark.sql(s"SELECT repo, path, 'v2' AS content FROM ice.$t LIMIT 1"))
      .createOrReplaceTempView("dml_dup")
    val e = intercept[AnalysisException] {
      spark.sql(s"""
        MERGE INTO ice.$t AS tg USING dml_dup AS s
        ON tg.repo = s.repo AND tg.path = s.path
        WHEN MATCHED THEN UPDATE SET content = s.content""")
    }
    assert(e.getMessage.contains("more than once"), e.getMessage)
  }

  test("DML commits interoperate with the engine: feeds, epochs, later batches") {
    val (engine, t) = freshTable(400, seed = 108)
    val sid = engine.table.currentSnapshotId
    val epochsBefore = engine.table.committedEpochs
    val res = spark.sql(s"DELETE FROM ice.$t WHERE lang = 'go'")
    val deleted = res.head().getLong(0)
    assert(deleted > 0)
    // the DML snapshot is a NON-BATCH commit: the epoch ledger is untouched,
    // so streaming exactly-once bookkeeping cannot collide with DML
    assert(engine.table.committedEpochs === epochsBefore)
    assert(engine.table.snapshot(engine.table.currentSnapshotId).batchEpoch === -1L)
    // the change feed delivers the deletes as tombstones
    val feed = engine.changesSince(sid)
    assert(feed.filter(col("_op") === "D").count() === deleted)
    // a replayed old epoch is still a no-op; a new epoch still applies
    val head = engine.table.currentSnapshotId
    assert(engine.applyBatch(0, Synth.events(spark, 400, seed = 108)).skipped)
    assert(engine.table.currentSnapshotId === head)
    engine.applyBatch(1, Synth.events(spark, 100, seed = 109)
      .withColumn("commit_lsn", col("commit_lsn") + 100000))
    assert(engine.table.currentSnapshotId !== head)
    // the later batch's higher LSNs win over the DML stamp where they collide
    assert(count(s"SELECT count(*) FROM ice.$t") > 0)
  }

  test("DELETE with an IN-subquery condition; INSERT BY NAME") {
    val (_, t) = freshTable(300, seed = 111)
    // subquery in the WHERE: resolved at run() like any other read
    spark.sql(s"SELECT repo FROM ice.$t GROUP BY repo ORDER BY count(*) DESC LIMIT 3")
      .createOrReplaceTempView("dml_hot")
    val hot = count(s"SELECT count(*) FROM ice.$t WHERE repo IN (SELECT repo FROM dml_hot)")
    assert(hot > 0)
    assert(spark.sql(s"DELETE FROM ice.$t WHERE repo IN (SELECT repo FROM dml_hot)")
      .head().getLong(0) === hot)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE repo IN (SELECT repo FROM dml_hot)") === 0)
    // BY NAME: source column order does not matter, unlisted payload is NULL
    spark.sql(s"INSERT INTO ice.$t BY NAME " +
      "SELECT 'by-body' AS content, 'bn-path' AS path, 'bn-repo' AS repo")
    val r = spark.sql(
      s"SELECT lang, content FROM ice.$t WHERE repo = 'bn-repo' AND path = 'bn-path'").head()
    assert(r.isNullAt(0) && r.getString(1) === "by-body")
  }

  test("DML on a merge-on-read table goes through the same delta path") {
    val name = synchronized { n += 1; s"dml$n" }
    val dir = SparkTestBase.tmpDir(s"sqldml-$name")
    val engine = new CdcEngine(spark,
      IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8, mergeOnRead = true),
      EngineConf(buckets = 8))
    engine.applyBatch(0, Synth.events(spark, 500, seed = 112))
    engine.applyBatch(1, Synth.events(spark, 300, seed = 113)
      .withColumn("commit_lsn", col("commit_lsn") + 1000))
    IceliteSql.register(spark, name, engine)
    val files0 = engine.inspect.files(-1L).count()
    val rs = count(s"SELECT count(*) FROM ice.$name WHERE lang = 'rs'")
    assert(rs > 0)
    assert(spark.sql(s"DELETE FROM ice.$name WHERE lang = 'rs'").head().getLong(0) === rs)
    assert(count(s"SELECT count(*) FROM ice.$name WHERE lang = 'rs'") === 0)
    // merge-on-read: the DML appended tombstone deltas, no bucket rewrite
    assert(engine.inspect.files(-1L).count() > files0,
      "MOR DML must append delta files, not rewrite in place")
    spark.sql(s"UPDATE ice.$name SET content = 'mor-upd' WHERE lang = 'md'")
    assert(count(s"SELECT count(*) FROM ice.$name WHERE lang = 'md' AND content != 'mor-upd'") === 0)
  }

  test("a DML statement racing a concurrent engine batch loses no update") {
    val (engine, t) = freshTable(600, seed = 114)
    // the racing batch writes DISJOINT keys with very high LSNs
    val racer = new Thread(() => {
      engine.applyBatch(7, Synth.events(spark, 300, seed = 115)
        .withColumn("repo", concat(lit("race-"), col("repo")))
        .withColumn("commit_lsn", col("commit_lsn") + 500000))
      ()
    })
    val before = count(s"SELECT count(*) FROM ice.$t WHERE lang = 'scala'")
    racer.start()
    val deleted = try spark.sql(s"DELETE FROM ice.$t WHERE lang = 'scala'").head().getLong(0)
    finally racer.join()
    // the DELETE saw the statement-start state (read-committed DML) and the
    // racer's commit survived the CAS interleaving either way
    assert(deleted === before)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE lang = 'scala' " +
      "AND repo NOT LIKE 'race-%'") === 0)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE repo LIKE 'race-%'") > 0,
      "the racing batch's keys must survive the DML commit")
    assert(engine.table.committedEpochs.contains(7L))
  }

  test("DML on metadata relations is rejected") {
    val (_, t) = freshTable(50, seed = 110)
    val e = intercept[AnalysisException] {
      spark.sql(s"DELETE FROM ice.$t.snapshots WHERE snapshot_id = 0")
    }
    assert(e.getMessage.contains("read-only"), e.getMessage)
    val i = intercept[AnalysisException] {
      spark.sql(s"INSERT INTO ice.$t.refs VALUES ('x')")
    }
    assert(i.getMessage.contains("read-only") || i.getMessage.contains("not an INSERT target"),
      i.getMessage)
  }

  test("ALTER TABLE ADD COLUMN routes through SchemaEvolve; old snapshots " +
      "keep their schema") {
    val (engine, t) = freshTable(seed = 301)
    val sid0 = engine.table.currentSnapshotId
    spark.sql(s"ALTER TABLE ice.$t ADD COLUMN stars INT")
    assert(spark.sql(s"SELECT * FROM ice.$t").columns.contains("stars"))
    // the DDL is one metadata-only snapshot commit; old rows read as null
    assert(count(s"SELECT count(*) FROM ice.$t WHERE stars IS NOT NULL") === 0)
    // the new column is immediately DML-assignable
    spark.sql(s"UPDATE ice.$t SET stars = 5 WHERE lang = 'scala'")
    assert(count(s"SELECT count(*) FROM ice.$t WHERE stars = 5") > 0)
    // time travel below the DDL still reads under the OLD schema id
    assert(!spark.sql(s"SELECT * FROM ice.$t VERSION AS OF $sid0")
      .columns.contains("stars"))
    // re-adding an existing column fails loudly
    val dup = intercept[AnalysisException](
      spark.sql(s"ALTER TABLE ice.$t ADD COLUMN stars INT"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
  }

  test("ALTER COLUMN TYPE widens in place; narrow/drop/rename/key stay rejected") {
    val (_, t) = freshTable(seed = 302)
    spark.sql(s"ALTER TABLE ice.$t ADD COLUMN stars INT")
    spark.sql(s"UPDATE ice.$t SET stars = 3 WHERE lang = 'py'")
    spark.sql(s"ALTER TABLE ice.$t ALTER COLUMN stars TYPE BIGINT")
    // files written under the int schema up-cast at read (per-file schema id)
    assert(spark.sql(s"SELECT * FROM ice.$t").schema("stars").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(count(s"SELECT count(*) FROM ice.$t WHERE stars = 3") > 0)
    val narrow = intercept[AnalysisException](
      spark.sql(s"ALTER TABLE ice.$t ALTER COLUMN stars TYPE INT"))
    assert(narrow.getMessage.contains("illegal type change"), narrow.getMessage)
    val drop = intercept[AnalysisException](
      spark.sql(s"ALTER TABLE ice.$t DROP COLUMN stars"))
    assert(drop.getMessage.contains("not supported"), drop.getMessage)
    val ren = intercept[AnalysisException](
      spark.sql(s"ALTER TABLE ice.$t RENAME COLUMN stars TO s2"))
    assert(ren.getMessage.contains("not supported"), ren.getMessage)
    val key = intercept[AnalysisException](
      spark.sql(s"ALTER TABLE ice.$t ALTER COLUMN repo TYPE BIGINT"))
    assert(key.getMessage.contains("MERGE identity"), key.getMessage)
  }

  test("replayed DML yields an identical table — ts derives from the LSN, " +
      "never wall clock") {
    // two tables built from the same seed, the same DML script on both:
    // every cell including the _ts envelope must match (before the fix,
    // IceliteDml stamped System.currentTimeMillis and replay diverged)
    val (_, t1) = freshTable(seed = 303)
    val (_, t2) = freshTable(seed = 303)
    for (t <- Seq(t1, t2)) {
      spark.sql(s"DELETE FROM ice.$t WHERE lang = 'go'")
      spark.sql(s"UPDATE ice.$t SET content = 'patched' WHERE lang = 'rs'")
      spark.sql(s"INSERT INTO ice.$t (repo, path, lang, content) " +
        "VALUES ('r-new', 'p-new', 'md', 'fresh')")
    }
    val a = spark.sql(s"SELECT * FROM ice.$t1")
    val b = spark.sql(s"SELECT * FROM ice.$t2")
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "same DML on an identical table must replay to identical state " +
        "(including _ts and content_sha256)")
  }
}
