package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.model.ChangeEvent
import graft.synth.Synth

/** Dead-letter quarantine: malformed change events (null key/op/lsn/seq)
  * must be VISIBLE — written to the DLQ with a reason and counted on the
  * commit — never silently dropped, and never applied. */
class DlqSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  def newEngine(dlq: String): CdcEngine = {
    val dir = SparkTestBase.tmpDir("dlq")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    new CdcEngine(spark, t, EngineConf(buckets = 8, dlqDir = dlq))
  }

  test("malformed rows land in the DLQ with reasons; valid rows apply; counts add up") {
    val dlq = SparkTestBase.tmpDir("dlqout") + "/q"
    val engine = newEngine(dlq)
    val good = Synth.events(spark, 500, seed = 31)
    // poison a deterministic slice: ids 0-9 null repo, 10-19 null op,
    // 20-29 null lsn, 30-39 null seq
    val bad = good
      .withColumn("repo", when(col("commit_lsn") < 10, lit(null: String)).otherwise(col("repo")))
      .withColumn("op", when(col("commit_lsn").between(10, 19), lit(null: String)).otherwise(col("op")))
      .withColumn("seq", when(col("commit_lsn").between(30, 39), lit(null).cast("int")).otherwise(col("seq")))
      .withColumn("commit_lsn", when(col("commit_lsn").between(20, 29), lit(null).cast("long")).otherwise(col("commit_lsn")))

    val r = engine.applyBatch(0, bad)
    assert(r.rejected === 40L)
    assert(r.events === 460L)
    assert(engine.currentState().count() ===
      engine.currentState().filter(col("repo").isNotNull).count())

    val q = spark.read.parquet(s"$dlq/epoch=0")
    assert(q.count() === 40)
    val reasons = q.groupBy(col("_reason")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(reasons === Map(
      "null_key" -> 10L, "null_op" -> 10L, "null_lsn" -> 10L, "null_seq" -> 10L))
    // quarantined rows keep their full original payload for replay-after-fix
    assert(q.columns.toSet === bad.columns.toSet + "_reason")
  }

  test("__src_* columns are source metadata: never payload, kept on quarantined rows") {
    val dlq = SparkTestBase.tmpDir("dlqsrc") + "/q"
    val engine = newEngine(dlq)
    // every row carries a source coordinate; ids 0-4 stand for records
    // that did not parse: their text is set and their envelope is null
    val ev = Synth.events(spark, 300, seed = 34)
      .withColumn("__src_offset", col("commit_lsn"))
      .withColumn(ChangeEvent.RawCol, when(col("commit_lsn") < 5, lit("{garbage")))
      .withColumn("repo", when(col("commit_lsn") < 5, lit(null: String)).otherwise(col("repo")))
    val r = engine.applyBatch(0, ev)
    assert(r.rejected === 5L && r.events === 295L)
    assert(!engine.currentState().columns.exists(_.startsWith(ChangeEvent.SourcePrefix)))
    val q = spark.read.parquet(s"$dlq/epoch=0")
    // `unparseable` is checked before `null_key`
    assert(q.groupBy(col("_reason")).count().collect().map(x => x.getString(0) -> x.getLong(1))
      .toMap === Map("unparseable" -> 5L))
    assert(q.columns.toSet === ev.columns.toSet + "_reason")
    assert(q.filter(col(ChangeEvent.RawCol) === "{garbage" && col("__src_offset") < 5)
      .count() === 5L)
  }

  test("clean batch pays no quarantine write at all; disabled DLQ writes nothing") {
    val dlq = SparkTestBase.tmpDir("dlqout2") + "/q"
    val engine = newEngine(dlq)
    val r = engine.applyBatch(0, Synth.events(spark, 200, seed = 32))
    assert(r.rejected === 0L)
    // the malformed-row count rides the lineage aggregation, so a clean
    // batch must not leave even an empty epoch directory behind
    assert(!Files.exists(Paths.get(s"$dlq/epoch=0")))

    val off = newEngine("")
    val allBad = Synth.events(spark, 50, seed = 33)
      .withColumn("op", lit(null: String))
    val r2 = off.applyBatch(0, allBad)
    // disabled: dropped silently (legacy behavior), epoch still committed
    assert(r2.rejected === 0L && r2.events === 0L)
    assert(off.table.lastEpoch === 0L)
    assert(off.applyBatch(0, allBad).skipped)
  }

  test("fallible-cast failures are quarantined as cast_error, never silently null-merged") {
    val dlq = SparkTestBase.tmpDir("dlqcast") + "/q"
    val engine = newEngine(dlq)
    // ship ts as a STRING (a legal envelope a loose producer emits): rows
    // whose ts cannot parse must land in the DLQ — under ANSI a plain cast
    // would kill the batch; non-ANSI would silently null the ts cell
    val b = Synth.events(spark, 300, seed = 35)
      .withColumn("ts", when(col("commit_lsn") < 12, lit("never-a-timestamp"))
        .otherwise(col("ts").cast("string")))
    val r = engine.applyBatch(0, b)
    assert(r.rejected === 12L)
    assert(r.events === 288L)
    val q = spark.read.parquet(s"$dlq/epoch=0")
    assert(q.count() === 12)
    assert(q.select("_reason").distinct().collect().map(_.getString(0)).toSeq === Seq("cast_error"))
    // the parseable string timestamps applied with correct values
    val st = engine.currentState()
    assert(st.filter(col("_ts").isNull).count() === 0)
    assert(st.count() > 0)
  }

  test("dropped staged epochs and abandoned lanes take their quarantine dirs with them") {
    val dlq = SparkTestBase.tmpDir("dlqdrop") + "/q"
    val engine = newEngine(dlq)
    engine.applyBatch(0, Synth.events(spark, 100, seed = 36))
    def poisoned(seed: Int) = Synth.events(spark, 100, seed = seed)
      .withColumn("op", when(col("commit_lsn") < 5, lit(null: String)).otherwise(col("op")))
    val staged = engine.stageBatch(1, poisoned(37))
    assert(Files.exists(Paths.get(s"$dlq/epoch=1")))
    engine.dropStaged(staged.snapshotId)
    assert(!Files.exists(Paths.get(s"$dlq/epoch=1")),
      "dropStaged must remove the dropped epoch's quarantine dir")
    engine.createBranch("lane")
    engine.applyBatchToBranch(2, poisoned(38), "lane")
    assert(Files.exists(Paths.get(s"$dlq/epoch=2")))
    engine.abandonBranch("lane", vacuumGraceMillis = 0L)
    assert(!Files.exists(Paths.get(s"$dlq/epoch=2")),
      "abandonBranch must remove the lane epochs' quarantine dirs")
  }

  test("abandoning a child branch keeps the parent lane's quarantine dirs") {
    val dlq = SparkTestBase.tmpDir("dlqfork") + "/q"
    val engine = newEngine(dlq)
    engine.applyBatch(0, Synth.events(spark, 100, seed = 41))
    def poisoned(seed: Int) = Synth.events(spark, 100, seed = seed)
      .withColumn("op", when(col("commit_lsn") < 5, lit(null: String)).otherwise(col("op")))
    engine.createBranch("parent")
    engine.applyBatchToBranch(1, poisoned(42), "parent")
    assert(Files.exists(Paths.get(s"$dlq/epoch=1")))
    // fork a CHILD off the parent's head: it shares the parent's snapshot,
    // so abandoning the child must not delete epoch 1's quarantine — the
    // still-live parent lane needs it for replay-after-fix
    engine.createBranch("child", engine.table.branchHead("parent"))
    engine.applyBatchToBranch(2, poisoned(43), "child")
    assert(Files.exists(Paths.get(s"$dlq/epoch=2")))
    engine.abandonBranch("child", vacuumGraceMillis = 0L)
    assert(!Files.exists(Paths.get(s"$dlq/epoch=2")),
      "the child's own epoch goes with the child")
    assert(Files.exists(Paths.get(s"$dlq/epoch=1")),
      "the parent lane's epoch must survive the child's abandonment")
  }

  test("an all-malformed batch quarantines everything and commits an empty epoch") {
    val dlq = SparkTestBase.tmpDir("dlqout3") + "/q"
    val engine = newEngine(dlq)
    val allBad = Synth.events(spark, 50, seed = 34)
      .withColumn("commit_lsn", lit(null).cast("long"))
    val r = engine.applyBatch(7, allBad)
    assert(r.rejected === 50L && r.events === 0L)
    assert(spark.read.parquet(s"$dlq/epoch=7").count() === 50)
    assert(engine.table.lastEpoch === 7L)
    assert(engine.currentState().count() === 0)
  }
}
