package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{CdcEngine, EngineConf, StatsSkip}
import graft.icelite.{Icelite, IceliteTable}
import graft.synth.Synth

/** Column-stats file skipping (`EngineConf.statsCols` + `compact(sortBy,
  * maxFileRows)` + `scanRange`): results must equal the unpruned filter in
  * every mode, pruning must actually skip files once the column is sort-
  * clustered, and — the soundness core — a merge-on-read bucket with live
  * delta files must NOT be pruned (a matching key's final row is assembled
  * from cells across files, so skipping any one corrupts carry-forward). */
class StatsSkipSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def engine(mor: Boolean, buckets: Int = 8): CdcEngine = {
    val dir = SparkTestBase.tmpDir("statskip")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), buckets,
      mergeOnRead = mor)
    new CdcEngine(spark, t, EngineConf(buckets = buckets,
      statsCols = Seq("lang", "content")))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("COW: sorted compaction + scanRange equals the unpruned filter and skips files") {
    val ev = Synth.events(spark, 4000, seed = 31)
    val e = engine(mor = false)
    e.applyBatch(0, ev.filter(col("commit_lsn") < 2000))
    e.applyBatch(1, ev.filter(col("commit_lsn") >= 2000))
    e.compact(sortBy = Seq("lang"), maxFileRows = 120)

    val expected = e.currentState().filter(col("lang") === "py")
    val got = e.scanRange("lang", Some("py"), Some("py"))
    assert(sortedRows(got) === sortedRows(expected))
    assert(got.count() > 0)

    val plan = e.scanRangePlan("lang", Some("py"), Some("py"))
    assert(plan.unprunableBuckets === 0)
    // 5 languages, sort-clustered into >=120-row splits: most files hold a
    // single language, so a one-language predicate must skip real files
    assert(plan.filesSkipped > plan.filesTotal / 2,
      s"expected >half the files skipped, got $plan")

    // unbounded scan reads everything and equals currentState
    val all = e.scanRange("lang", None, None)
    assert(sortedRows(all) === sortedRows(e.currentState()))
    assert(e.scanRangePlan("lang", None, None).filesSkipped === 0)
  }

  test("MOR: live deltas suspend pruning (carry-forward soundness); compaction resumes it") {
    val ev = Synth.events(spark, 3000, seed = 32)
    val e = engine(mor = true)
    e.applyBatch(0, ev)
    e.compact(sortBy = Seq("lang"), maxFileRows = 100)
    val before = e.scanRangePlan("lang", Some("py"), Some("py"))
    assert(before.unprunableBuckets === 0 && before.filesSkipped > 0)

    // delta batch: update CONTENT of a known py-lang key, lang omitted
    // (carry-forward). The row's final lang stays 'py'; its content must be
    // the NEW value even though the delta file itself has no lang cell.
    val pyRow = e.currentState().filter(col("lang") === "py")
      .select("repo", "path").head()
    val (r0, p0) = (pyRow.getString(0), pyRow.getString(1))
    val delta = Seq((r0, p0, 9999999L, 0, "U", null: String, "PATCHED"))
      .toDF("repo", "path", "commit_lsn", "seq", "op", "lang", "content")
      .withColumn("ts", timestamp_seconds(lit(1700000000L)))
      .withColumn("commit", lit(null).cast(StringType))
    e.applyBatch(1, delta)

    val after = e.scanRangePlan("lang", Some("py"), Some("py"))
    assert(after.unprunableBuckets >= 1,
      s"bucket with a live delta must be read whole, got $after")
    val expected = e.currentState().filter(col("lang") === "py")
    val got = e.scanRange("lang", Some("py"), Some("py"))
    assert(sortedRows(got) === sortedRows(expected))
    assert(got.filter(col("repo") === r0 && col("path") === p0)
      .select("content").head().getString(0) === "PATCHED",
      "carry-forward row must surface the delta's content under the old lang")

    // compaction folds the delta back into merged files: pruning resumes
    e.compact(sortBy = Seq("lang"), maxFileRows = 100)
    val resumed = e.scanRangePlan("lang", Some("py"), Some("py"))
    assert(resumed.unprunableBuckets === 0 && resumed.filesSkipped > 0)
    assert(sortedRows(e.scanRange("lang", Some("py"), Some("py")))
      === sortedRows(e.currentState().filter(col("lang") === "py")))
  }

  test("MOR: multi-file merged buckets (maxFileRows split) read raw and stay fold-equal") {
    val ev = Synth.events(spark, 3000, seed = 33)
    val e = engine(mor = true)
    e.applyBatch(0, ev.filter(col("commit_lsn") < 1500))
    e.applyBatch(1, ev.filter(col("commit_lsn") >= 1500))
    e.compact(sortBy = Seq("lang"), maxFileRows = 80)
    val files = e.table.currentSnapshot.map(s =>
      e.table.bucketFilesOf(s)).getOrElse(Map.empty)
    assert(files.exists(_._2.size > 1), "split compaction must leave multi-file buckets")
    assert(files.values.flatten.forall(_.merged))
    // state equals the naive fold: no duplicated keys from the raw
    // multi-file read, no lost rows
    val oracle = TestOracle.finalState(ev.collect().toSeq,
      Seq("commit", "lang", "content"))
    val got = e.currentState().collect()
    assert(got.length === oracle.size)
    got.foreach { r =>
      val k = (r.getString(r.fieldIndex("repo")), r.getString(r.fieldIndex("path")))
      val exp = oracle(k)
      val gotLang = if (r.isNullAt(r.fieldIndex("lang"))) null
        else r.getString(r.fieldIndex("lang"))
      assert(gotLang === exp.cols.getOrElse("lang", null), s"lang mismatch at $k")
    }
  }

  test("numeric stats column prunes by range; multi-column conjunction prunes further") {
    val dir = SparkTestBase.tmpDir("statskip")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 4)
    val e = new CdcEngine(spark, t,
      EngineConf(buckets = 4, statsCols = Seq("size", "tier")))
    val ev = spark.range(2000).select(
      concat(lit("r"), pmod(col("id"), lit(7))).as("repo"),
      concat(lit("p"), col("id")).as("path"),
      col("id").as("commit_lsn"),
      lit(0).as("seq"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
      lit("U").as("op"),
      (col("id") * 10L).as("size"),
      concat(lit("t"), pmod(col("id"), lit(4))).as("tier"))
    e.applyBatch(0, ev)
    e.compact(sortBy = Seq("tier", "size"), maxFileRows = 60)
    val tierOnly = e.scanRangePlan("tier", Some("t1"), Some("t1"))
    assert(tierOnly.filesSkipped > tierOnly.filesTotal / 2, s"got $tierOnly")
    // conjunction: the size range rules out files the tier bound kept
    val both = e.scanWherePlan(Seq(
      ("tier", Some("t1"), Some("t1")), ("size", Some(0L), Some(4000L))))
    assert(both.filesSkipped > tierOnly.filesSkipped,
      s"conjunction must prune further: $both vs $tierOnly")
    val got = e.scanWhere(Seq(
      ("tier", Some("t1"), Some("t1")), ("size", Some(0L), Some(4000L))))
    val expected = e.currentState()
      .filter(col("tier") === "t1" && col("size").between(0L, 4000L))
    assert(sortedRows(got) === sortedRows(expected))
    assert(got.count() === 100) // ids 1,5,...,397: id%4==1 and id<=400
  }

  test("write-time clustering: fresh COW writes prune without any compaction") {
    val dir = SparkTestBase.tmpDir("statskip")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8)
    val e = new CdcEngine(spark, t, EngineConf(buckets = 8,
      statsCols = Seq("lang"), writeSortCols = Seq("lang"),
      writeMaxFileRows = 100))
    val ev = Synth.events(spark, 3000, seed = 36)
    e.applyBatch(0, ev.filter(col("commit_lsn") < 1500))
    val fresh = e.scanRangePlan("lang", Some("py"), Some("py"))
    assert(fresh.filesSkipped > 0, s"fresh write must already prune: $fresh")
    // a second batch rewrites affected buckets — still sorted, still pruned
    e.applyBatch(1, ev.filter(col("commit_lsn") >= 1500))
    val after = e.scanRangePlan("lang", Some("py"), Some("py"))
    assert(after.filesSkipped > 0 && after.unprunableBuckets === 0, s"got $after")
    assert(sortedRows(e.scanRange("lang", Some("py"), Some("py")))
      === sortedRows(e.currentState().filter(col("lang") === "py")))
  }

  test("MOR threshold auto-compaction applies the declared sort order: pruning with zero explicit compactions") {
    val dir = SparkTestBase.tmpDir("statskip")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 4,
      mergeOnRead = true)
    val e = new CdcEngine(spark, t, EngineConf(buckets = 4,
      statsCols = Seq("lang"), writeSortCols = Seq("lang"),
      writeMaxFileRows = 100, morCompactThreshold = 3))
    val ev = Synth.events(spark, 2400, seed = 37)
    // enough delta appends per bucket to cross the threshold in every one
    (0 until 4).foreach(i => e.applyBatch(i,
      ev.filter(col("commit_lsn") % 4 === i)))
    val plan = e.scanRangePlan("lang", Some("py"), Some("py"))
    assert(plan.filesSkipped > 0,
      s"auto-compaction must have produced sorted, prunable files: $plan")
    assert(sortedRows(e.scanRange("lang", Some("py"), Some("py")))
      === sortedRows(e.currentState().filter(col("lang") === "py")))
  }

  test("change feed across a split sorted compaction keeps a mirror exact") {
    val ev = Synth.events(spark, 2000, seed = 38)
    val e = engine(mor = true)
    e.applyBatch(0, ev.filter(col("commit_lsn") < 1000))
    val mdir = SparkTestBase.tmpDir("statskip-mirror")
    val mirror = new CdcEngine(spark,
      IceliteTable.create(s"$mdir/m", Seq("repo", "path"), 8),
      EngineConf(buckets = 8))
    val consumer = new graft.engine.FeedConsumer(e, mirror)
    consumer.sync()
    // the compaction SPLITS buckets into several merged files mid-stream;
    // the feed must stay value-exact across it (compaction adds files but
    // changes no values) and across the follow-up delta batch
    e.compact(sortBy = Seq("lang"), maxFileRows = 80)
    e.applyBatch(1, ev.filter(col("commit_lsn") >= 1000))
    consumer.sync()
    def visible(x: CdcEngine) = x.currentState()
      .select("repo", "path", "lang", "content", "_op")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(visible(mirror) === visible(e))
    assert(consumer.sync() === 0L, "idle re-sync must apply nothing")
  }

  test("manifests written before merged/colStats existed parse with safe defaults") {
    import org.json4s.jackson.Serialization
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val old = """{"path":"data/__b=0/f.parquet","schemaId":1,"rows":10,
      "minLsn":5,"maxLsn":9}"""
    val f = Serialization.read[Icelite.DataFile](old)
    assert(!f.merged && f.colStats.isEmpty && f.keyFp.isEmpty)
    // round trip keeps the new fields
    val g = f.copy(merged = true, colStats = Some(Map("lang" -> List("go", "py"))))
    val back = Serialization.read[Icelite.DataFile](Serialization.write(g))
    assert(back === g)
  }

  test("StatsSkip: typed compare, overlap, all-null bounds, long-string dropout") {
    assert(StatsSkip.cmp(LongType, "9", "10") < 0) // numeric, not lexicographic
    assert(StatsSkip.cmp(StringType, "9", "10") > 0) // utf8 bytes
    assert(StatsSkip.cmp(DoubleType, "2.5", "10.0") < 0)
    assert(StatsSkip.overlaps(StringType, List("go", "py"), Some("md"), Some("md")))
    assert(!StatsSkip.overlaps(StringType, List("go", "md"), Some("py"), Some("py")))
    assert(!StatsSkip.overlaps(StringType, Nil, Some("py"), Some("py")),
      "all-null file can never match a value predicate")
    assert(StatsSkip.overlaps(LongType, List("100", "200"), Some(150L).map(_.toString), None))
    assert(!StatsSkip.overlaps(LongType, List("100", "200"), Some("201"), None))
    val long = "x" * 100
    assert(StatsSkip.encode(StringType, bin("a"), bin(long)).isEmpty)
    assert(StatsSkip.encode(StringType, bin("go"), bin("py")) === Some(List("go", "py")))
  }

  private def bin(s: String) =
    org.apache.parquet.io.api.Binary.fromString(s)

  test("SQL WHERE on a stats column prunes files at the manifest (inputFiles shrinks)") {
    val ev = Synth.events(spark, 3000, seed = 34)
    val e = engine(mor = false)
    e.applyBatch(0, ev)
    e.compact(sortBy = Seq("lang"), maxFileRows = 100)
    graft.sql.IceliteSql.register(spark, "sprune", e)
    val total = e.table.currentFiles().size

    // control: no WHERE — the full file set is read
    assert(spark.sql("SELECT repo, path, lang FROM ice.sprune")
      .inputFiles.length === total)

    val q = spark.sql(
      "SELECT repo, path, lang, content FROM ice.sprune WHERE lang = 'py'")
    assert(q.inputFiles.length < total,
      s"pushdown must shrink the file set: ${q.inputFiles.length} vs $total")
    assert(sortedRows(q) === sortedRows(
      e.currentState().filter(col("lang") === "py")
        .select("repo", "path", "lang", "content")))

    // range predicate, attribute on either side, extra conjunct on top
    val r = spark.sql("SELECT repo, lang FROM ice.sprune " +
      "WHERE lang >= 'py' AND 'rs' >= lang AND length(repo) > 0")
    assert(r.inputFiles.length < total)
    assert(sortedRows(r) === sortedRows(
      e.currentState().filter(col("lang") >= "py" && col("lang") <= "rs")
        .select("repo", "lang")))

    // IN-list: pruned by the list's [min, max] range
    val in = spark.sql("SELECT repo, lang FROM ice.sprune WHERE lang IN ('py', 'rs')")
    assert(in.inputFiles.length < total)
    assert(sortedRows(in) === sortedRows(
      e.currentState().filter(col("lang").isin("py", "rs"))
        .select("repo", "lang")))

    // prefix LIKE: pruned by [prefix, prefix-incremented)
    val pre = spark.sql("SELECT repo, lang FROM ice.sprune WHERE lang LIKE 'p%'")
    assert(pre.inputFiles.length < total)
    assert(sortedRows(pre) === sortedRows(
      e.currentState().filter(col("lang").startsWith("p"))
        .select("repo", "lang")))

    // non-stats column predicate: no rewrite, full file set, right rows
    val n = spark.sql("SELECT repo, path FROM ice.sprune WHERE path LIKE 'src/dir1/%'")
    assert(n.inputFiles.length === total)
    assert(n.count() ===
      e.currentState().filter(col("path").startsWith("src/dir1/")).count())

    // time travel prunes too — bounds live on the immutable manifest
    // entries, so a pinned snapshot carries its own skip index; rows must
    // equal stateAt's filter even after the head moves past the pin
    val pin = e.tagSnapshot("pin")
    e.applyBatch(7, Seq(("rX", "pX", 7777777L, 0, "U", "py", "post-pin"))
      .toDF("repo", "path", "commit_lsn", "seq", "op", "lang", "content")
      .withColumn("ts", timestamp_seconds(lit(1700000000L)))
      .withColumn("commit", lit(null).cast(StringType)))
    val tt = spark.sql(
      "SELECT repo, path, content FROM ice.sprune VERSION AS OF 'pin' WHERE lang = 'py'")
    assert(tt.inputFiles.length < total)
    assert(sortedRows(tt) === sortedRows(
      e.stateAt(pin).filter(col("lang") === "py")
        .select("repo", "path", "content")))
    assert(tt.filter(col("repo") === "rX").count() === 0,
      "the pinned snapshot must not see the post-pin row")
    graft.sql.IceliteSql.unregister(spark, "sprune")
  }

  test("SQL pushdown on a MOR table with live deltas stays sound") {
    val ev = Synth.events(spark, 2000, seed = 35)
    val e = engine(mor = true)
    e.applyBatch(0, ev)
    e.compact(sortBy = Seq("lang"), maxFileRows = 80)
    val pyRow = e.currentState().filter(col("lang") === "py")
      .select("repo", "path").head()
    val delta = Seq((pyRow.getString(0), pyRow.getString(1), 8888888L, 0, "U",
        null: String, "SQLPATCH"))
      .toDF("repo", "path", "commit_lsn", "seq", "op", "lang", "content")
      .withColumn("ts", timestamp_seconds(lit(1700000000L)))
      .withColumn("commit", lit(null).cast(StringType))
    e.applyBatch(1, delta)
    graft.sql.IceliteSql.register(spark, "sprunemor", e)
    val q = spark.sql(
      "SELECT repo, path, lang, content FROM ice.sprunemor WHERE lang = 'py'")
    assert(sortedRows(q) === sortedRows(
      e.currentState().filter(col("lang") === "py")
        .select("repo", "path", "lang", "content")))
    assert(q.filter(col("repo") === pyRow.getString(0) &&
        col("path") === pyRow.getString(1))
      .select("content").head().getString(0) === "SQLPATCH")
    graft.sql.IceliteSql.unregister(spark, "sprunemor")
  }
}
