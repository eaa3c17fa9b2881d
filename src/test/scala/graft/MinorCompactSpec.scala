package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** MINOR compaction (`compactDeltas` / `rewrite_data_files(strategy =>
  * 'binpack')`): folding a merge-on-read bucket's delta pile into one
  * combined delta must change NOTHING visible — state, feeds, time
  * travel, point lookups, exactly-once — while leaving base files
  * untouched on disk (the O(delta)-not-O(bucket) cost claim is literal:
  * the base is not even read). */
class MinorCompactSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def mkEngine(dir: String, mor: Boolean = true): CdcEngine = {
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8,
      mergeOnRead = mor)
    new CdcEngine(spark, t, EngineConf(buckets = 8))
  }

  private def visible(e: CdcEngine): Seq[String] =
    e.currentState().select("repo", "path", "commit", "lang", "content", "_op")
      .collect().map(_.mkString("|")).sorted.toSeq

  test("fold equivalence: state identical, base files untouched, deltas folded to one") {
    val dir = SparkTestBase.tmpDir("minor")
    val e = mkEngine(dir)
    val cow = mkEngine(SparkTestBase.tmpDir("minor-cow"), mor = false)
    val ev = Synth.events(spark, 3000, seed = 51)
    val batches = Synth.batches(ev, 6, 3000, seed = 51, shuffleDelivery = true)
    e.applyBatch(0, batches(0)); cow.applyBatch(0, batches(0))
    e.compact() // a merged BASE under the delta pile
    (1 until 6).foreach { i =>
      e.applyBatch(i, batches(i)); cow.applyBatch(i, batches(i))
    }
    val pre = visible(e)
    val files = e.table.bucketFilesOf(e.table.currentSnapshot.get)
    val basePaths = files.values.flatten.filter(_.merged).map(_.path).toSet
    assert(files.values.exists(_.count(!_.merged) >= 2), "need a delta pile")

    val sid = e.compactDeltas()
    assert(sid === e.table.currentSnapshotId)
    val after = e.table.bucketFilesOf(e.table.currentSnapshot.get)
    after.foreach { case (b, fs) =>
      assert(fs.count(!_.merged) <= 1, s"bucket $b still holds a delta pile")
    }
    // base files are the SAME manifest entries — never rewritten or read
    assert(after.values.flatten.filter(_.merged).map(_.path).toSet === basePaths)
    assert(visible(e) === pre, "minor compaction must be a visible no-op")
    assert(visible(e) === visible(cow), "MOR+minor must equal the COW fold")

    // combined delta carries the OR'd key-fingerprint bitmap and tight LSN
    // stats from its own footer
    val combined = after.values.flatten.filter(f => !f.merged).toSeq
    assert(combined.nonEmpty && combined.forall(_.keyFp.nonEmpty),
      "combined deltas must inherit a fingerprint union")
    assert(combined.forall(f => f.minLsn >= 0 && f.maxLsn < 3000))
  }

  test("nothing qualifies below minInputFiles; COW tables are rejected") {
    val dir = SparkTestBase.tmpDir("minor")
    val e = mkEngine(dir)
    val ev = Synth.events(spark, 400, seed = 52)
    e.applyBatch(0, ev)
    val head = e.table.currentSnapshotId
    assert(e.compactDeltas(minInputFiles = 2) === head,
      "single-delta buckets must not be rewritten")
    val cow = mkEngine(SparkTestBase.tmpDir("minor"), mor = false)
    cow.applyBatch(0, ev)
    assertThrows[IllegalArgumentException](cow.compactDeltas())
    assertThrows[IllegalArgumentException](e.compactDeltas(minInputFiles = 1))
  }

  test("feeds, time travel, point lookups and exactly-once survive a minor compaction") {
    val dir = SparkTestBase.tmpDir("minor")
    val e = mkEngine(dir)
    val mdir = SparkTestBase.tmpDir("minor-mirror")
    val mirror = new CdcEngine(spark,
      IceliteTable.create(s"$mdir/m", Seq("repo", "path"), 8),
      EngineConf(buckets = 8))
    val consumer = new graft.engine.FeedConsumer(e, mirror)
    val ev = Synth.events(spark, 2400, seed = 53)
    val batches = Synth.batches(ev, 4, 2400, seed = 53, shuffleDelivery = true)
    (0 until 3).foreach(i => e.applyBatch(i, batches(i)))
    consumer.sync()
    val preSnap = e.table.currentSnapshotId
    val pre = visible(e)

    e.compactDeltas()
    // the minor commit is value-empty: the mirror applies nothing
    assert(consumer.sync() === 0L, "minor compaction must feed nothing")
    // time travel to the pre-minor snapshot still reads the old file set
    assert(visible(e) === pre)
    assert(e.stateAt(preSnap).select("repo", "path", "commit", "lang",
        "content", "_op").collect().map(_.mkString("|")).sorted.toSeq === pre)
    // exactly-once: re-delivering a folded epoch is still a no-op
    assert(e.applyBatch(1, batches(1)).skipped,
      "re-delivered epoch must skip after its delta was folded")
    // a live key resolves through the combined delta's fingerprint path
    val k = e.currentState().select("repo", "path", "content").head()
    val got = e.pointLookup(k.getString(0), k.getString(1))
      .select("content").head().getString(0)
    assert(got === k.getString(2))
    // and the pipeline keeps flowing: next batch, next sync, still equal
    e.applyBatch(3, batches(3))
    consumer.sync()
    assert(visible(mirror) === visible(e))
  }

  test("tombstones survive the fold; a later full rewrite still purges them") {
    val dir = SparkTestBase.tmpDir("minor")
    val e = mkEngine(dir)
    val ev = Synth.events(spark, 1200, seed = 54).filter(col("op") =!= "D")
    e.applyBatch(0, ev)
    e.compact()
    val victim = e.currentState().select("repo", "path").head()
    val (r0, p0) = (victim.getString(0), victim.getString(1))
    def deltaRow(lsn: Long, op: String): DataFrame = {
      import spark.implicits._
      Seq((r0, p0, lsn, 0, op, "zz", s"v$lsn"))
        .toDF("repo", "path", "commit_lsn", "seq", "op", "lang", "content")
        .withColumn("ts", timestamp_seconds(lit(1700000000L)))
        .withColumn("commit", lit(null).cast("string"))
    }
    e.applyBatch(1, deltaRow(5001, "U"))
    e.applyBatch(2, deltaRow(5002, "D"))
    e.compactDeltas()
    assert(e.currentState().filter(col("repo") === r0 && col("path") === p0)
      .isEmpty, "tombstone must keep hiding the key after the fold")
    assert(e.currentCells().filter(col("_op.v") === "D").count() === 1,
      "the tombstone CELL must survive minor compaction")
    e.compact(purgeTombstonesBelowLsn = 6000)
    assert(e.currentCells().filter(col("_op.v") === "D").isEmpty,
      "full rewrite still purges")
  }

  test("size-tiered auto-maintenance: minor folds while the pile is small, major when it rivals the base") {
    val dir = SparkTestBase.tmpDir("minor-tier")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 8,
      mergeOnRead = true)
    val e = new CdcEngine(spark, t, EngineConf(buckets = 8,
      morCompactThreshold = 3, morMinorRatio = 0.5))
    val cow = mkEngine(SparkTestBase.tmpDir("minor-tier-cow"), mor = false)
    // a big seed batch (becomes the base at the first crossing, which has
    // no base yet and so runs the full rewrite), then a stream of small
    // churn batches whose piles stay under half the base for several
    // crossings (minor rounds) until growth forces a major round
    val seed = Synth.events(spark, 3000, seed = 56)
    e.applyBatch(0, seed); cow.applyBatch(0, seed)
    var basePathSets = Vector.empty[Set[String]]
    (1 to 25).foreach { i =>
      val b = Synth.events(spark, 100, seed = 560 + i)
        .withColumn("commit_lsn", col("commit_lsn") + lit(3000L * i))
      e.applyBatch(i, b); cow.applyBatch(i, b)
      basePathSets :+= e.table.currentSnapshot.map(e.table.bucketFilesOf)
        .getOrElse(Map.empty).values.flatten.filter(_.merged).map(_.path).toSet
    }
    // both tiers actually fired: base-path transitions are the MAJOR
    // rounds (the full rewrite replaces base files); every other
    // maintenance snapshot (batchEpoch = -1) on the chain is a MINOR
    // round that folded deltas while keeping the base untouched
    val changes = basePathSets.sliding(2).count(p => p(0) != p(1))
    val maint = e.table.snapshotChain.count(_.batchEpoch == -1L)
    assert(basePathSets.last.nonEmpty, "a base must have formed")
    assert(changes >= 2, s"expected major rounds, base changed $changes times")
    assert(maint >= changes + 4,
      s"expected >=4 minor rounds, got $maint maintenance commits for $changes majors")
    // read fan-in stays bounded by the threshold
    val fanIn = e.table.currentSnapshot.map(e.table.bucketFilesOf)
      .getOrElse(Map.empty).values.map(_.count(!_.merged)).max
    assert(fanIn <= 3, s"delta fan-in must stay under the threshold, got $fanIn")
    assert(visible(e) === visible(cow),
      "tiered maintenance must equal the COW fold")
  }

  test("publishStaged and publishBranch apply the size-tiered rule: a minor fold keeps the base") {
    val seed = Synth.events(spark, 3000, seed = 57)
    def small(i: Int): DataFrame = Synth.events(spark, 100, seed = 570 + i)
      .withColumn("commit_lsn", col("commit_lsn") + lit(3000L * i))
    val cow = mkEngine(SparkTestBase.tmpDir("minor-pub-cow"), mor = false)
    (0 to 2).foreach(i => cow.applyBatch(i, if (i == 0) seed else small(i)))
    // a merged base under every bucket, then one small delta on it: the
    // next small delta crosses the threshold with a pile far below half
    // the base, which applyBatch would fold minor
    def tiered(tag: String): CdcEngine = {
      val t = IceliteTable.create(s"${SparkTestBase.tmpDir(tag)}/t", Seq("repo", "path"), 8,
        mergeOnRead = true)
      val e = new CdcEngine(spark, t, EngineConf(buckets = 8,
        morCompactThreshold = 3, morMinorRatio = 0.5))
      e.applyBatch(0, seed)
      e.compact()
      e
    }
    def basePaths(e: CdcEngine): Set[String] =
      e.table.bucketFilesOf(e.table.currentSnapshot.get).values.flatten
        .filter(_.merged).map(_.path).toSet
    def maintCommits(e: CdcEngine): Int = e.table.snapshotChain.count(_.batchEpoch == -1L)
    def check(e: CdcEngine, base: Set[String], maint: Int): Unit = {
      assert(maintCommits(e) === maint + 1, "the crossing must run one maintenance commit")
      assert(basePaths(e) === base, "a minor fold must leave the merged base untouched")
      assert(visible(e) === visible(cow))
    }

    val staged = tiered("minor-pub-staged")
    staged.applyBatch(1, small(1))
    val (stagedBase, stagedMaint) = (basePaths(staged), maintCommits(staged))
    staged.publishStaged(staged.stageBatch(2, small(2)).snapshotId)
    check(staged, stagedBase, stagedMaint)

    val lane = tiered("minor-pub-branch")
    val (laneBase, laneMaint) = (basePaths(lane), maintCommits(lane))
    lane.createBranch("lane")
    (1 to 2).foreach(i => lane.applyBatchToBranch(i, small(i), "lane"))
    lane.publishBranch("lane")
    check(lane, laneBase, laneMaint)
  }

  test("SQL: rewrite_data_files(strategy => 'binpack') folds; misuse fails loudly") {
    val dir = SparkTestBase.tmpDir("minor")
    val e = mkEngine(dir)
    val ev = Synth.events(spark, 1500, seed = 55)
    val batches = Synth.batches(ev, 4, 1500, seed = 55)
    (0 until 4).foreach(i => e.applyBatch(i, batches(i)))
    graft.sql.IceliteSql.register(spark, "minorsql", e)
    val pre = visible(e)
    val r = spark.sql(
      "CALL ice.system.rewrite_data_files('minorsql', strategy => 'binpack')")
      .collect()(0)
    assert(r.getInt(2) < r.getInt(1), "binpack must reduce the file count")
    assert(visible(e) === pre)
    assertThrows[Exception](spark.sql(
      "CALL ice.system.rewrite_data_files('minorsql', sort_by => 'lang', " +
        "strategy => 'binpack')").collect())
    assertThrows[Exception](spark.sql(
      "CALL ice.system.rewrite_data_files('minorsql', strategy => 'nope')")
      .collect())
  }
}
