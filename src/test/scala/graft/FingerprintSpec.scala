package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.{Icelite, IceliteTable}
import graft.synth.Synth

/** Manifest key-fingerprint stats (Iceberg Puffin-bloom analog): point
  * lookups on merge-on-read tables must open only the delta files that may
  * contain the key — with NO false negatives (a skipped file provably does
  * not hold the key), bitmaps only on delta files (copy-on-write/compaction
  * outputs hold full state and stay fingerprint-less = always read), and
  * graceful drop when a batch's per-bucket key load would make the bitmap
  * useless. */
class FingerprintSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def newEngine(mor: Boolean, conf: EngineConf): CdcEngine = {
    val dir = SparkTestBase.tmpDir("fp")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), conf.buckets, mergeOnRead = mor)
    new CdcEngine(spark, t, conf)
  }

  test("bitmap helpers: members always hit, non-members mostly miss") {
    val bits = 4096
    val members = (0 until 300).map(i => ((i * 2654435761L) % bits).toInt)
    val bm = Icelite.fpBitmap(members, bits)
    members.foreach(f => assert(Icelite.fpMayContain(bm, f)))
    val nonMembers = (0 until bits).filterNot(members.toSet)
    val fps = nonMembers.count(Icelite.fpMayContain(bm, _))
    // single-hash bloom: FP rate == load <= 300/4096 ≈ 7.3%
    assert(fps.toDouble / nonMembers.size <= 300.0 / bits + 1e-9)
  }

  test("merge-on-read lookups skip delta files and stay exact") {
    val conf = EngineConf(buckets = 4, keyFpBits = 4096)
    val engine = newEngine(mor = true, conf)
    val n = 3000L
    val ev = Synth.events(spark, n, seed = 71)
    val batches = Synth.batches(ev, 30, n)
    batches.zipWithIndex.foreach { case (b, i) => engine.applyBatch(i.toLong, b) }

    // every delta file carries a fingerprint bitmap
    val files = engine.table.bucketFilesOf(engine.table.currentSnapshot.get)
    assert(files.valuesIterator.flatten.forall(_.keyFp.isDefined))

    val state = engine.currentState().select("repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sample = state.sortBy(_.toString).take(25)
    var opened = 0
    var total = 0
    sample.foreach { case (repo, path) =>
      val pruned = engine.prunedFilesForKey(repo, path)
      assert(pruned.nonEmpty, s"present key ($repo,$path) pruned to zero files")
      // the key's bucket = the one whose file list contains a surviving file
      val bucketSize = files.valuesIterator.collectFirst {
        case fs if fs.exists(f =>
          pruned.contains(engine.table.root.resolve(f.path).toString)) => fs.size
      }.getOrElse(0)
      // lookup result == full-state filter (no false negatives anywhere)
      val viaLookup = engine.pointLookup(repo, path).drop("content_sha256").collect()
      val viaState = engine.currentState()
        .filter(col("repo") === repo && col("path") === path)
        .drop("content_sha256").collect()
      assert(viaLookup.toSeq === viaState.toSeq, s"lookup mismatch for ($repo,$path)")
      opened += pruned.size
      total += bucketSize
    }
    // the point of the stat: far fewer file opens than files in the bucket
    assert(total > 0 && opened < total / 2,
      s"fingerprints should halve file opens at least: opened $opened of $total")

    // absent keys: zero rows, and pruning still sound
    val absent = engine.pointLookup("repo-absent", "no/such/file.scala")
    assert(absent.count() === 0)
  }

  test("tombstoned key returns zero rows through the pruned path") {
    val conf = EngineConf(buckets = 2, keyFpBits = 4096)
    val engine = newEngine(mor = true, conf)
    import spark.implicits._
    val up = Seq(("r1", "a.txt", "c1", "scala", "body", "I", 1L, 0, "2024-01-01 00:00:00"))
      .toDF("repo", "path", "commit", "lang", "content", "op", "commit_lsn", "seq", "ts")
    val del = Seq(("r1", "a.txt", "c2", "scala", null.asInstanceOf[String], "D", 2L, 0,
      "2024-01-01 00:00:01"))
      .toDF("repo", "path", "commit", "lang", "content", "op", "commit_lsn", "seq", "ts")
    engine.applyBatch(0, up)
    engine.applyBatch(1, del)
    assert(engine.prunedFilesForKey("r1", "a.txt").size === 2) // both deltas hold the key
    assert(engine.pointLookup("r1", "a.txt").count() === 0)
  }

  test("copy-on-write files carry no fingerprints and lookups stay exact") {
    val conf = EngineConf(buckets = 4, keyFpBits = 4096)
    val engine = newEngine(mor = false, conf)
    val n = 1000L
    val ev = Synth.events(spark, n, seed = 72)
    Synth.batches(ev, 5, n).zipWithIndex.foreach { case (b, i) =>
      engine.applyBatch(i.toLong, b)
    }
    val files = engine.table.bucketFilesOf(engine.table.currentSnapshot.get)
    assert(files.valuesIterator.flatten.forall(_.keyFp.isEmpty))
    val (repo, path) = {
      val r = engine.currentState().select("repo", "path").orderBy("repo", "path").first()
      (r.getString(0), r.getString(1))
    }
    val viaLookup = engine.pointLookup(repo, path).drop("content_sha256").collect()
    val viaState = engine.currentState()
      .filter(col("repo") === repo && col("path") === path)
      .drop("content_sha256").collect()
    assert(viaLookup.toSeq === viaState.toSeq)
  }

  test("compaction folds deltas into a fingerprint-less file; lookup opens just it") {
    val conf = EngineConf(buckets = 2, keyFpBits = 4096)
    val engine = newEngine(mor = true, conf)
    val n = 600L
    val ev = Synth.events(spark, n, seed = 73)
    Synth.batches(ev, 12, n).zipWithIndex.foreach { case (b, i) =>
      engine.applyBatch(i.toLong, b)
    }
    engine.compact()
    val files = engine.table.bucketFilesOf(engine.table.currentSnapshot.get)
    assert(files.valuesIterator.forall(_.size === 1))
    assert(files.valuesIterator.flatten.forall(_.keyFp.isEmpty))
    val (repo, path) = {
      val r = engine.currentState().select("repo", "path").orderBy("repo", "path").first()
      (r.getString(0), r.getString(1))
    }
    assert(engine.prunedFilesForKey(repo, path).size === 1)
    val viaLookup = engine.pointLookup(repo, path).drop("content_sha256").collect()
    val viaState = engine.currentState()
      .filter(col("repo") === repo && col("path") === path)
      .drop("content_sha256").collect()
    assert(viaLookup.toSeq === viaState.toSeq)
  }

  test("over-full batches drop the bitmap instead of storing a useless one") {
    // one bucket, one batch with far more distinct keys than keyFpBits/4
    val conf = EngineConf(buckets = 1, keyFpBits = 256)
    val engine = newEngine(mor = true, conf)
    val ev = Synth.events(spark, 2000L, seed = 74) // >> 256/4 = 64 distinct keys
    engine.applyBatch(0, ev)
    val files = engine.table.bucketFilesOf(engine.table.currentSnapshot.get)
    assert(files.valuesIterator.flatten.forall(_.keyFp.isEmpty))
    // fingerprint-less files are always read — lookups remain exact
    val (repo, path) = {
      val r = engine.currentState().select("repo", "path").orderBy("repo", "path").first()
      (r.getString(0), r.getString(1))
    }
    val viaLookup = engine.pointLookup(repo, path).drop("content_sha256").collect()
    val viaState = engine.currentState()
      .filter(col("repo") === repo && col("path") === path)
      .drop("content_sha256").collect()
    assert(viaLookup.toSeq === viaState.toSeq)
  }

  test("a reader at another keyFpBits keeps every file that holds the key") {
    val dir = SparkTestBase.tmpDir("fp")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), 4, mergeOnRead = true)
    val writer = new CdcEngine(spark, t, EngineConf(buckets = 4, keyFpBits = 8192))
    val n = 1200L
    Synth.batches(Synth.events(spark, n, seed = 76, repos = 10, pathsPerRepo = 20), 6, n)
      .zipWithIndex.foreach { case (b, i) => writer.applyBatch(i.toLong, b) }
    val files = t.bucketFilesOf(t.currentSnapshot.get).valuesIterator.flatten.toSeq
    assert(files.forall(_.keyFp.exists(java.util.Base64.getDecoder.decode(_).length == 1024)))
    val reader = new CdcEngine(spark, t, EngineConf(buckets = 4, keyFpBits = 4096))
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    // key -> the data files that actually hold it
    val holders = spark.read.parquet(files.map(f => t.root.resolve(f.path).toString): _*)
      .select(col("repo"), col("path"), input_file_name().as("f")).collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.map(r => name(r.getString(2))).toSet }
    assert(holders.size > 100)
    holders.foreach { case ((repo, path), in) =>
      val kept = reader.prunedFilesForKey(repo, path).map(name).toSet
      assert(in.subsetOf(kept), s"($repo,$path) is in ${in -- kept}, pruned away")
    }
    holders.keys.toSeq.sorted.take(5).foreach { case (repo, path) =>
      assert(reader.pointLookup(repo, path).drop("content_sha256").collect().toSeq ===
        reader.currentState().filter(col("repo") === repo && col("path") === path)
          .drop("content_sha256").collect().toSeq)
    }
  }

  test("keyFpBits must be 0 or a positive multiple of 8") {
    Seq(-8, 4, 12, 4100).foreach(b =>
      intercept[IllegalArgumentException](EngineConf(keyFpBits = b)))
    Seq(0, 8, 4096).foreach(b => assert(EngineConf(keyFpBits = b).keyFpBits === b))
  }

  test("keyFpBits = 0 disables the stat entirely") {
    val conf = EngineConf(buckets = 2, keyFpBits = 0)
    val engine = newEngine(mor = true, conf)
    val ev = Synth.events(spark, 200L, seed = 75)
    Synth.batches(ev, 2, 200L).zipWithIndex.foreach { case (b, i) =>
      engine.applyBatch(i.toLong, b)
    }
    val files = engine.table.bucketFilesOf(engine.table.currentSnapshot.get)
    assert(files.valuesIterator.flatten.forall(_.keyFp.isEmpty))
    val (repo, path) = {
      val r = engine.currentState().select("repo", "path").orderBy("repo", "path").first()
      (r.getString(0), r.getString(1))
    }
    assert(engine.pointLookup(repo, path).count() === 1)
  }
}
