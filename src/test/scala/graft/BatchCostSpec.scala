package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.{ExecutorMetricsWarm, ListenerBusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** A batch's fixed Spark cost follows its data and the session's slots, not
  * the table's bucket count: the write runs in at most
  * `spark.sql.shuffle.partitions` tasks and starts no process per file,
  * reads plan from the manifest's file list without a listing job, and key
  * bloom filters are sized for the keys a file can hold. */
class BatchCostSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  def newEngine(conf: EngineConf): CdcEngine = {
    val dir = SparkTestBase.tmpDir("icelite")
    val t = IceliteTable.create(s"$dir/t", Seq("repo", "path"), conf.buckets)
    new CdcEngine(spark, t, conf)
  }

  /** Jobs started and stages completed while `body` runs. */
  def recorded(body: => Unit): (Int, Seq[StageInfo]) = {
    val sc = spark.sparkContext
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized(stages += e.stageInfo)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    l.synchronized((jobs, stages.toSeq))
  }

  test("a 64-bucket batch writes in at most shuffle-partitions tasks, one file per bucket") {
    val engine = newEngine(EngineConf(buckets = 64))
    val ev = Synth.events(spark, 4000, seed = 61)
    val (_, stages) = recorded(engine.applyBatch(0, ev))
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val writes = stages.filter(_.taskMetrics.outputMetrics.bytesWritten > 0)
    assert(writes.nonEmpty, "no stage wrote output")
    assert(writes.map(_.numTasks).max <= width,
      s"write stages ran ${writes.map(_.numTasks)} tasks; the session has $width slots")
    val files = engine.table.bucketFilesOf(engine.table.currentSnapshot.get)
    assert(files.size === 64)
    assert(files.values.forall(_.size == 1), s"files per bucket: ${files.values.map(_.size)}")
  }

  /** Operating-system processes this JVM started while `body` ran (JFR). */
  def processStarts(body: => Unit): Seq[String] = {
    val file = Paths.get(SparkTestBase.tmpDir("jfr"), "process-starts.jfr")
    Using.resource(new Recording()) { rec =>
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
    }
    RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
  }

  test("a 64-bucket batch starts no operating-system process") {
    val engine = newEngine(EngineConf(buckets = 64))
    val batches = Synth.batches(Synth.events(spark, 8000, seed = 64), 2, 4000)
    ExecutorMetricsWarm()
    val started = processStarts(batches.zipWithIndex.foreach { case (b, i) =>
      engine.applyBatch(i, b)
    })
    assert(started.size === 0, s"e.g. ${started.take(3).mkString("; ")}")
    // the modes Hadoop's local file system gives under the session's umask
    val umask = FsPermission.getUMask(spark.sessionState.newHadoopConf())
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    def mode(p: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val files = engine.table.currentFiles().map(Paths.get(_))
    assert(files.size === 64)
    files.foreach { f =>
      assert(mode(f) === fileMode, s"mode of $f")
      assert(f.getParent.getFileName.toString.startsWith("__b="))
      assert(mode(f.getParent) === dirMode, s"mode of ${f.getParent}")
    }
  }

  test("reads over more than 32 files plan from the manifest: no listing job") {
    val engine = newEngine(EngineConf(buckets = 64))
    engine.applyBatch(0, Synth.events(spark, 4000, seed = 62))
    assert(engine.table.currentFiles().size > 32)
    val (jobs, _) = recorded {
      engine.currentState()
      // the copy-on-write merge reads the affected buckets' cells
      engine.currentCells(Some((0 until 64).toSet)).queryExecution.executedPlan
    }
    assert(jobs === 0, "building the reads started Spark jobs")
    // the scan still reads every listed file
    assert(engine.currentState().inputFiles.length === engine.table.currentFiles().size)
  }

  test("key bloom filters are sized for the file's keys and hold every one of them") {
    val engine = newEngine(EngineConf(buckets = 4))
    val ev = Synth.events(spark, 6000, seed = 63, repos = 20, pathsPerRepo = 400)
    Synth.batches(ev, 2, 6000).zipWithIndex.foreach { case (b, i) => engine.applyBatch(i, b) }
    val hc = spark.sessionState.newHadoopConf()
    def checkPathBloom(file: String): Unit = {
      val keys = spark.read.parquet(file).select("path").distinct().collect().map(_.getString(0))
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), hc))
      try {
        val chunk = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .find(_.getPath.toDotString == "path").get
        val bloom = r.readBloomFilter(chunk)
        assert(bloom != null, s"no path bloom filter in $file")
        assert(bloom.getBitsetSize <= 64 * 1024,
          s"path bloom of ${bloom.getBitsetSize} bytes for ${keys.length} keys in $file")
        assert(keys.forall(k => bloom.findHash(bloom.hash(Binary.fromString(k)))),
          s"a key of $file is missing from its bloom filter")
      } finally r.close()
    }
    checkPathBloom(engine.table.currentFiles().head) // written by ingest
    engine.compact()
    checkPathBloom(engine.table.currentFiles().head) // written by compact
    assert(engine.pointLookup("no-such-repo", "no/such/path").count() === 0)
  }
}
