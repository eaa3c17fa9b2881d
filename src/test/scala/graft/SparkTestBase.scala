package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.ChangeEvent
import graft.streaming.sink.IceliteSink

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .withExtensions(new graft.sql.IceliteSqlExtensions)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  // deleteOnExit() removes only EMPTY directories, so every spec's table
  // dir used to leak into /tmp (a few thousand runs filled the disk).
  // Track every dir handed out and recursively delete them all in one
  // shutdown hook instead.
  private val created = new scala.collection.mutable.ListBuffer[java.nio.file.Path]
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.synchronized(created.toList).foreach { p =>
      try graft.icelite.Icelite.deleteTree(p) catch { case _: Exception => () }
    }))

  def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    created.synchronized(created += p)
    p.toString
  }

  /** A file tail of change-event parquet under `input`, at most
    * `maxFilesPerTrigger` files a micro-batch (0 = all available). */
  def fileTail(input: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(ChangeEvent.schema)
    (if (maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r)
      .parquet(input)
  }

  /** The one way a spec drains a stream into a table: `stream` through
    * `writeStream.format("icelite")` into the table at `root`,
    * checkpointed at `ckpt`, with the sink's `options`, until the source
    * has nothing more ([[IceliteSink.drain]], Trigger.AvailableNow).
    * `availableNow = false` runs the default trigger until the query is
    * idle instead, for the `icelite-feed` source: it does not implement
    * AvailableNow, under which its per-trigger windows would collapse
    * into one batch. */
  def runSink(stream: DataFrame, ckpt: String, root: String,
      options: Map[String, String] = Map.empty, availableNow: Boolean = true): Unit =
    if (availableNow) IceliteSink.drain(stream, root, ckpt, options)
    else {
      val q = stream.writeStream.format("icelite")
        .option("path", root).option("checkpointLocation", ckpt).options(options)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
}
