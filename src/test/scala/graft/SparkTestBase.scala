package graft

import org.apache.spark.sql.SparkSession

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
}
