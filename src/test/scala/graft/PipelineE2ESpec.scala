package graft

import org.apache.spark.sql.functions.{col, hash, lit, pmod, struct, to_json}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CdcEngine, EngineConf}
import graft.icelite.IceliteTable
import graft.streaming.CdcStream
import graft.streaming.binlog.BinlogServer
import graft.synth.Synth

/** The COMPLETE production topology in one spec, every link a real
  * Structured Streaming query over a real transport:
  *
  *   TCP binlog --(`cdc-binlog` DSv2 stream)--> icelite sink (lake table)
  *     --(`icelite-feed` stream)--> icelite sink --> mirror table
  *
  * i.e. wire -> lake -> downstream, each stage checkpointed and idempotent,
  * run twice (bootstrap + incremental wave) with the mirror held equal to
  * the lake's visible state after every drain. */
class PipelineE2ESpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val PARTS = 3

  private def eventsAsJson(n: Long): Seq[(Int, String)] = {
    import spark.implicits._
    val ev = Synth.events(spark, n, seed = 57, repos = 12, pathsPerRepo = 30)
    ev.select(pmod(hash(col("repo"), col("path")), lit(PARTS)).as("p"),
        to_json(struct(ev.columns.map(col).toSeq: _*)).as("j"))
      .orderBy(col("j"))
      .as[(Int, String)].collect().toSeq
  }

  private def visible(e: CdcEngine): Seq[String] =
    e.currentState()
      .select("repo", "path", "commit", "lang", "content", "_op", "_ts", "content_sha256")
      .collect().map(_.toString).sorted.toSeq

  test("wire to lake to downstream: binlog TCP -> MERGE -> feed stream -> mirror") {
    val work = SparkTestBase.tmpDir("e2e-pipeline")
    val server = new BinlogServer(PARTS)
    try {
      val all = eventsAsJson(2400)
      val (wave1, wave2) = (all.take(1600), all.drop(1600))
      val lake = new CdcEngine(spark,
        IceliteTable.create(s"$work/lake", Seq("repo", "path"), 8), EngineConf(buckets = 8))
      val mirror = new CdcEngine(spark,
        IceliteTable.create(s"$work/mirror", Seq("repo", "path"), 8), EngineConf(buckets = 8))

      def ingest(): Unit = SparkTestBase.runSink(
        CdcStream.binlogEvents(spark, server.address, server.port),
        s"$work/ingest-ckpt", s"$work/lake")
      // the window-end snapshot id is the mirror MERGE's LWW order
      def replicate(): Unit = SparkTestBase.runSink(
        spark.readStream.format("icelite-feed")
          .option("path", s"$work/lake").option("stampWindowEnd", true).load()
          .select(col("repo"), col("path"), col("commit"), col("lang"), col("content"),
            col("_op").as("op"), col("_window_end").as("commit_lsn"),
            lit(0).as("seq"), col("_ts").as("ts")),
        s"$work/feed-ckpt", s"$work/mirror", availableNow = false)

      // wave 1: bootstrap both stages
      wave1.foreach { case (p, j) => server.append(p, j) }
      ingest(); replicate()
      assert(visible(lake).nonEmpty, "lake empty after ingest")
      assert(visible(mirror) === visible(lake), "mirror diverged after bootstrap")

      // wave 2: incremental through the same checkpoints, exactly once
      wave2.foreach { case (p, j) => server.append(p, j) }
      ingest(); replicate()
      assert(visible(mirror) === visible(lake), "mirror diverged after wave 2")

      // idle re-run of the whole pipeline moves nothing
      val before = (lake.table.currentSnapshotId, mirror.table.currentSnapshotId)
      ingest(); replicate()
      assert((lake.table.currentSnapshotId, mirror.table.currentSnapshotId) === before,
        "idle pipeline re-run committed something")
    } finally server.stop()
  }
}
