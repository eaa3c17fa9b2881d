package cdcbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{CdcEngine, EngineConf, MicroBatchRunner}
import graft.icelite.IceliteTable
import graft.model.ChangeEvent
import graft.streaming.CdcStream
import graft.streaming.binlog.BinlogServer
import graft.synth.Synth

/** replay-cow: `Synth.events` pre-split into parquet batch directories,
  * replayed through `MicroBatchRunner` into a fresh copy-on-write table
  * each pass (a growing key set, so every batch merges against more state).
  * Merge, shuffle and parquet write dominate. */
object ReplayCow {
  val Repos = 200
  val PathsPerRepo = 2000
  val HotPct = 30
  val Buckets = 64
  val Batches = 2
  val PerBatch = 30000L
  val Lookups = 24

  def events(spark: SparkSession, n: Long, seed: Long, cores: Int): DataFrame =
    Synth.events(spark, n, seed = seed, repos = Repos, pathsPerRepo = PathsPerRepo,
      hotPct = HotPct, parts = cores * 2)

  /** Write the events as `<dir>/__batch=<i>`: one directory per
    * micro-batch, so every batch has the same plan. */
  def writeBatches(c: Ctx, dir: String): Unit =
    events(c.spark, Batches * PerBatch, c.o.seed, c.cores)
      .withColumn("__batch", floor(col("commit_lsn") / PerBatch))
      .write.partitionBy("__batch").parquet(dir)

  def batchFrame(spark: SparkSession, dir: String, i: Int): DataFrame =
    spark.read.schema(ChangeEvent.schema).parquet(s"$dir/__batch=$i")

  /** One replay of `batches` into a fresh table at `root`; per-batch rows for
    * the raw result. Each batch is one `MicroBatchRunner.run` call. */
  def replay(c: Ctx, in: String, root: String, batches: Int): (CdcEngine, Seq[Map[String, Any]]) = {
    val engine = new CdcEngine(c.spark,
      IceliteTable.create(root, Seq("repo", "path"), Buckets), EngineConf(buckets = Buckets))
    val runner = new MicroBatchRunner(engine)
    val steps = (0 until batches).map { i =>
      val t0 = System.nanoTime()
      val df = c.tracer.call(c.spark, "source.resolve")(batchFrame(c.spark, in, i))
      val t1 = System.nanoTime()
      val r = c.tracer.call(c.spark, "engine.apply")(runner.run(Seq(i.toLong -> df))).head
      val t2 = System.nanoTime()
      Map("ms" -> (t2 - t0) / 1e6, "source_ms" -> (t1 - t0) / 1e6,
        "call_ms" -> (t2 - t1) / 1e6, "journal_ms" -> r.millis, "events" -> r.events)
    }
    (engine, steps)
  }

  def run(c: Ctx): Unit = {
    val n = Batches * PerBatch
    // the lookup keys come from the generator too, so set-up is not billed
    // for its first, JIT-cold run
    val keys = Reads.sampleKeys(events(c.spark, n, c.o.seed, c.cores), n, Lookups, c.o.seed)
    c.hostControl()
    c.mark("host")
    c.raw("setup_s") = (0 until Ingest.Setups).map { i =>
      val t0 = System.nanoTime()
      writeBatches(c, c.dir(s"in-$i"))
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 0) Ingest.delete(c.dir(s"in-${i - 1}"))
      s
    }
    val in = c.dir(s"in-${Ingest.Setups - 1}")
    c.raw("source_bytes") = Ingest.dirBytes(in)
    c.raw("events_glob") = s"$in/__batch=*/*.parquet"
    c.mark("setup")

    // warm-up: a whole pass (JIT and codegen of each batch's plan, the
    // merge into existing state included), then the reads
    Reads.warm(c, replay(c, in, s"${c.dir("warm")}/t", Batches)._1, keys)
    c.mark("warmup")

    Ingest.passes(c, keys) { i =>
      val (engine, steps) = replay(c, in, s"${c.dir(s"p-$i")}/t", Batches)
      val epochs = engine.table.committedEpochs
      c.check(s"pass $i: each of $Batches batches committed exactly once",
        epochs == (0 until Batches).map(_.toLong).toSet, s"epochs $epochs")
      (engine, Map("events" -> steps.map(_("events").asInstanceOf[Long]).sum,
        "steps" -> steps, "journal" -> Ingest.journal(engine)))
    }
    if (c.o.trace) {
      c.raw("binlog_probe") = BinlogProbe.run(c)
      c.raw("scaling") = scaling(c, in)
    }
  }

  /** DS2-style scaling diagnosis (traced runs only, never gates): the first
    * batch replayed into an empty table on the run's task slots and on
    * one; each layer's CPU per event at both, and the N -> 1 efficiency. */
  def scaling(c: Ctx, in: String): Map[String, Any] = {
    def level(n: Int): Map[String, Any] = {
      if (c.cores != n) c.restart(n)
      val cpu0 = c.processCpuS
      c.tracer.reset(c.spark)
      val (_, steps) = replay(c, in, c.dir(s"scale-$n"), 1)
      val cpuS = c.processCpuS - cpu0
      Ingest.delete(c.dir(s"scale-$n"))
      Map("cores" -> n, "wall_s" -> steps.head("ms").asInstanceOf[Double] / 1e3,
        "process_cpu_s" -> cpuS, "events" -> steps.head("events"),
        "groups" -> c.tracer.groupTotals(c.spark).map { case (g, t) => g -> t.toMap })
    }
    // the run's slots first, while the session still has them
    val wide = level(c.cores)
    val one = level(1)
    Map("wide" -> wide, "one" -> one)
  }
}

/** binlog-sink-mor: the production tail. The generated log is published to
  * one in-process `BinlogServer` (as many partitions as cores); each pass
  * tails it from the start with `CdcStream.binlogEvents` and writes a fresh
  * merge-on-read table through `writeStream.format("icelite")`, with sink
  * maintenance on. Six small admission-controlled batches over a bounded,
  * update-heavy key set; compaction at four delta files folds the first
  * four, so the lookups read a base plus two deltas. */
object BinlogSinkMor {
  val Repos = 10
  val PathsPerRepo = 200
  val HotPct = 30
  val Buckets = 16
  val Events = 9000L
  // admission control takes each partition's share of the cap, floored, so
  // a batch holds between PerTrigger - cores and PerTrigger events: five
  // batches of ~1600 and a last one of ~1000, for every seed
  val PerTrigger = 1600L
  val WarmPerTrigger = 2300L
  val Lookups = 24

  def events(spark: SparkSession, n: Long, seed: Long, cores: Int): DataFrame =
    Synth.events(spark, n, seed = seed, repos = Repos, pathsPerRepo = PathsPerRepo,
      hotPct = HotPct, parts = cores * 2)

  /** Publish `ev` as JSON records, partitioned by key hash as a CDC
    * producer does, in a deterministic order. Returns the records. */
  def publish(ev: DataFrame, server: BinlogServer): Seq[String] = {
    val parts = server.partitions
    val records = collection.mutable.ArrayBuffer.empty[String]
    val it = ev.select(pmod(hash(col("repo"), col("path")), lit(parts)).as("p"),
        concat_ws("/", col("repo"), col("path")).as("k"),
        to_json(struct(ev.columns.map(col): _*)).as("j"))
      .orderBy("p", "j").toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      server.append(r.getInt(0), r.getString(1), r.getString(2))
      records += r.getString(2)
    }
    records.toSeq
  }

  def run(c: Ctx): Unit = {
    var server: BinlogServer = null
    try {
      // the lookup keys come from the generator too, so set-up is not
      // billed for its first, JIT-cold run
      val keys = Reads.sampleKeys(events(c.spark, Events, c.o.seed, c.cores), Events,
        Lookups, c.o.seed)
      c.hostControl()
      c.mark("host")
      var records: Seq[String] = Nil
      c.raw("setup_s") = (0 until Ingest.Setups).map { _ =>
        if (server != null) server.stop()
        val t0 = System.nanoTime()
        server = new BinlogServer(c.cores)
        records = publish(events(c.spark, Events, c.o.seed, c.cores), server)
        (System.nanoTime() - t0) / 1e9
      }
      c.mark("setup")
      c.raw("source_bytes") = records.map(_.length.toLong).sum
      // the published records, for run.py's fold (not part of set-up)
      Files.write(Paths.get(c.dir("log.jsonl")), records.asJava)
      c.raw("events_json") = c.dir("log.jsonl")

      // warm-up: every batch kind (first, delta, compaction) in four larger
      // batches, which is cheaper than a whole pass, then the reads
      Reads.warm(c, stream(c, server, c.dir("warm"), WarmPerTrigger)._1, keys)
      c.mark("warmup")

      val srv = server
      Ingest.passes(c, keys) { i =>
        val served0 = srv.recordsServed
        val (engine, progress, runId) = stream(c, srv, c.dir(s"p-$i"))
        val batches = progress.filter(_._2 > 0)
        val epochs = engine.table.committedEpochs
        c.check(s"pass $i: each delivered batch committed exactly once",
          epochs == batches.map(_._1).toSet && epochs.size == batches.size,
          s"epochs ${epochs.size} vs batches ${batches.size}")
        (engine, Map("events" -> Events, "served" -> (srv.recordsServed - served0),
          "run_id" -> runId, "journal" -> Ingest.journal(engine),
          "steps" -> batches.map { case (b, rows, trig, add) =>
            Map("batch" -> b, "rows" -> rows, "ms" -> trig.toDouble, "add_batch_ms" -> add) }))
      }
      if (c.o.trace) c.raw("binlog_probe") = BinlogProbe.read(c, server, Events)
    } finally if (server != null) server.stop()
  }

  /** Drain the log through the sink into a fresh table under `dir`, at most
    * `perTrigger` events a batch. Returns the engine on the result,
    * per-batch (id, rows, triggerExecution ms, addBatch ms), and the query's
    * run id (its jobs' group). */
  def stream(c: Ctx, server: BinlogServer, dir: String, perTrigger: Long = PerTrigger)
      : (CdcEngine, Seq[(Long, Long, Long, Long)], String) = {
    val root = s"$dir/t"
    val q = CdcStream.binlogEvents(c.spark, server.address, server.port, perTrigger)
      .select(ChangeEvent.schema.fieldNames.toSeq.map(col): _*)
      .writeStream.format("icelite")
      .option("path", root)
      .option("keyCols", "repo,path").option("buckets", Buckets.toString)
      .option("mergeOnRead", "true")
      .option("morCompactThreshold", "4")
      .option("morMinorRatio", "0.5")
      .option("retainSnapshots", "3")
      // tombstone purge stays off (no tombstonePurgeLagLsn) so the fold
      // check is exact; a short vacuum grace keeps disk flat within a run
      .option("vacuumAfterExpire", "true")
      .option("vacuumGraceMillis", "5000")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq.map { p =>
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      (p.batchId, p.numInputRows, ms("triggerExecution"), ms("addBatch"))
    }
    val t = IceliteTable.load(root)
    (new CdcEngine(c.spark, t, EngineConf(buckets = t.currentBuckets)), progress,
      q.runId.toString)
  }
}

/** The binlog layer on its own: a bounded `spark.read.format("cdc-binlog")`
  * of the whole log plus `from_json` into the `noop` sink, three times
  * (median taken by run.py), with the records the server served per event
  * decoded. Runs in every traced run; workloads that do not tail a binlog
  * publish a small fixed log for it. */
object BinlogProbe {
  val Events = 20000L

  def run(c: Ctx): Map[String, Any] = {
    val server = new BinlogServer(c.cores)
    try {
      BinlogSinkMor.publish(BinlogSinkMor.events(c.spark, Events, c.o.seed, c.cores), server)
      read(c, server, Events)
    } finally server.stop()
  }

  def read(c: Ctx, server: BinlogServer, events: Long): Map[String, Any] = {
    val served0 = server.recordsServed
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      c.tracer.call(c.spark, "binlog.read") {
        c.spark.read.format("cdc-binlog")
          .option("host", server.address).option("port", server.port.toString).load()
          .select(from_json(col("value"), ChangeEvent.schema).as("evt"))
          .select(col("evt.*"))
          .write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    Map("fetch_decode_s" -> times, "events" -> events * 3,
      "served" -> (server.recordsServed - served0))
  }
}
