package graft
import org.apache.spark.sql.functions.{col, floor}
import graft.engine.{CdcEngine, EngineConf, MicroBatchRunner}
import graft.icelite.IceliteTable
import graft.synth.Synth

/** Per-round benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * plus the north-rule headline metric — sustained change-events/sec of a
  * deterministic CDC replay (seed=42 synthetic log, hot-repo skew) through
  * the MERGE engine into an icelite table. Prints ONE JSON line.
  * Per-layer CDC figures (replay, binlog, streaming sink) come from
  * `python3 cdcbench/run.py`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.session(cpus.toInt)
    // session warmup so the alphabetically-first query is not billed for
    // JVM/scheduler/codegen initialization (~3-5s)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().collect()
    // SPARK_GRAFT_TRIALS > 1: best-of-N per query (single-run noise on this
    // VM swings multi-x; the driver's per-round run stays at 1 for speed)
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "1").toInt
    // each trial is Either[error, seconds]: a failed trial's wall time must
    // never compete in the best-of-N min (a crash is usually FAST) — a query
    // that never succeeds is reported under "errors", not as a plausible time
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val outcomes: Seq[Either[String, Double]] = (1 to trials).map { _ =>
        val t0 = System.nanoTime()
        val r = try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
        // per-query caches (banded dedup, trigram gram sets, BFS edges) are
        // dropped between queries/trials: a long bench session must not
        // accumulate executor storage or re-cache-warn on later trials
        spark.sharedState.cacheManager.clearCache()
        r
      }
      val ok = outcomes.collect { case Right(t) => t }
      name -> (if (ok.nonEmpty) Right(ok.min) else Left(outcomes.head.swap.getOrElse("?")))
    }
    // control characters too: Spark error messages routinely carry \n, and
    // the driver parses this output as ONE json line
    def jstr(s: String) = "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.collect { case (k, Right(v)) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(m)) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, Right(v)) => v }.sum

    // CDC replay throughput (events/sec): 4 micro-batches, generation
    // excluded (events pre-written to parquet), one warmup replay first so
    // JIT/codegen compilation is not billed to the steady-state number.
    val work = java.nio.file.Files.createTempDirectory("bench-cdc").toString
    val n = sys.env.getOrElse("SPARK_GRAFT_CDC_EVENTS", "2000000").toLong
    val k = 4
    val per = (n + k - 1) / k
    // pre-split by micro-batch directory (binlog offset range); a per-batch
    // lsn filter would embed fresh literals -> serial codegen recompile per
    // batch
    Synth.events(spark, n, seed = 42, repos = 200, pathsPerRepo = 2000,
      hotPct = 30, parts = cpus.toInt * 2)
      .withColumn("__batch", floor(col("commit_lsn") / per))
      .write.partitionBy("__batch").parquet(s"$work/events")
    def replay(tableDir: String, batchDirs: Seq[String]): Double = {
      val engine = new CdcEngine(spark,
        IceliteTable.create(tableDir, Seq("repo", "path"), buckets = 64),
        EngineConf(buckets = 64))
      val batches = batchDirs.zipWithIndex.map { case (d, i) =>
        (i.toLong, spark.read.schema(graft.model.ChangeEvent.schema).parquet(d))
      }
      val t0 = System.nanoTime()
      new MicroBatchRunner(engine).run(batches)
      (System.nanoTime() - t0) / 1e9
    }
    replay(s"$work/warm", Seq(s"$work/events/__batch=0")) // warmup (JIT/codegen)
    val cdcSec = replay(s"$work/table", (0 until k).map(i => s"$work/events/__batch=$i"))
    val eps = n / cdcSec

    // Host-ceiling control (~5 s of pure-CPU busy work on a plain thread
    // pool, zero Spark): this sandbox's parallel capacity swings multi-x
    // within hours (steal/overcommit), so every bench line carries its own
    // calibration — `host_ceiling` is the 4->16-thread scaling efficiency
    // the MACHINE attains on embarrassingly parallel work at the moment of
    // the run (1.0 = healthy, ~0.5 = badly degraded window). A slow bench
    // number with a low ceiling is a host artifact, not a code regression
    // (round-3 lesson: 264.9 s driver run vs 134.4 s same-HEAD 40 min
    // later). `host_busy_1x` is the single-thread probe time in seconds
    // (absolute speed control: catches a uniformly slowed host that scales
    // fine).
    import graft.tools.ScalingBench.calibrate
    calibrate(16, units = 32) // JIT warm
    val c1 = calibrate(1, units = 8)
    val c4 = calibrate(4, units = 32)
    val c16 = calibrate(16, units = 32)
    val ceiling = (c4 / c16) / 4.0 // same unit count: eff = speedup / (16/4)

    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,""" +
      s""""errors":$errs,""" +
      s""""cdc_events":$n,"cdc_sec":${f"$cdcSec%.3f"},"cdc_events_per_sec":${f"$eps%.0f"},""" +
      s""""host_ceiling":${f"$ceiling%.3f"},"host_busy_1x":${f"${c1 / 8.0 * 32.0}%.3f"},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
    // sweep the CDC work dir (~0.5 GB/run; leaked dirs from repeated driver
    // rounds once filled the disk). SPARK_GRAFT_KEEP_WORK keeps it.
    if (!sys.env.contains("SPARK_GRAFT_KEEP_WORK"))
      graft.icelite.Icelite.deleteTree(java.nio.file.Paths.get(work))
  }
}
